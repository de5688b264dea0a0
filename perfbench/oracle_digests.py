"""Regenerate ``expected_digests.json`` for the ``registry_vector`` workload.

    python3 perfbench/oracle_digests.py

Generates the vector sources at ``workloads.VECTOR_SCALE``, checks every
query in ``workloads.QUERIES`` cell-exactly against its DuckDB
``oracle_sql()`` entry (``verify_local.compare``), and writes the digest
of each checked result.  The file is written only when every query
passes.  Rerun it when ``VECTOR_SCALE``, ``QUERIES`` or the generator
changes; the benchmark then requires every cold and timed result to
reproduce these digests.  A full oracle pass takes minutes (the cluster
oracles are slow in DuckDB), which is why the benchmark does not run it
on every run.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    sys.path[:0] = [run.ROOT, run.HERE]
    with run.scratch("oracle-") as tmp:
        import __spark_entry__
        import verify_local
        from ringo_spark.catalog import get_spark

        import datagen
        import workloads as W

        src = os.path.join(tmp, "src")
        datagen.generate(src, 0, 0.001, W.VECTOR_SCALE)
        spark = get_spark("perfbench-oracle", W.RegistryVector.cores)
        spark.sparkContext.setLogLevel("ERROR")
        qs, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        con = verify_local.duck_connection(src)
        digests, bad = {}, []
        for q in W.QUERIES:
            df = qs[q](spark, src)
            problems = verify_local.compare(q, df, con, oracles[q])
            digests[q] = W.digest(df)
            print(f"{'OK  ' if not problems else 'FAIL'} {q} {digests[q]}",
                  file=sys.stderr)
            if problems:
                bad.append((q, problems[:3]))
        run.stop_session(spark)
    if bad:
        print(f"oracle mismatches, file not written: {bad}", file=sys.stderr)
        return 1
    out = os.path.join(run.HERE, "expected_digests.json")
    with open(out, "w") as fh:
        json.dump({"vector_scale": W.VECTOR_SCALE, "digests": digests}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
