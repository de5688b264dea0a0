"""The ANN family's one rank policy: top k per query by (score desc,
n_id asc), kept in ``similarity._top_k`` and nowhere else."""

import ast
import os

from ringo_spark.operators import similarity as sim


def _chain(node):
    """The calls of a method chain such as
    ``Window.partitionBy(..).orderBy(..)``, innermost first, and the
    chain's root expression."""
    calls = []
    while isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
        calls.append(node)
        node = node.func.value
    return calls[::-1], node


def _is_desc(arg) -> bool:
    return any(isinstance(c, ast.Call) and
               "desc" in (getattr(c.func, "attr", None),
                          getattr(c.func, "id", None))
               for c in ast.walk(arg))


def _rank_windows(path: str) -> set:
    """(innermost function, line) of every ``Window`` spec in the module
    at ``path`` that partitions by ``"q_id"`` and orders by a
    descending score."""
    found = set()

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call):
            calls, root = _chain(node)
            by_q = [c for c in calls if c.func.attr == "partitionBy" and
                    any(isinstance(a, ast.Constant) and a.value == "q_id"
                        for a in c.args)]
            desc = any(c.func.attr == "orderBy" and
                       any(_is_desc(a) for a in c.args) for c in calls)
            if isinstance(root, ast.Name) and root.id == "Window" \
                    and by_q and desc:
                found.add((func, by_q[0].lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(ast.parse(open(path).read(), filename=path), "<module>")
    return found


def test_top_k_is_the_only_rank_window():
    import ringo_spark

    pkg = os.path.dirname(ringo_spark.__file__)
    sites = []
    for root, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                sites += [(os.path.relpath(path, pkg), func, line)
                          for func, line in _rank_windows(path)]
    assert [s for s in sites if s[1] != "_top_k"] == []
    assert [s[:2] for s in sites] == [
        (os.path.join("operators", "similarity.py"), "_top_k")]


def test_top_k_breaks_ties_by_n_id_and_passes_extras(spark):
    rows = [(1, 5, 0.9, "a"), (1, 3, 0.9, "b"), (1, 4, 0.8, "c"),
            (1, 2, 0.9, "d"), (1, 7, 0.1, "e"), (2, 9, 0.5, "f"),
            (3, 8, 0.3, "g"), (3, 6, 0.3, "h")]
    df = spark.createDataFrame(
        rows, "q_id int, n_id int, cosine double, tag string")

    got = sim._top_k(df, 3, "tag")
    assert got.columns == ["q_id", "n_id", "rank", "cosine", "tag"]
    # q 1: the three 0.9 ties rank by ascending n_id and push 0.8 out;
    # q 2 and q 3 have fewer than k rows and keep them all
    assert sorted(map(tuple, got.collect())) == [
        (1, 2, 1, 0.9, "d"), (1, 3, 2, 0.9, "b"), (1, 5, 3, 0.9, "a"),
        (2, 9, 1, 0.5, "f"),
        (3, 6, 1, 0.3, "h"), (3, 8, 2, 0.3, "g")]

    named = sim._top_k(df.withColumnRenamed("cosine", "s"), 1, "tag",
                       score="s", rank="r")
    assert named.columns == ["q_id", "n_id", "r", "s", "tag"]
    assert sorted(map(tuple, named.collect())) == [
        (1, 2, 1, 0.9, "d"), (2, 9, 1, 0.5, "f"), (3, 6, 1, 0.3, "h")]
