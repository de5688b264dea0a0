"""Registry of data-pipeline operator queries for the driver contract
(merged into ``__spark_entry__.queries()`` / ``oracle_sql()``)."""

from .dedup import (
    DEDUP_CLUSTERS_SQL, DEDUP_CONTAINMENT_SQL, DEDUP_EMBEDDING_LSH_SQL,
    DEDUP_EMBEDDING_SQL,
    DEDUP_EXACT_SQL, DEDUP_LSH_RECALL_BOUNDS_SQL, dedup_lsh_recall_bounds_df,
    DOC_DEDUP_SPANS_SQL, doc_dedup_spans_df,
    DOC_DEDUP_SPANS_INCREMENTAL_SQL, doc_dedup_spans_incremental_df,
    DOC_DUP_CHUNK_FRACTION_SQL, doc_dup_chunk_fraction_df,
    DOC_DUP_CHUNK_FRACTION_INCREMENTAL_SQL,
    doc_dup_chunk_fraction_incremental_df,
    DEDUP_EMBEDDING_INCREMENTAL_SQL, dedup_embedding_incremental_df,
    DEDUP_INCREMENTAL_SQL, DEDUP_MINHASH_INCREMENTAL_SQL,
    DEDUP_MINHASH_LSH_CAPPED_SQL, DEDUP_MINHASH_LSH_DELETED_SQL,
    DEDUP_MINHASH_LSH_SQL, dedup_minhash_lsh_deleted_df,
    DEDUP_CLUSTERS_DELETED_SQL, dedup_clusters_deleted_df,
    DEDUP_EMBEDDING_CLUSTERS_SQL, dedup_embedding_clusters_df,
    DEDUP_NGRAM_JACCARD_SQL, DEDUP_SIMHASH_SQL, DEDUP_WINNOWING_SQL,
    dedup_clusters_df, dedup_clusters_indexed_df, dedup_containment_df,
    dedup_embedding_df,
    dedup_embedding_lsh_df, dedup_exact_df,
    dedup_incremental_df, dedup_minhash_incremental_df, dedup_minhash_lsh_df,
    dedup_minhash_lsh_capped_df, dedup_minhash_lsh_capped_indexed_df,
    dedup_minhash_lsh_indexed_df,
    dedup_ngram_jaccard_df, dedup_simhash_df, dedup_winnowing_df,
)
from .multimodal import (
    MULTIMODAL_FEATURES_SQL, MULTIMODAL_FRAMES_SQL, MULTIMODAL_PHASH_DUPS_SQL, MULTIMODAL_PHASH_SQL,
    MULTIMODAL_PIXELS_SQL, MULTIMODAL_RESIZE_SQL, MULTIMODAL_WAV_SAMPLES_SQL,
    MULTIMODAL_WAV_SQL, multimodal_features_df, multimodal_frames_df,
    multimodal_phash_df, multimodal_phash_dups_df, multimodal_pixels_df, multimodal_resize_df,
    multimodal_wav_df, multimodal_wav_samples_df,
)
from .similarity import (
    ANN_COSINE_TOPK_SQL,
    ANN_IVF_KMEANS_SQL, ANN_IVF_RECALL_BOUNDS_SQL, ANN_IVF_SQL,
    ANN_LSH_BUCKETED12_SQL,
    ANN_LSH_BUCKETED_SQL, ANN_LSH_MULTIPROBE_SQL,
    ANN_RANK_FUSION_SQL, ANN_HARD_NEGATIVES_SQL, ann_hard_negatives_df,
    ann_cosine_topk_df, ann_ivf_df, ann_ivf_indexed_df, ann_ivf_kmeans_df,
    ann_ivf_recall_bounds_df, ann_rank_fusion_df,
    ann_lsh_bucketed12_df, ann_lsh_bucketed_df, ann_lsh_indexed_df,
    ann_lsh_multiprobe_df,
    ANN_IVF_PQ_SQL, ANN_PQ_RECALL_BOUNDS_SQL, ann_ivf_pq_df,
    ann_pq_recall_bounds_df,
    ANN_INDEX_STALENESS_SQL, ann_index_staleness_df,
    LSH_WIDTH_STALENESS_SQL, lsh_width_staleness_df,
)
from ..streaming.ann import (
    STREAMING_VECTOR_INGEST_SQL, streaming_vector_ingest_df,
)
from ..streaming.sampling import streaming_reservoir_df
from ..streaming.vocab import (
    STREAMING_CMS_SNAPSHOT_SQL, streaming_cms_snapshot_df,
)
from .sampling import SAMPLE_WEIGHTED_SQL
from .layout import LAYOUT_QUERIES
from .pipeline import PIPELINE_QUERIES
from .training import TRAINING_QUERIES
from .relational import RELATIONAL_QUERIES
from .sampling import SAMPLING_QUERIES
from .rollup_grain import GRAIN_QUERIES
from .session import SESSION_QUERIES
from .tpch import TPCH_QUERIES
from .text import (
    BENCHMARK_CONTAMINATION_SQL, DOC_FINGERPRINT_SQL, DOC_ROLLING_HASH_SQL,
    TEXT_QUALITY_DRIFT_SQL, text_quality_drift_df,
    LANG_CONFUSION_SQL, LANG_ID_SQL, METRICS_UNPIVOT_SQL, TEXT_QUALITY_SQL,
    TFIDF_BM25_SQL, TOKEN_COUNT_SQL, VOCAB_TOPK_SQL,
    DOC_BIGRAM_LOGPROB_SQL, DOC_ENTROPY_SQL,
    BPE_PAIR_COUNTS_SQL, DOC_LOGPROB_SQL, QUALITY_GATE_APPROX_BOUNDS_SQL,
    QUALITY_SOURCE_PERCENTILE_SQL, TEXT_REPETITION_SQL,
    VOCAB_TOPK_CMS_BOUNDS_SQL, bpe_pair_counts_df,
    BPE_TRAIN_SQL, BPE_APPLY_SQL, bpe_train_df, bpe_apply_df,
    BPE_FERTILITY_SQL, bpe_fertility_df,
    QUALITY_SOURCE_GATE_GK_SQL, quality_source_gate_gk_contract_df,
    quality_gate_approx_bounds_df, quality_source_percentile_df,
    benchmark_contamination_df, doc_bigram_logprob_df, doc_entropy_df,
    doc_fingerprint_df, doc_logprob_df,
    doc_rolling_hash_df, lang_confusion_df, lang_id_df, metrics_unpivot_df,
    text_quality_df, text_repetition_df, tfidf_bm25_df, token_count_df,
    vocab_topk_cms_bounds_df, vocab_topk_df,
)

# --- driver correctness-window curation -------------------------------------
#
# The driver's per-round correctness sweep hashes the FIRST 50 registered
# queries only.  With 67 registered, ordering decides which get a
# driver-green row this round.  Policy (see CORRECTNESS_WINDOW.md):
#
#   * rotate NEVER-driver-checked queries to the front so cumulative
#     driver coverage grows every round (r02+r03 green-rowed the original
#     50; r04 front-loaded the 17 with no row yet; r05 front-loads the
#     new operators and rotates the r04-displaced cohort back in);
#   * the back of the window keeps the load-bearing core facts and one
#     representative per operator family so their regressions still show
#     up in the driver record;
#   * EVERYTHING (window + displaced) is verified locally each round with
#     the stricter cell-exact `verify_local.py` sweep, committed as
#     CORRECTNESS_LOCAL_r{N}.json — displaced queries are never
#     unverified, only un-hashed-by-the-driver that round.

DRIVER_WINDOW: list[str] = [
    # -- r20 (final round) window: executes the pre-committed r20
    #    rotation (CORRECTNESS_WINDOW.md "Round-20 rotation plan").
    #    Front-load (plan step 2, code changed in r20):
    #    * the Arrow-kernel brute-force lanes (functions/arrowkern.py):
    #      ann_cosine_topk, ann_hard_negatives,
    #      embed_quantize_recall_bounds, dedup_embedding, and the brute
    #      ground-truth sides of ann_ivf_recall_bounds /
    #      ann_pq_recall_bounds;
    #    * the single _with_cell cell-assignment path + keep_norm
    #      reuse (ann_ivf_kmeans serves the retained norm; ann_ivf,
    #      ann_ivf_pq / ann_ivf_indexed / ann_rank_fusion run the same
    #      argmax form);
    #    * the fact-populate changes (bytes_per_task widen cap +
    #      degenerate exact count-distinct elision): every
    #      fact_population_df caller with an oracle — the five fact
    #      rows, the chain, scd2_fact_incremental, by_second/by_week,
    #      hour_regrain, and the approx_bounds twin.
    # --
    "ann_cosine_topk",
    "ann_ivf",
    "ann_hard_negatives",
    "embed_quantize_recall_bounds",
    "dedup_embedding",
    "ann_ivf_recall_bounds",
    "ann_pq_recall_bounds",
    "ann_ivf_kmeans",
    "ann_ivf_pq",
    "ann_ivf_indexed",
    "ann_rank_fusion",
    "fact_events_by_minute",
    "fact_events_by_minute_incremental",
    "fact_orders_by_day",
    "fact_lineitem_by_day",
    "fact_lineitem_chain",
    "scd2_fact_incremental",
    "fact_events_by_second",
    "fact_orders_by_week",
    "fact_events_hour_regrain",
    "fact_events_by_minute_approx_bounds",
    # -- the pre-committed r20 mandatory rotate-backs: sample_hash_split
    #    plus the r13-rowed entries popped from the r19 window by the
    #    mid-r19 code-changed front-loads (the final round's only
    #    floor-mandatory rows; fact_events_by_second / fact_orders_by_week
    #    seat above as code-changed) --
    "sample_hash_split",
    "listagg",
    "value_histogram",
    "grouping_sets",
    "vocab_topk_cms_bounds",
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "window_frames",
    "user_value_ema",
    "text_quality_drift",
    "dedup_lsh_recall_bounds",
    "timeseries_gapfill",
    "zorder_layout",
    "bpe_pair_counts",
    "sample_weighted",
    "sample_weighted_stratified",
    # -- pinned core schema-level pipeline + one representative per
    #    operator family (the standing pins; fact rows seat above) --
    "dim_event_type",
    "dim_event_type_incremental",
    "dim_order_status",
    "dim_order_priority",
    "dim_line_status",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "text_quality",
    "tfidf_bm25",
    "multimodal_pixels",
    "corpus_curation",
    "sessionize",
    "scd2_dim",
]

# Registered, locally cell-exact-verified every round, but outside the
# driver's 50-row hash window this round.  Every with-oracle entry here
# has at least one driver-green (hash_match=true) row (r02-r18) with
# unchanged code paths since; the one no-oracle entry
# (fact_events_by_minute_approx) is e-tolerance pytest-covered by design
# AND has a *_bounds twin carrying a real oracle.  Newly displaced: the r18
# window's rotating cohort (every entry got a fresh r18 driver row) --
# recency rotation per the pre-committed r19 plan in
# CORRECTNESS_WINDOW.md.
DISPLACED: list[str] = [
    # -- newly displaced: the r19 window's code-changed/rotating cohort
    #    (every entry got a fresh r19 driver row; recency rotation per
    #    the pre-committed r20 plan in CORRECTNESS_WINDOW.md) --
    "dedup_minhash_lsh_indexed",
    "dedup_minhash_lsh_capped_indexed",
    "dedup_clusters_indexed",
    "dedup_minhash_lsh_deleted",
    "dedup_clusters_deleted",
    "ann_lsh_indexed",
    "lsh_width_staleness",
    "streaming_vector_ingest",
    "ann_index_staleness",
    "doc_logprob",
    "doc_bigram_logprob",
    "dedup_ngram_jaccard",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q21_suppliers_kept_waiting",
    "q22_global_sales_opportunity",
    "sample_cluster_split_indexed",
    "quantiles_approx_bounds",
    "q14_promo_effect",
    "q17_small_quantity_revenue",
    "q19_discounted_revenue",
    "quality_gate_approx_bounds",
    "map_funcs",
    # -- prior displaced cohorts (r08-r19 rows, order preserved) --
    "asof_join",
    "string_funcs",
    "metrics_unpivot",
    "doc_rolling_hash",
    "doc_fingerprint",
    "doc_dedup_spans",
    "doc_dedup_spans_incremental",
    "multimodal_wav",
    "multimodal_features",
    "quality_source_percentile",
    "quality_source_gate_gk",
    "window_rank",
    "rollup_agg",
    "cube_agg",
    "topk",
    "range_join",
    "benchmark_contamination",
    "ann_lsh_bucketed12",
    "doc_dup_chunk_fraction",
    "doc_dup_chunk_fraction_incremental",
    "text_repetition",
    "multimodal_phash",
    "q18_large_volume_customer",
    "multimodal_phash_dups",
    "q7_volume_shipping",
    "window_stats",
    "q4_order_priority",
    "events_skew_salted_join",
    "tenant_rollup_skew_salted",
    "streaming_cms_snapshot",
    "window_lag",
    "set_ops",
    "conditional_funcs",
    "vocab_topk",
    "lang_confusion",
    "scalar_subquery",
    "dim_visitor_partitioned_ids",
    "date_funcs",
    "json_funcs",
    "embed_quantize",
    "multimodal_resize",
    "multimodal_frames",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "token_count",
    "join_semi",
    "join_anti",
    "doc_chunk",
    "training_prep",
    "sample_cluster_split",
    "q2_min_cost_region",
    "q9_product_profit",
    "q11_important_stock",
    "q16_supplier_part_counts",
    "q20_surplus_suppliers",
    "doc_entropy",
    "segment_overlap_bounds",
    "active_users_rolling",
    "dedup_winnowing",
    "dedup_exact",
    "dedup_simhash",
    "dedup_incremental",
    "lang_id",
    "join_inner_agg",
    "quantiles",
    "sessionize_native",
    "bpe_train",
    "bpe_apply",
    "bpe_fertility",
    "streaming_weighted_reservoir",
    "seq_pack",
    "profile_table",
    "dedup_minhash_incremental",
    "q8_national_market_share",
    "q12_late_shipments",
    "sample_temperature",
    "retention_cohorts",
    "event_funnel",
    "anomaly_zscore",
    "dedup_containment",
    "dedup_minhash_lsh_capped",
    "dedup_embedding_lsh",
    "dedup_embedding_clusters",
    "dedup_embedding_incremental",
    "ann_lsh_bucketed",
    "ann_lsh_multiprobe",
    "multimodal_wav_samples",
    "user_value_ema_segmented",
    "sample_per_source_quota",
    "sample_mixture",
    "fact_events_tenant_by_hour",
    "text_scrub",
    "fact_events_by_minute_approx",
]


_DEDUP_QUERIES: dict[str, tuple] = {
    "dedup_exact": (dedup_exact_df, DEDUP_EXACT_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh_df, DEDUP_MINHASH_LSH_SQL),
    # same result served from the persisted band+shingle index (build
    # amortized — the production steady-state shape; same oracle)
    "dedup_minhash_lsh_indexed": (dedup_minhash_lsh_indexed_df,
                                  DEDUP_MINHASH_LSH_SQL),
    # scale-hardened production shape: exact-collapse first + band-bucket
    # cap — candidate generation bounded at C(cap,2) per bucket even on
    # mass-duplicated corpora (oracle encodes the identical cap)
    "dedup_minhash_lsh_capped": (dedup_minhash_lsh_capped_df,
                                 DEDUP_MINHASH_LSH_CAPPED_SQL),
    # same capped result served from the persisted COLLAPSED index
    # (pair-equality with the live capped path pytest-pinned)
    "dedup_minhash_lsh_capped_indexed": (dedup_minhash_lsh_capped_indexed_df,
                                         DEDUP_MINHASH_LSH_CAPPED_SQL),

    # delete propagation end-to-end (r13): a dedicated index tombstones
    # the fixed demo doc and serves pairs through the filtered reader;
    # oracle = the plain LSH pairs minus pairs touching the deleted doc
    "dedup_minhash_lsh_deleted": (dedup_minhash_lsh_deleted_df,
                                  DEDUP_MINHASH_LSH_DELETED_SQL),
    # derived-table delete propagation (r14): the cluster table REBUILT
    # from the tombstone-filtered pair set; oracle = components over
    # the filtered pairs (rebuild == never-having-indexed the doc)
    "dedup_clusters_deleted": (dedup_clusters_deleted_df,
                               DEDUP_CLUSTERS_DELETED_SQL),
    # asymmetric containment over the same LSH candidates: the
    # quote/subset detector a Jaccard threshold structurally misses
    "dedup_containment": (dedup_containment_df, DEDUP_CONTAINMENT_SQL),
    "dedup_simhash": (dedup_simhash_df, DEDUP_SIMHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard_df, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_embedding": (dedup_embedding_df, DEDUP_EMBEDDING_SQL),
    # the registered scale path for embedding near-dup: candidates only
    # within an LSH bucket; the oracle encodes the same bucketing
    "dedup_embedding_lsh": (dedup_embedding_lsh_df, DEDUP_EMBEDDING_LSH_SQL),
    "dedup_clusters": (dedup_clusters_df, DEDUP_CLUSTERS_SQL),
    # semantic twin (r13): components over the embedding-LSH cosine
    # pair graph — paraphrase clusters lexical MinHash cannot see
    "dedup_embedding_clusters": (dedup_embedding_clusters_df,
                                 DEDUP_EMBEDDING_CLUSTERS_SQL),
    # clustering chained from the persisted index's pairs (identical
    # pair set pytest-pinned => same oracle) — the production shape and
    # the bench headline entry
    "dedup_clusters_indexed": (dedup_clusters_indexed_df, DEDUP_CLUSTERS_SQL),
    "dedup_incremental": (dedup_incremental_df, DEDUP_INCREMENTAL_SQL),
    "dedup_minhash_incremental": (dedup_minhash_incremental_df,
                                  DEDUP_MINHASH_INCREMENTAL_SQL),
    # ingestion-time embedding near-dup: batch vectors probe the
    # persisted corpus bucket index — completes the incremental story
    # across all four dedup modalities (exact/minhash/chunk/embedding)
    "dedup_embedding_incremental": (dedup_embedding_incremental_df,
                                    DEDUP_EMBEDDING_INCREMENTAL_SQL),
    "dedup_winnowing": (dedup_winnowing_df, DEDUP_WINNOWING_SQL),
    # candidate-recall contract for the banded-LSH family: exact counts
    # of true near-dup pairs recovered by band collisions over a fixed
    # audit set, floor pinned TRUE by the oracle (falsifiable at
    # bands=1; pytest-pinned)
    "dedup_lsh_recall_bounds": (dedup_lsh_recall_bounds_df,
                                DEDUP_LSH_RECALL_BOUNDS_SQL),
    # cross-doc duplicated-span fraction (the Gopher/RefinedWeb "copy
    # fraction" gate): sub-document granularity no whole-doc Jaccard
    # sees; one chunk-hash shuffle, no quadratic form
    "doc_dup_chunk_fraction": (doc_dup_chunk_fraction_df,
                               DOC_DUP_CHUNK_FRACTION_SQL),
    # ingestion-time twin: the incoming batch scored against the
    # persisted corpus chunk-hash index + in-batch cross-doc counts
    "doc_dup_chunk_fraction_incremental": (
        doc_dup_chunk_fraction_incremental_df,
        DOC_DUP_CHUNK_FRACTION_INCREMENTAL_SQL),
    # duplicate-SPAN removal (r12): one canonical occurrence of every
    # duplicated chunk survives corpus-wide; emits the cleaned token
    # stream — the operator behind the copy-fraction gate's verdict
    "doc_dedup_spans": (doc_dedup_spans_df, DOC_DEDUP_SPANS_SQL),
    # ingestion-time twin: batch chunks probe the persisted corpus
    # chunk-hash index; provably equals the batch operator restricted
    # to batch docs (corpus ids precede batch ids, so index membership
    # IS the global least-owner rule) — pytest-pinned
    "doc_dedup_spans_incremental": (doc_dedup_spans_incremental_df,
                                    DOC_DEDUP_SPANS_INCREMENTAL_SQL),
}

_ANN_QUERIES: dict[str, tuple] = {
    "ann_cosine_topk": (ann_cosine_topk_df, ANN_COSINE_TOPK_SQL),
    "ann_lsh_bucketed": (ann_lsh_bucketed_df, ANN_LSH_BUCKETED_SQL),
    # same semantics served from the persisted partitionBy("bucket") index
    "ann_lsh_indexed": (ann_lsh_indexed_df, ANN_LSH_BUCKETED_SQL),
    "ann_lsh_bucketed12": (ann_lsh_bucketed12_df, ANN_LSH_BUCKETED12_SQL),
    "ann_lsh_multiprobe": (ann_lsh_multiprobe_df, ANN_LSH_MULTIPROBE_SQL),
    "ann_ivf": (ann_ivf_df, ANN_IVF_SQL),
    # same semantics served from the persisted partitionBy("cell") index —
    # query path prunes to probed cells (PartitionFilters, see test_plans)
    "ann_ivf_indexed": (ann_ivf_indexed_df, ANN_IVF_SQL),
    # k-means-trained centroids (2 Lloyd iterations, both engines replay
    # the identical rounded training trajectory)
    "ann_ivf_kmeans": (ann_ivf_kmeans_df, ANN_IVF_KMEANS_SQL),
    # recall contract for the trained index: mean recall@5 vs brute-force
    # ground truth at a fixed nprobe, floor pinned TRUE by the oracle
    # (falsifiable — a lowered nprobe breaks it; pytest-pinned)
    "ann_ivf_recall_bounds": (ann_ivf_recall_bounds_df,
                              ANN_IVF_RECALL_BOUNDS_SQL),
    # reciprocal-rank fusion of the LSH and IVF candidate lists — score
    # normalization-free retriever combination over top-k rows only
    "ann_rank_fusion": (ann_rank_fusion_df, ANN_RANK_FUSION_SQL),
    # hard-negative mining for contrastive/retriever training: top-k
    # most-similar vectors OUTSIDE the near-duplicate band (the
    # false-negative exclusion), per-query excluded-band count in-row
    "ann_hard_negatives": (ann_hard_negatives_df, ANN_HARD_NEGATIVES_SQL),
    # IVF-PQ (r14): ADC scan over the persisted cell-partitioned code
    # index + exact-cosine refine of the shortlist; oracle replays the
    # per-subspace codebook training trajectory
    "ann_ivf_pq": (ann_ivf_pq_df, ANN_IVF_PQ_SQL),
    "ann_pq_recall_bounds": (ann_pq_recall_bounds_df,
                             ANN_PQ_RECALL_BOUNDS_SQL),
    # IVF rebuild trigger (r15, VERDICT r14 item 4): appended-batch
    # quantization error + hottest-cell load vs the build-time ladder,
    # through the production report (stored centroids, dedicated
    # half-corpus index); same-distribution halves pin stale = false
    "ann_index_staleness": (ann_index_staleness_df,
                            ANN_INDEX_STALENESS_SQL),
    # the LSH twin of the rebuild trigger (r15): built-width vs the
    # auto-bits gate + bucket occupancy off the shared index; stale
    # pinned false at auto width, the narrow-build flip and the
    # rebucket-clears lifecycle pytest-pinned
    "lsh_width_staleness": (lsh_width_staleness_df,
                            LSH_WIDTH_STALENESS_SQL),
}

# batch-facing driver rows for the streaming state machinery (r14,
# VERDICT r13 item 8): each replays deterministic hash-split
# micro-batches through the foreachBatch writer into a
# fingerprint-tagged sink and snapshots the persisted state — the CMS
# snapshot against the exact groupBy (bounds pinned TRUE), the A-ES
# reservoir BIT-EQUAL to sample_weighted (same oracle verbatim)
_STREAMING_QUERIES: dict[str, tuple] = {
    "streaming_cms_snapshot": (streaming_cms_snapshot_df,
                               STREAMING_CMS_SNAPSHOT_SQL),
    "streaming_weighted_reservoir": (streaming_reservoir_df,
                                     SAMPLE_WEIGHTED_SQL),
    # the vector-ingestion lifecycle (probe-then-admit foreachBatch
    # over a stream-owned LSH index); oracle = one chunk-ordering
    # predicate over the width-parameterized pair graph
    "streaming_vector_ingest": (streaming_vector_ingest_df,
                                STREAMING_VECTOR_INGEST_SQL),
}

_TEXT_QUERIES: dict[str, tuple] = {
    "text_quality": (text_quality_df, TEXT_QUALITY_SQL),
    "lang_id": (lang_id_df, LANG_ID_SQL),
    "token_count": (token_count_df, TOKEN_COUNT_SQL),
    "doc_fingerprint": (doc_fingerprint_df, DOC_FINGERPRINT_SQL),
    "doc_rolling_hash": (doc_rolling_hash_df, DOC_ROLLING_HASH_SQL),
    "vocab_topk": (vocab_topk_df, VOCAB_TOPK_SQL),
    "tfidf_bm25": (tfidf_bm25_df, TFIDF_BM25_SQL),
    "lang_confusion": (lang_confusion_df, LANG_CONFUSION_SQL),
    # benchmark decontamination: per-train-doc n-gram overlap against the
    # (broadcast, small-by-nature) eval-set shingle universe
    "benchmark_contamination": (benchmark_contamination_df,
                                BENCHMARK_CONTAMINATION_SQL),
    # Gopher-style repetition filters (top-bigram / duplicate-trigram
    # fractions) — per-doc expressions, map-only at any corpus size
    "text_repetition": (text_repetition_df, TEXT_REPETITION_SQL),
    # corpus-trained unigram LM scoring (CCNet-style perplexity gate)
    "doc_logprob": (doc_logprob_df, DOC_LOGPROB_SQL),
    # interpolated-bigram sequel: catches well-formed-unigram word salad
    "doc_bigram_logprob": (doc_bigram_logprob_df, DOC_BIGRAM_LOGPROB_SQL),
    # Shannon token entropy: the concentration twin of text_repetition
    "doc_entropy": (doc_entropy_df, DOC_ENTROPY_SQL),
    # count-min heavy-hitter bounds: the third mergeable-sketch driver
    # row (HLL distincts, GK quantiles, CMS frequencies)
    "vocab_topk_cms_bounds": (vocab_topk_cms_bounds_df,
                              VOCAB_TOPK_CMS_BOUNDS_SQL),
    "metrics_unpivot": (metrics_unpivot_df, METRICS_UNPIVOT_SQL),
    # per-source ingestion drift gate over exact integer token moments
    "text_quality_drift": (text_quality_drift_df, TEXT_QUALITY_DRIFT_SQL),
    # per-source quality percentile gate: drop each domain's own worst
    # tail (one source-key shuffle; GK-threshold variant is the
    # mega-source scale cut, see docstring)
    "quality_source_percentile": (quality_source_percentile_df,
                                  QUALITY_SOURCE_PERCENTILE_SQL),
    # the gate's SCALE path contract: GK sketch threshold per source,
    # rank-space bracket pinned TRUE (the quantiles_approx_bounds
    # pattern applied to the quality gate)
    "quality_gate_approx_bounds": (quality_gate_approx_bounds_df,
                                   QUALITY_GATE_APPROX_BOUNDS_SQL),
    # BPE merge-pair counting: the tokenizer-training inner loop —
    # vocab-sized pair explode, two map-side-combined aggregates, top-k
    "bpe_pair_counts": (bpe_pair_counts_df, BPE_PAIR_COUNTS_SQL),
    # the full BPE loop (r14): N-merge training (oracle unrolls the
    # identical greedy merge iterations) + corpus tokenization with the
    # learned merges (order-insensitive per-word segmentation hash)
    "bpe_train": (bpe_train_df, BPE_TRAIN_SQL),
    "bpe_apply": (bpe_apply_df, BPE_APPLY_SQL),
    # per-source tokenizer efficiency off the persisted tokenizer —
    # fertility drives mixture decisions at fixed context length
    "bpe_fertility": (bpe_fertility_df, BPE_FERTILITY_SQL),
    # the GK production gate's own contract row (r14): exact-kept
    # subset + kept-count rank bracket, both pinned TRUE
    "quality_source_gate_gk": (quality_source_gate_gk_contract_df,
                               QUALITY_SOURCE_GATE_GK_SQL),
}

_MULTIMODAL_QUERIES: dict[str, tuple] = {
    "multimodal_features": (multimodal_features_df, MULTIMODAL_FEATURES_SQL),
    "multimodal_wav": (multimodal_wav_df, MULTIMODAL_WAV_SQL),
    # full pixel decode round trip (zlib IDAT, CRCs, filter reconstruction)
    "multimodal_pixels": (multimodal_pixels_df, MULTIMODAL_PIXELS_SQL),
    # real int16 PCM sample decode, closed-form oracle
    "multimodal_wav_samples": (multimodal_wav_samples_df,
                               MULTIMODAL_WAV_SAMPLES_SQL),
    # real nearest-neighbor resize: decode -> resample -> re-encode ->
    # re-decode round trip, closed-form sampling oracle
    "multimodal_resize": (multimodal_resize_df, MULTIMODAL_RESIZE_SQL),
    # video-container frame sampling: length-skip walk, decode only the
    # sampled frames, per-frame stats with closed-form oracle
    "multimodal_frames": (multimodal_frames_df, MULTIMODAL_FRAMES_SQL),
    # perceptual average-hash (image near-dup fingerprint): real decode ->
    # grid sample -> integer-exact mean threshold, closed-form oracle
    "multimodal_phash": (multimodal_phash_df, MULTIMODAL_PHASH_SQL),
    # image near-dup groups over the fingerprint (image twin of
    # dedup_exact: one shuffle on the 8-byte hash key)
    "multimodal_phash_dups": (multimodal_phash_dups_df,
                              MULTIMODAL_PHASH_DUPS_SQL),
}

# family name -> {query name -> (builder, oracle)}; "core" (the
# schema-level dim/fact pipeline, ringo_spark.testbed.CORE_QUERIES) is
# added by queries_by_family() to avoid a circular import here
QUERY_FAMILIES: dict[str, dict[str, tuple]] = {
    "dedup": _DEDUP_QUERIES,
    "ann": _ANN_QUERIES,
    "text": _TEXT_QUERIES,
    "multimodal": _MULTIMODAL_QUERIES,
    "relational": RELATIONAL_QUERIES,
    "grain": GRAIN_QUERIES,
    "session": SESSION_QUERIES,
    "tpch": TPCH_QUERIES,
    "sampling": SAMPLING_QUERIES,
    "pipeline": PIPELINE_QUERIES,
    "training": TRAINING_QUERIES,
    "layout": LAYOUT_QUERIES,
    "streaming": _STREAMING_QUERIES,
}

OPERATOR_QUERIES: dict[str, tuple] = {
    name: entry
    for fam in QUERY_FAMILIES.values()
    for name, entry in fam.items()
}

# Builders that EXECUTE at construction time: their result depends on a
# driver-side probe of an aggregated sketch (CMS estimateCount has no
# JVM expression form), so calling the builder runs the corpus scans —
# it does not return a lazy plan.  Plan-only tooling (plan dumps, schema
# enumeration) must skip these names; anything that intends to execute
# anyway (driver sweep, verify_local, bench) treats them like any other
# query (r07 ADVICE).
EAGER_QUERIES: frozenset[str] = frozenset({
    "vocab_topk_cms_bounds",
    # the partitioned id path localCheckpoints and collects per-range
    # counts at construction (populate/dimension.py)
    "dim_visitor_partitioned_ids",
    # k-means training (Lloyd collects of K x dim centroid doubles)
    # runs at construction (both serve from trained_ivf_centroids,
    # which trains on a cache miss at construction)
    "ann_ivf_kmeans",
    "ann_ivf_recall_bounds",
    # PQ codebook training + index build run at construction on a cache
    # miss (r14)
    "ann_ivf_pq",
    "ann_pq_recall_bounds",
    # the BPE driver loop collects one argmax row per merge iteration
    # (all three serve from build_bpe_tokenizer, which trains on a
    # cache miss at construction)
    "bpe_train",
    "bpe_apply",
    "bpe_fertility",
    # the streaming rows replay micro-batch writes into their sinks and
    # merge driver-side at construction
    "streaming_cms_snapshot",
    "streaming_weighted_reservoir",
    "streaming_vector_ingest",
    # builds its dedicated half-corpus index + collects the stored
    # centroids at construction (r15)
    "ann_index_staleness",
    # builds/serves the shared LSH index at construction (r15)
    "lsh_width_staleness",
})


# family -> the repo-relative source files whose change invalidates that
# family's verification rows.  Used by `verify_local.py --changed-since
# <rev>` (VERDICT r10 item 8) to sweep only the families a mid-round
# batch touched; the FULL sweep remains the round-closing gate.  A
# changed file that appears in no family list and is not in
# SHARED_NEUTRAL_SOURCES is treated as shared infrastructure — the
# incremental sweep then falls back to everything (conservative: never
# silently under-sweep).
# Shared execution layers: a family whose operator module IMPORTS a
# layer at query-build time executes its code, so a change there must
# re-sweep that family too, not just "core" (r11 review finding: the
# grain queries run populate/* and were invisible to a dimension.py
# change).  The same holds for SIBLING operator modules (ADVICE r11):
# dedup executes similarity's bucket/index code, pipeline executes
# text/sampling/training/dedup, sampling executes dedup's cluster
# builders, and nearly everything executes textfn's expression
# constructors — each family therefore lists the TRANSITIVE closure of
# the modules it runs.  tests/test_registry_window.py greps each
# operator module's `from ..layer` AND `from .sibling` imports
# (transitively) and fails if an executed file is not reflected here.
_POPULATE_SOURCES = ["ringo_spark/populate/dimension.py",
                     "ringo_spark/populate/fact.py",
                     "ringo_spark/populate/common.py",
                     "ringo_spark/extractor.py", "ringo_spark/model.py",
                     "ringo_spark/validator.py"]
_TESTBED = "ringo_spark/testbed.py"
_TEXTFN = "ringo_spark/operators/textfn.py"
# dedup's execution set: dedup itself + similarity (bucket exprs, index
# fingerprint/touch/gc lifecycle) + textfn (shingles/phash/cosine) +
# deletion (tombstone-filtered index reads, r13)
_DELETION = "ringo_spark/operators/deletion.py"
_DEDUP_EXEC = ["ringo_spark/operators/dedup.py",
               "ringo_spark/operators/similarity.py", _TEXTFN, _DELETION]
FAMILY_SOURCES: dict[str, list[str]] = {
    "dedup": _DEDUP_EXEC,
    "ann": ["ringo_spark/operators/similarity.py", _TEXTFN, _DELETION],
    # text executes similarity's index-lifecycle helpers since r14
    # (build_bpe_tokenizer: fingerprint/touch/GC) and, transitively,
    # deletion (similarity's index readers); it also executes dedup's
    # _docs_wide (the widened scan of the per-doc scoring lanes)
    "text": ["ringo_spark/operators/text.py", _TEXTFN,
             "ringo_spark/operators/similarity.py", _DELETION,
             "ringo_spark/operators/dedup.py"],
    "multimodal": ["ringo_spark/operators/multimodal.py"],
    "relational": ["ringo_spark/operators/relational.py", _TESTBED],
    # grain executes the skew helpers (salted rollup + salted join rows)
    "grain": ["ringo_spark/operators/rollup_grain.py", _TESTBED,
              "ringo_spark/functions/skew.py", *_POPULATE_SOURCES],
    "session": ["ringo_spark/operators/session.py", _TESTBED],
    "tpch": ["ringo_spark/operators/tpch.py", _TESTBED],
    # sampling executes dedup's cluster-table builders (and through
    # them similarity's index lifecycle)
    "sampling": ["ringo_spark/operators/sampling.py", *_DEDUP_EXEC],
    # pipeline fuses quality/split/contamination/chunking — it executes
    # text, sampling, training, and dedup (and their closures)
    "pipeline": ["ringo_spark/operators/pipeline.py",
                 "ringo_spark/operators/sampling.py",
                 "ringo_spark/operators/text.py",
                 "ringo_spark/operators/training.py", *_DEDUP_EXEC],
    # training's quantize-recall audit scores similarity's Arrow-kernel
    # corpus split (_emb_arrow)
    "training": ["ringo_spark/operators/training.py", _TEXTFN,
                 "ringo_spark/operators/similarity.py", _DELETION],
    # shares the Morton interleave kernel with the z-ordered write path;
    # reads events via load_catalog/testbed like the session family
    "layout": ["ringo_spark/operators/layout.py",
               "ringo_spark/sources/layout.py", _TESTBED],
    # the streaming driver rows execute the foreachBatch writers +
    # snapshot readers, which run text's CMS constants/tokenizer,
    # sampling's A-ES keys (and its dedup closure), and similarity's
    # source fingerprint
    "streaming": ["ringo_spark/streaming/vocab.py",
                  "ringo_spark/streaming/sampling.py",
                  "ringo_spark/streaming/ann.py",
                  "ringo_spark/operators/text.py",
                  "ringo_spark/operators/sampling.py", *_DEDUP_EXEC],
    "core": [_TESTBED, "ringo_spark/engine.py", *_POPULATE_SOURCES],
}

# Changed files that affect NO registered query's results: docs, tests,
# bench/tooling, streaming modules NOT behind a registered row (family
# attribution wins over the prefix: vocab.py/sampling.py are claimed by
# the "streaming" family since r14, so the prefix only covers the
# pytest-only twins — dedup/drift/anomaly/sessionize), and this
# registry's own ordering lists (window order doesn't change query
# results).  Everything else outside FAMILY_SOURCES triggers the
# conservative full sweep.
SHARED_NEUTRAL_PREFIXES: tuple[str, ...] = (
    "tests/", "tools/", "docs/", ".",        # "." = any dot-directory
    "ringo_spark/streaming/",
)
SHARED_NEUTRAL_SOURCES: frozenset[str] = frozenset({
    "bench.py", "verify_local.py", "README.md",
    "ringo_spark/operators/registry.py",
})


def queries_for_changed_files(changed: list[str]
                              ) -> tuple[list[str] | None, list[str]]:
    """(query names to sweep, unattributed files).  ``None`` for the
    names means: shared infrastructure changed — sweep everything."""
    fams = queries_by_family()
    selected: list[str] = []
    unattributed: list[str] = []
    for path in changed:
        hit = [f for f, srcs in FAMILY_SOURCES.items() if path in srcs]
        if hit:
            for f in hit:
                selected += [q for q in fams[f] if q not in selected]
        elif (path.endswith((".md", ".json", ".jsonl", ".txt"))
              or path.startswith(SHARED_NEUTRAL_PREFIXES)
              or path in SHARED_NEUTRAL_SOURCES):
            continue
        else:
            unattributed.append(path)
    if unattributed:
        return None, unattributed
    return selected, []


def queries_by_family() -> dict[str, list[str]]:
    """Registered query names grouped by operator family — the sweep
    filter ``verify_local.py --family NAME`` uses during development
    (102+ queries in one flat namespace got slow to iterate on;
    VERDICT r06 item 8)."""
    from ..testbed import CORE_QUERIES

    fams = {"core": list(CORE_QUERIES)}
    fams.update({f: list(d) for f, d in QUERY_FAMILIES.items()})
    return fams
