"""The query list of ``query_mix``, why each op is in, and what was cut.

``trains``: whether the op fits a model or builds an index inside every
call (True), or only serves after the warm-up pass (False).  A query
that fails or mismatches its oracle stays in its list and counts as a
failed op; removals below are for run length only.
"""

from __future__ import annotations

#: Sampling scale of the query workloads (TESTDATA.md's bench scale).
SF = 0.1

#: Records in the ingest export: 183 days at the density of the
#: repository's measured one-year case (200k records, see gen_export).
#: The full year took 54-56 s per cold conversion on a 4-core box and
#: ~65 s per run with generation and check, which with the query runs
#: leaves too little of the benchmark's time budget.  Half a year still
#: gives the per-record layers a real share of an op, which the fixed
#: per-type fan-out would swamp at a few weeks of data.
INGEST_RECORDS = 100000

QUERY_OPS = (
    # (query, trains, why)
    # -- short JVM-only queries: fixed per-query cost (planning, job
    #    scheduling, AQE, catalog load) dominates
    ("q_filter_between", False,
     "reference README BETWEEN filter on a date range (SURVEY §2.B)"),
    ("q_json_extract", False,
     "reference json_extract over MetadataEntry-like props (§2.B)"),
    ("q_schema_infer", False,
     "ETL analog of the try-parse type cascade; the schema_infer layer"),
    ("q_kv_pivot", False,
     "ETL analog of the MetadataEntry key/value pivot; restructure layer"),
    ("q_tumbling_window", False,
     "tumbling time-window aggregate; the timeseries layer"),
    ("q_incremental_agg", False,
     "materialized-view maintenance: stored partial aggregates merged "
     "with a delta batch; the pipeline layer"),
    # -- training-data ops: Python kernels over Arrow, a pair-producing
    #    shuffle and in-query candidate generation
    ("q_topk_cosine_pandas", False,
     "exact top-k cosine over embeddings in an Arrow pandas_udf: Python "
     "workers on the similarity path; the similarity layer"),
    ("q_dedup_minhash_lsh", True,
     "MinHash signatures and LSH banding in every call: the near-dup "
     "candidate path, a pair-producing shuffle; the dedup layer"),
    ("q_bm25", True,
     "BM25 over the document corpus, df and length statistics computed "
     "in every call; the text layer"),
    ("q_bm25_from_index", False,
     "BM25 served from the inverted index that the warm-up pass builds "
     "and publishes (manifest.publish_pass in set-up); every timed call "
     "reads it back through manifest.read"),
)

#: Queries of the workload design that the list leaves out, and why.
DROPPED = {
    "q_topk": "one relational scan, as q_filter_between is; dropped "
              "to pay for the pipeline, dedup and manifest ops",
    "q_filter_or_isin": "check pass collects 60k rows (~2.7 s per run)",
    "q_project_arith": "returns all 600k lineitem rows; compare_query "
                       "alone takes ~25 s per run",
    "q_agg_sum": "2.1 s per call for one row; run length",
    "q_date_parse": "returns 100k rows; check pass ~5 s per run",
    "q_collect_events": "147k-row result; check pass ~7 s per run",
    "q_collect_stats_map": "147k-row result; check pass ~8 s per run",
    "q_linestring": "run length",
    "q_group_agg": "run length (0.7-1.4 s warm)",
    "q_path_join": "run length (0.6-1.0 s warm)",
    "q_flagship": "run once per run as the control probe instead",
    "q_window_rank": "run once per run as the control probe instead",
    "q_partition_by_type": "run length",
    "q_sessionize": "run length",
    "q_stateful_counts": "7.5 s warm and 13 s to check (four sequential "
                         "availableNow triggers); would be most of a run",
    "q_knn_graph": "cold 16 s, warm 4-5 s and 8 s to check on a busy "
                   "4-core box: ~30 s of a run; q_topk_cosine_pandas "
                   "measures the similarity layer instead",
    "q_suffix_ranks": "8.6 s warm, 16-31 s to check",
    "q_winnowing_pairs": "run length (4.3 s warm)",
    "q_graph_jaccard": "run length; its oracle alone takes ~11 s",
    "q_negative_pairs": "run length (5.5 s warm)",
    "q_dedup_clusters": "run length; its oracle alone takes ~10 s",
    "q_dedup_paragraph_apply": "run length (4.1 s warm)",
    "q_dedup_semantic": "run length; oracle ~5 s",
    "q_ann_ivfpq_residual": "run length (4.4 s warm)",
    "q_tfidf": "run length",
    "q_ann_query_from_index": "its oracle re-trains IVF-PQ in DuckDB: "
                              "~31 s per run to check",
}

#: Control probe, run once per query run after the timed passes: a
#: slow probe on an unchanged program means a busy box, not a regression.
PROBES = ("q_flagship", "q_window_rank")
