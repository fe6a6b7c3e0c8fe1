"""The benchmark's workloads: which registry queries run, at which scale.

The query mixes are cut to what one run can afford. Comparing two commits
takes 22 runs of each workload, and every run has to start a JVM, warm the
mix up on its own inputs and time at least two passes.
"""

# Batch mix: light TPC-H-shaped queries, where planning and short jobs
# dominate, and near-duplicate composites, where executor CPU and shuffles
# dominate.
TPCH = "q1_agg q6_forecast q13_order_dist q18_large_orders".split()
COMPOSITES = "dedup_minhash_lsh dedup_ngram_jaccard".split()

# Stream mix: a complete-mode aggregation, a stream-static join, a
# stream-stream interval join (join state store) and a global dedup.
STREAMS = ("events_stream_hourly events_stream_enrich events_stream_join "
           "docs_stream_dedup").split()

WORKLOADS = {
    # Whole passes timed per run, at least: a run times at least 12 jobs on
    # mr_envelope, 18 on batch_queries and 8 on stream_queries.
    "mr_envelope": {"sf": None, "queries": [], "min_passes": 3},
    "batch_queries": {"sf": 0.02, "queries": TPCH + COMPOSITES, "min_passes": 3},
    "stream_queries": {"sf": 0.02, "queries": STREAMS, "min_passes": 2},
}
