"""The benchmark's workloads: which registry queries each one times, at
what input scale, and the cdc_ingest feed parameters.

Every query list and its order are fixed; the seed changes the input
data only, never which queries run or how much input there is."""

# Closed-loop workloads: the cdc module's queries, and the queries and ops
# modules' together (per-layer figures stay per module). Module of each
# query: graft.cdc.CdcQueries -> "cdc", graft.queries.Relational ->
# "queries", graft.ops.PipelineQueries -> "ops".
CDC_REPLAY = [
    # the stateful bounded streaming runner (memory sink; one micro-batch
    # per call, fixed by the runner whatever the input size), the
    # restart-from-acked-LSN replay and the as-of join
    ("cdc_stream_upserts", "cdc"), ("cdc_resume_from_lsn", "cdc"), ("cdc_asof_join", "cdc"),
]
ANALYTICS = [
    # scan + aggregate, join + top-k, multi-way join
    ("q1_pricing_summary", "queries"), ("q3_top_unshipped", "queries"),
    ("q5_region_revenue", "queries"),
]
CORPUS = [
    # SimHash, brute-force cosine k-NN, random-projection sketch
    ("dedup_simhash", "ops"), ("ann_bruteforce", "ops"), ("emb_random_projection", "ops"),
]

# Closed-loop sizing: `warm_passes` warm-up passes on the run's input
# (set-up), then about --seconds / pass_s measured passes (pass_s is the
# nominal time of one warm pass on a 4-core x86 VM), at least
# `min_passes`.
CLOSED = {"kind": "closed_loop", "warm_passes": 2, "min_passes": 4}

WORKLOADS = {
    "cdc_ingest": {
        "kind": "ingest",
        # the backlog drains in drain_rounds rounds; then the offered
        # rate (events/s), one segment file every segment_ms, longer
        # than a micro-batch takes; the fixed-rate phase lasts --seconds;
        # the warm-up feeds warm_segments single-segment batches after a
        # round-sized one; a read starts only read_guard_ms or more
        # before the next segment is due
        "rate": 400, "backlog": 20000, "segment_ms": 1250,
        "keys": 20000, "buckets": 8, "think_ms": 10, "warm_segments": 2,
        "read_guard_ms": 250, "drain_rounds": 5,
    },
    # relational tables and the change feed (their `events` table) at
    # sf0.002
    "cdc_replay": dict(CLOSED, queries=CDC_REPLAY, pass_s=2.4, sf=0.002, corpus_sf=0.001, copies=1),
    # relational tables at sf0.002 and a 2-copy perturbed replica of an
    # sf0.015 corpus (2 x 750 docs, 2 x 500 vectors)
    "batch": dict(CLOSED, queries=ANALYTICS + CORPUS, pass_s=3.4, sf=0.002, corpus_sf=0.015,
                  copies=2),
}

# scale of the input of cdc_ingest's kernel timings
WARM_SF = 0.001
