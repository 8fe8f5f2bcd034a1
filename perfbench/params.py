"""Frozen workload definitions.

Everything a workload does is fixed here, in the benchmark's own files, so an
edit elsewhere in the repository (``bench.py``'s headline list, a default in
``session.py``) cannot silently change what a workload measures. The seed
passed on the command line only shuffles query order and draws payload
contents, payload sizes, routing seeds and the error schedule.
"""

from __future__ import annotations

#: Scale factor and seed of the generated fixture tables (perfbench/tables.py).
#: The table seed is fixed so every run times the same data; sf0.01 keeps the
#: suites overhead-bound, like the sf0.1 headline.
TABLE_SF = 0.01
TABLE_SEED = 42
TOY_TABLE_SF = 0.001

#: Five of the 39 frozen headline queries (bench.py HEADLINE as of
#: BENCH_r02), one per operator family (aggregate, window, dedup, vector
#: top-k, text), run with memos as they are. Each runs one or two jobs of one
#: task, so driver-side work and per-job overhead are most of its time.
QUERIES_SHORT = (
    "q01_pricing_summary",
    "q33_tumbling_window",
    "q50_exact_dedup",
    "q60_cosine_topk",
    "q70_token_stats",
)

#: Two of the ROADMAP registry-tail queries, run memo-cold: multi-stage plans
#: whose tasks spread over every core. q220 (LSH recall) persists its band
#: table and does not release it, so spark.persisted_rdds counts it after
#: each pass; q96 (duplicate clusters) computes the memoized
#: near-duplicate components, running jobs while the query is built, so
#: memo.caches_cleared counts it.
QUERIES_HEAVY = (
    "q220_lsh_recall_eval",
    "q96_dedup_clusters",
)

#: The spark workload's roundtrip block: payloads per pass, their size range
#: (bytes, inclusive), source files, and capture shards.
ROUNDTRIP_PAYLOADS = 50_000
TOY_ROUNDTRIP_PAYLOADS = 5_000
ROUNDTRIP_MIN_BYTES = 150
ROUNDTRIP_MAX_BYTES = 260
ROUNDTRIP_FILES = 8
ROUNDTRIP_SHARDS = 8

#: sink_throttled: bytes offered per pass, payload size, partitions per pass
#: (one KinesisStreamWriter each, as one Spark task builds one), shards, the
#: limiter's share of the service budget, the put calls (0-based, per pass)
#: that fail with a transient ResourceInUse error, and the writers' routing
#: seeds. The error calls fall in the first wave of writers, so each 2 s
#: back-off overlaps other writers' work. Both are frozen rather than drawn
#: from the seed: uniform random routing of a few dozen flushes over four
#: shards, and which writer's retry redraws its shard, load the busiest
#: shard very differently from one draw to the next, which would swamp every
#: other effect in wall time.
THROTTLED_BYTES = 12_000_000
TOY_THROTTLED_BYTES = 2_000_000
THROTTLED_PAYLOAD_BYTES = 512
THROTTLED_PARTITIONS = 48
THROTTLED_SHARDS = 4
THROTTLED_LIMITER_SHARE = 0.9
THROTTLED_ERROR_CALLS = (0, 2)
THROTTLED_ROUTING_SEED = 1000

#: Untimed warm-up passes of the spark workload's (query, roundtrip) blocks,
#: after the correctness pass and before any timed pass. On 4 vCPUs the JIT
#: is still compiling through the first passes after a cold start: a query
#: pass costs about twice its steady CPU time in the second pass and still
#: about a fifth more in the fifth, and a roundtrip pass about a fifth more
#: in the second. How far it gets in a given time depends on the host's
#: load, so timed passes start only once the steep part is behind.
WARMUP_PASSES = (5, 2)
TOY_WARMUP_PASSES = (1, 1)

#: Fewest timed passes per run (and traced passes per traced run); the run
#: goes on past its seconds until it has them. Three give each query and
#: each streaming phase a median. A sink_throttled pass is paced by the real
#: clock and takes one of a few times about 0.27 s apart (3.23, 3.50, 3.77 s
#: on 4 vCPUs), by how the writer threads happen to interleave; the median
#: of three picks the usual one where two would average an odd one in.
MIN_PASSES = 3
THROTTLED_MIN_PASSES = 3

#: Set-ups timed per run. The spark workload times one: its own, which
#: launches the JVM (about ten seconds on 4 vCPUs; a second or third cold
#: launch per run would not fit the comparison's time budget, and a warm
#: re-creation would leave JVM launch out of setup_s). sink_throttled times
#: fresh interpreters importing the sink and building a writer, tens of
#: milliseconds each, this many before the first pass and again after each
#: pass, and reports the median of all. Spreading them over the run matters:
#: on a shared host the same probe reads about 24 ms for some seconds and
#: about 34 ms for the next, and a run's probes taken back to back all fall
#: in one such stretch.
THROTTLED_SETUP_CHUNK = 8
