"""Workload definitions and the seeded draws.

The seed only orders operations; the engine receives query names and
fixture paths, nothing else. Every run of a workload executes the same
multiset of operations, so two seeds differ only in the order the
operations run in. A run starts with WARMUP_PASSES passes that are checked
but not timed into the metrics: a fresh JVM is still compiling the hot
paths through them. The number of measured passes after them is fixed from
--seconds through the per-pass cost measured on the current code (UNIT_S),
not by a clock inside the run.
"""
import random

CURATION = "curation"

# The nightly batch at sf1 in priority order: the reference Top-K queries,
# then the first kernel query. The run length keeps only this head of the
# batch list in the benchmark notes.
BATCH_SF1 = [
    "q1a_top_revenue",
    "q1b_top_quantity",
    "q1c_revenue_by_date",
    "q2_supplier_join",
    "skipgram_pairs",
]

# Queries whose wall time is reported as functions.kernel_queries_s.
KERNEL_QUERIES = [
    "skipgram_pairs",
    "dedup_minhash_cand",
    "dedup_simhash_pairs",
    "retrieval_bm25_maxp",
]

# Run at sf0.001 by every set-up.
SETUP_WARMUP = ["q1c_revenue_by_date"]

# name -> (fixture, operations of one pass)
WORKLOADS = {
    "batch_sf1": ("sf1", BATCH_SF1),
    "curation_write_sf0.1": ("sf0.1", [CURATION]),
}

# Seconds one warm pass takes on the current code, 4 cores.
UNIT_S = {"batch_sf1": 6.2, "curation_write_sf0.1": 9.0}
WARMUP_PASSES = 2
MIN_PASSES = 2


def pass_count(workload, seconds):
    """Measured passes of a run."""
    return max(MIN_PASSES, round(seconds / UNIT_S[workload]))


def passes(workload, seed, seconds):
    """The run's passes, warm-up passes first: each a seeded order of the
    workload's list."""
    ops = WORKLOADS[workload][1]
    rng = random.Random(seed)
    n = WARMUP_PASSES + pass_count(workload, seconds)
    return [rng.sample(ops, len(ops)) for _ in range(n)]
