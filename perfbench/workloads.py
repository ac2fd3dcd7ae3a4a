"""The benchmark's workloads: frozen query lists, each with the reason it was
chosen.  A run's seed permutes its list afresh for every pass.

Sizing.  Per-query times below come from one pass over the whole board in a
long-running driver at local[4] over the sf0.1 tables (4-core x86 machine,
Spark 4.1.2, JDK 17).  A full measurement is seventy runs of about forty
seconds, each paying JVM start, a cold warm-up pass and at least two timed
passes, so every list is sized to 3-8 s per pass.  The populations the
lists are drawn from take far longer: tail 202 s, heavy 23 s, stream 26 s
per pass.

Why the lists are frozen, not drawn per seed: the tail's per-query times
span 0.02-3.7 s, so a fresh draw per seed would move run_s by more than any
bound worth setting.
"""

# tail: the 271 batch queries outside `heavy`, where driver fixed cost --
# catalog reads, eager actions inside builders, job round-trips -- dominates
# (32% of wall time outside any job, 15% core use in the sizing probe).
# A systematic sample of the sub-second tail that ROADMAP item 4 targets:
# its 206 queries sorted by probe time, one taken at the middle of each
# tenth.  Every one reads its tables through graft.Tables (item 2); the
# TPC-H pair are the multi-table joins.  Two more put the tail's other
# layers on the clock: q_psi_drift_from_ref reads a reference sketch from
# the artifact registry (built in the warm-up, read back in every timed
# pass), and q_write_bucketed writes a bucketed table into the warehouse
# before reading it back.
TAIL = [
    "q_struct_map",      # 0.16 s
    "q_observe",         # 0.25 s
    "q_window_range",    # 0.29 s
    "q_embed_moments",   # 0.34 s
    "q_distinct",        # 0.41 s
    "q_grouping_sets",   # 0.48 s
    "q_agg_groupby",     # 0.54 s
    "q_tpch_q3",         # 0.67 s
    "q_kmeans_step",     # 0.79 s
    "q_tpch_q7",         # 0.92 s
    "q_psi_drift_from_ref",
    "q_write_bucketed",
]

# heavy: executors do the work and driver fixed cost barely shows (64% core
# use, 14% of wall time outside jobs over the 12 heavy queries).  The
# control for items 2 and 4 (predicted flat) and the workload of item 3:
# both Hamming-band joins it replaces, plus two more executor-bound
# operators.  q_pagerank (8.2 s alone at local[4]) and the other heavy
# queries would not fit the run budget.
HEAVY = [
    "q_dedup_simhash",  # 1.29 s, 8x8-bit SimHash bands
    "q_phash_neardup",  # 1.45 s, 16x4-bit pHash bands
    "q_pq_assign",      # 1.13 s, product-quantizer assignment
]

# stream: graft.streaming drains -- file-stream sources, RocksDB state
# commits, offset and commit logs per micro-batch -- which no batch query
# exercises.  The three cheapest drains, so the per-drain fixed cost
# (~0.65-0.9 s in the r21 records) is a large share of what is measured.
STREAM = [
    "q_stream_dedup",   # 1.07 s, dropDuplicates state in RocksDB
    "q_stream_sample",  # 1.13 s, reservoir sample
    "q_stream_cms",     # 1.14 s, count-min sketch micro-batch
]

WORKLOADS = {"tail": TAIL, "heavy": HEAVY, "stream": STREAM}

# Seconds of --seconds each timed pass stands for; a run makes
# round(--seconds / this) timed passes, two at least.  The count is fixed by
# the arguments, not the clock: later passes run warmer, and a count that
# followed the clock flipped between runs and split the figures in two.
# At --seconds 12 that is two timed passes of tail and three of heavy and
# stream.  A third tail pass and a fourth heavy pass narrowed the ten-seed
# spreads only a little (0.08-0.14 against 0.09-0.19 now; the shared
# machine's speed drift dominates both) and would leave seventy runs only
# ~6% inside the 3420 s they must fit in.
PASS_SECONDS = {"tail": 6.0, "heavy": 4.0, "stream": 3.8}


def passes(workload, seconds):
    return max(2, round(seconds / PASS_SECONDS[workload]))
