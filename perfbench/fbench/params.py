"""Workload parameters: the one place each workload's shape is fixed.

Every workload is a closed loop with one client thread. `FULL` is what
`run.py` measures. The README's workload table mirrors these values.

Where the values come from. Each value is either cited or marked as an
assumption, with the reason it was chosen:

- Key skew: Zipf with exponent 0.99 over a scrambled key order is the
  request distribution of YCSB (Cooper et al., "Benchmarking Cloud
  Serving Systems with YCSB", SoCC 2010: the Zipfian constant 0.99 and
  the scrambled Zipfian generator that spreads the hot keys over the
  key space). `gen.Zipf` draws ranks the same way and maps them to keys
  through a seeded permutation.
- Bucket counts and compaction cadence are set so that one run of
  `--seconds` covers several compaction cycles (see the README's
  "Workloads" section); they follow from the run's length, not from a
  published trace.
- Everything marked "assumption" below is not taken from a published
  workload description or a measured trace. No public source gives a
  change-type mix for CDC streams into a keyed table, a hit/miss/prefix
  mix for keyed lookups, or a write-per-read ratio for a lookup-serving
  table. Results on these workloads hold for this mix only.
"""

from __future__ import annotations

# YCSB's Zipfian constant (Cooper et al., SoCC 2010)
YCSB_ZIPF = 0.99

FULL: dict[str, dict] = {
    # PK write path: upsert batches + changelog drain after each commit
    "cdc_ingest": {
        "tenants": 64,  # bucket key; 8 buckets, so 8 tenants per bucket
        "base_ids": 300,  # ids per tenant loaded in set-up
        # assumption: 500 rows keep a commit plus its drain near 1 s on
        # 4 cores, so a 20 s run holds about 20 commits and 6 or 7
        # compaction cycles (a 5,000-row commit takes about 1.6 s and
        # would leave 12)
        "batch_rows": 500,  # base = 38.4 batches
        "buckets_per_batch": 2,  # a batch touches 2 of 8 buckets, in turn
        "zipf_s": YCSB_ZIPF,  # skew of updated/deleted ids (tenants are uniform)
        # assumption: updates dominate, as in a change stream of a table
        # that is mostly modified in place; inserts grow the table
        # slowly; deletes are frequent enough that every batch runs the
        # delete path
        "shares": {"insert": 0.20, "update": 0.65, "delete": 0.15},
        "buckets": 8,
        "compact_dirs": 3,  # table.snapshot.auto-compact-dirs
        "warm_ops": 7,
    },
    # keyed read path: point + prefix lookups, a trickle of upserts
    "serve_lookup": {
        "users": 5000,  # bucket key, prefix of the (user, item) key
        "items_per_user": 4,  # base rows = 20,000
        "item_space": 100,  # base items are drawn from [0, item_space)
        "zipf_s": YCSB_ZIPF,  # skew of looked-up users
        # assumption: one lookup in ten asks for an absent key, so the
        # miss path is measured on every run without dominating it
        "miss_frac": 0.10,  # point lookups of an absent key
        # assumption: prefix lookups are a small share (one in ten), as
        # point reads are the main use of a lookup table
        "prefix_frac": 0.10,  # lookups through lookup_by("user")
        # assumption: a trickle commit costs about as much as 15
        # lookups, so one per 50 lookups keeps commits near a fifth of
        # the loop's time while still moving the manifest every run
        "trickle_every": 50,  # lookups per trickle upsert
        "trickle_rows": 40,  # rows per trickle upsert (3/4 updates)
        "buckets": 8,
        "retained": 2,  # table.snapshot.num-retained
        "warm_ops": 50,
    },
}

# Before the timed set-ups, each run warms the JVM by setting up a
# scratch copy of its workload (seeded with seed + WARM_SEED) and running
# `warm_ops` unmeasured steps on it. The first set-up on a fresh JVM
# takes 6 to 10 s of class loading, code generation and JIT; the
# following steps keep getting faster for about 20 commits (commit
# latency falls by a third) or 100 lookups. The warm-up takes the steep
# start of that curve, and the rest falls the same way in every run's
# loop.
WARM_SEED = 1_000_003

# set-ups per run; setup_s reports their median
SETUP_REPEATS = 3
