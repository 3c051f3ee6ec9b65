"""The benchmark's workloads: which queries, at which scale, with which
one-time builds forced in set-up, and the ingest workload's arrival plan.

query_board holds two groups of queries, reported together and apart:

* heavy: the near-dup/Jaccard family (``sim2``: the sorted-intersect
  verify) and the interval family (``ivl_merge``: IslandMerge).
* tail: a fixed sample of the sub-second queries, one per query module.
  Rule: within each module, take the queries under 1 s on the committed
  sf0.1 clean board (``bench_clean.json``), sort them by that time and pick
  the one at the middle position; for Relational take ``seq_spine`` instead,
  the one query planned through ``graft.plans.GraftSequence``. ``ingest_csv``
  and ``jsn_scan`` are never candidates: they write fixtures to a fixed
  ``/tmp`` path.

``prebuilds`` are exactly the Warehouse builds these queries consume.

``steady_rounds`` is the window the per-query medians are taken over: the
first that many rounds after the cold one, which every run completes. The
engine keeps getting faster for about eight rounds as the JIT compiles the
query paths, so a window fixed by round number, not by how many rounds the
measuring time happened to hold, is what keeps runs comparable.
"""

HEAVY = ["sim2", "ivl_merge"]
TAIL = ["seq_spine", "str1", "vec_quant", "evt_markov", "ingest_avro", "prune_dpp",
        "srm_check", "drift_chi2", "calibration_bins"]

WORKLOADS = {
    "query_board": {
        "sf": 0.01,
        "queries": HEAVY + TAIL,
        "prebuilds": ["orders_avro", "orders_by_year"],
        "steady_rounds": 4,
    },
}

INGEST = {
    "name": "ingest_publish",
    "sf": 0.01,              # orders table the partner files are cut from
    "backlog": 6,            # files staged before the run (outage catch-up)
    "rate": 0.3,             # arrivals per second in the arrival phase
    "rows_per_file": 250,
    "dirty_every": 4,        # every 4th file carries malformed lines
    "bad_per_dirty": 3,
    "dup_every": 3,          # a clean file at every 3rd index re-announces the previous one
    "compact_every": 2,      # compactStore every 2nd arrival cycle
}
