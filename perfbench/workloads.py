"""The benchmark's workloads: which ``__spark_entry__.queries()`` entries a
pass runs, and why the workload exists. Each run uses one workload in a
fresh session; ``--seed`` only permutes the order within each pass.

The two are the read path and the write path, and each is the other's
"no change" control: lake, IVM and streaming changes should not move
``medallion_batch``, and cleaning, gold, dedup and ANN changes should
not move ``incremental_refresh``. Between them they reach every layer the
tracing names. The lists are sized so that a run (session start and
warm-up, a cold pass, one warm pass and a check pass) stays near a minute
at ``local[4]`` on the sf=0.1 tables.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "medallion_batch": {
        "why": "read path: silver clean, DQ rules, rule-driven gold features, ML features, then corpus "
        "curation (exact dedup, shard balance, brute-force ANN); no lake, IVM or streaming code runs",
        "queries": (
            "dq_rule_report",
            "rule_driven_features",
            "ml_customer_features",
            "exact_dedup",
            "shard_balance_report",
            "ann_bruteforce_topk",
        ),
    },
    "incremental_refresh": {
        "why": "write path: a Structured Streaming drain that applies SCD2 lake MERGEs per micro-batch, "
        "and an IVM partial merge; no gold, dedup or ANN code runs",
        "queries": (
            "streaming_scd2_history",
            "incremental_daily_sales",
        ),
    },
}
