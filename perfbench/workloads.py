"""The benchmark's three workloads as seeded op streams.

A workload is a fixed set of op kinds. The seed draws the generated tables
(see ``datagen``), the order of every cycle and, on ``sql_repl``, the
literals of each statement. A cycle runs every op kind once, and the timed
loop runs a number of whole cycles fixed by ``--seconds``, so every run of a
workload measures the same op mix and op count whatever its seed or the
machine's speed; only inputs and order move.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

WORKLOADS = ("sql_repl", "registry_mix", "write_state")
# timed cycles per 10 s of --seconds, 9 to 20 s of ops on a 4-core box.
# At 10 s that is 30, 32 and 10 ops: the tail (ten samples beyond it) is
# then p66.7 and p68.75 on the first two, and the maximum on write_state.
# More ops would lift the tail toward p75, but a full pass of 70 runs must
# end within 3420 s, and these counts already take about 3100 s
CYCLES_PER_10S = {"sql_repl": 2, "registry_mix": 4, "write_state": 2}


@dataclass(frozen=True)
class Op:
    kind: str  # template or registry entry name: one per op kind of a cycle
    text: str  # the SQL statement (sql_repl) or the registry entry name


# -- sql_repl: the reference's SQL surface through Database.run(...).collect()
#
# v0 statements: select / filter / projection expressions and
# sum/count/min/max with optional GROUP BY. Every output column is aliased
# so both engines name it the same. Literals come from small sets, so
# statements repeat exactly within a run (the share is reported).
SQL_TEMPLATES = {
    "cust_filter": (
        "SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal FROM customer "
        "WHERE c_nationkey = {nation} AND c_acctbal > {bal}",
        {"nation": range(25), "bal": (0, 2500, 5000, 7500)},
    ),
    "order_expr": (
        "SELECT o_orderkey AS k, o_totalprice * (1 - {disc}) AS net FROM orders "
        "WHERE o_totalprice > {price} AND o_orderpriority = '{prio}'",
        {
            "disc": ("0.05", "0.1"),
            "price": (480000, 490000),
            "prio": ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        },
    ),
    "line_scalar_agg": (
        "SELECT sum(l_extendedprice) AS s, count(l_orderkey) AS n, "
        "min(l_discount) AS lo, max(l_tax) AS hi FROM lineitem WHERE l_quantity < {q}",
        {"q": (10, 20, 30, 40)},
    ),
    "line_group_agg": (
        "SELECT l_returnflag AS f, l_linestatus AS st, sum(l_quantity) AS q, "
        "count(l_orderkey) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi "
        "FROM lineitem WHERE l_shipdate < '{year}-01-01' GROUP BY l_returnflag, l_linestatus",
        {"year": range(1996, 2002)},
    ),
    "line_revenue": (
        "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
        "WHERE l_discount >= {d} - 0.01 AND l_discount <= {d} + 0.01 AND l_quantity < {q}",
        {"d": ("0.03", "0.05", "0.07"), "q": (24, 25)},
    ),
    "cust_group_agg": (
        "SELECT c_mktsegment AS seg, count(c_custkey) AS n, sum(c_acctbal) AS bal, "
        "max(c_acctbal) AS top FROM customer WHERE c_nationkey < {nation} GROUP BY c_mktsegment",
        {"nation": (5, 10, 15, 20)},
    ),
    "part_group_agg": (
        "SELECT p_brand AS brand, count(p_partkey) AS n, min(p_retailprice) AS lo, "
        "max(p_size) AS hi FROM part WHERE p_size >= {a} AND p_size < {a} + 10 GROUP BY p_brand",
        {"a": (1, 11, 21, 31)},
    ),
    "event_group_agg": (
        "SELECT event_type AS et, count(event_id) AS n, sum(value) AS v, max(value) AS top "
        "FROM events WHERE user_id < {u} GROUP BY event_type",
        {"u": (100, 500, 1000)},
    ),
    "supp_expr": (
        "SELECT s_suppkey AS k, s_name AS name, s_acctbal + {x} AS bal FROM supplier "
        "WHERE s_nationkey = {nation}",
        {"x": (0, 100), "nation": range(25)},
    ),
    "order_group_agg": (
        "SELECT o_orderpriority AS p, count(o_orderkey) AS n, sum(o_totalprice) AS total, "
        "min(o_totalprice) AS lo FROM orders WHERE o_orderstatus = '{s}' GROUP BY o_orderpriority",
        {"s": ("F", "O", "P")},
    ),
}
# registry oracle statements that Spark SQL accepts unchanged; fixed text,
# so each repeats exactly once per cycle after the first
SQL_TPCH = ("ext_tpch_q1", "ext_tpch_q3", "ext_tpch_q6", "ext_tpch_q9", "ext_tpch_q14")

# -- registry_mix: batch registry entries, build() + noop sink, stratified by
# family (v0 / ext / pipe) and chosen so each layer the trace splits out is
# entered: parquet_scan on every entry, a broadcast join, a window, text,
# dedup, similarity, the Arrow kernels and tracked caches. Entries that take
# under a second (all but pipe_kmeans_lloyd) fit four cycles in the run budget,
# and their latencies cluster near the median, which keeps the median steady.
REGISTRY_MIX = (
    "v0_hash_agg_multi",
    "ext_tpch_q14",  # lineitem x part broadcast join
    "ext_window_running",
    "pipe_text_stats",  # functions.text
    "pipe_dedup_groups",  # functions.dedup
    "pipe_group_normalize",  # functions.similarity
    "pipe_hill_tail_index",  # functions.caching
    "pipe_kmeans_lloyd",  # functions.arrow_kernels, functions.caching
)

# -- write_state: stateful stream drains and entries that write files
WRITE_STATE = (
    "stream_dedup",  # dropDuplicatesWithinWatermark state
    "stream_session_windows",  # session-window state
    "stream_foreachbatch_upsert",  # foreachBatch parquet upsert
    "pipe_bucketed_join_audit",  # bucketed parquet write, read back
    "pipe_partitioned_write_prune",  # partitioned parquet write, pruned read
)


def timed_cycles(workload: str, seconds: float) -> int:
    """How many whole cycles the timed loop runs for ``--seconds``."""
    return max(1, round(CYCLES_PER_10S[workload] * seconds / 10))


def _fill(template: str, choices: dict, rng: random.Random) -> str:
    return template.format(**{k: rng.choice(list(v)) for k, v in choices.items()})


def cycles(workload: str, seed: int, tpch_sql: dict[str, str] | None = None):
    """Endless iterator of cycles (lists of ``Op``) for ``workload``.

    ``tpch_sql`` maps the ``SQL_TPCH`` names to their statements; only
    ``sql_repl`` needs it."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
    rng = random.Random(f"{workload}:{seed}")
    while True:
        if workload == "sql_repl":
            ops = [Op(k, _fill(t, c, rng)) for k, (t, c) in SQL_TEMPLATES.items()]
            ops += [Op(k, tpch_sql[k]) for k in SQL_TPCH]
        else:
            names = REGISTRY_MIX if workload == "registry_mix" else WRITE_STATE
            ops = [Op(n, n) for n in names]
        rng.shuffle(ops)
        yield ops


def repeat_share(texts: list[str], seen_before: set[str] = frozenset()) -> float:
    """Share of ``texts`` equal to an earlier text or one in ``seen_before``."""
    seen = set(seen_before)
    repeats = 0
    for t in texts:
        repeats += t in seen
        seen.add(t)
    return repeats / len(texts) if texts else 0.0
