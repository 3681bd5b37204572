"""Physical-plan introspection (SURVEY §4).

The engine does no hand-scheduling — Catalyst owns plan choice — but at
100 TB the difference between a pruned, pushed-down, broadcast plan and
a naive one is the whole game. These helpers make plan properties
*testable*: tests/test_plans.py pins that the hot queries keep their
pushed filters, pruned scan schemas and broadcast dimensions, so a
refactor that silently breaks pushdown (e.g. wrapping a filter in an
opaque UDF) fails CI instead of shipping a 100x regression.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    return qe.explainString(mode)


def pushed_filters(df: DataFrame) -> list[str]:
    """All parquet-pushed predicates, e.g. 'LessThan(l_shipdate,...)'."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        out.extend(p.strip() for p in m.group(1).split(",") if p.strip())
    return out


def scan_columns(df: DataFrame) -> list[set[str]]:
    """Column set per parquet scan (ReadSchema) — the pruning check."""
    cols = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        cols.append({f.split(":")[0] for f in m.group(1).split(",") if f})
    return cols


def count_operator(df: DataFrame, name: str) -> int:
    return len(re.findall(re.escape(name), formatted_plan(df)))


def has_broadcast_join(df: DataFrame) -> bool:
    return count_operator(df, "BroadcastHashJoin") > 0


def unpartitioned_window_orders(df: DataFrame) -> list[str]:
    """Order-key expressions of every Window node in the OPTIMIZED
    logical plan whose partition spec is EMPTY — i.e. windows that
    force all their input through one partition (WindowExec's "No
    Partition Defined" warning; a scale-killer unless the input is
    provably bounded).

    Why the logical plan and not the formatted physical text: the
    physical rendering of an unpartitioned Window is not reliably
    distinguishable by substring, and the partition spec IS a typed
    field on the logical node. Walks children() only (subquery
    expressions are not traversed — none of the audited DAGs hide
    windows there).

    Caveat (the round-9 audit blind spot): a localCheckpoint TRUNCATES
    lineage — anything upstream of the checkpoint is invisible to any
    plan API. Auditing checkpoint-bearing DAGs therefore requires
    building them with SPARK_GRAFT_NO_CHECKPOINT=1 (core._ckpt), which
    is what tools/plan_audit.py and tests/test_plans.py do; the
    self-test pins that the detector is blind behind a checkpoint and
    sighted without one."""
    out: list[str] = []

    def walk(node) -> None:
        if node.getClass().getSimpleName() == "Window" \
                and node.partitionSpec().size() == 0:
            orders = node.orderSpec()
            names = []
            for i in range(orders.size()):
                child = orders.apply(i).child()
                try:
                    names.append(child.sql())
                except Exception:
                    names.append(child.toString())
            out.append(", ".join(names))
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return out


def single_partition_exchanges(df: DataFrame) -> int:
    """Count Exchange operators that shuffle everything to ONE partition.

    The formatted plan renders the operator line as just ``Exchange (n)``
    — the string ``Exchange SinglePartition`` (the simple-mode rendering)
    never occurs, so substring-matching it silently returns 0 (the
    round-3 ADVICE finding). The partitioning lives in the detail
    section: ``Arguments: SinglePartition, ENSURE_REQUIREMENTS, ...`` —
    one such line per single-partition Exchange."""
    return formatted_plan(df).count("Arguments: SinglePartition")
