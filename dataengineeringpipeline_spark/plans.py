"""Physical-plan inspection: the diagnostics this package's scale claims
are tested against.

Every operator here documents a plan shape ("map-only", "one shuffle",
"broadcast the small side", "filter reaches the scan"). These helpers
turn those claims into assertions — used by the test suite to pin the
shape so a refactor that silently adds an exchange or un-pushes a
filter fails loudly, and usable interactively as a cheap plan audit
(`plan_summary(df)`) before a query ships to a 1000-executor cluster.

All functions inspect ``df.explain`` output / the executed plan string
only — they never run a job.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame | str) -> str:
    """The ``explain("formatted")`` text of a DataFrame — or ``df``
    itself when it is already a plan string, so every helper below can
    run string-level against ONE compiled plan (``plan_summary`` and the
    parametrized plan-pin tests call several helpers on the same frame;
    recompiling the physical plan per helper is the slow path)."""
    if isinstance(df, str):
        return df
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(df: DataFrame | str) -> int:
    """Number of plain (non-broadcast) Exchange operators — the ones
    that move row-count-proportional data across the cluster. This is
    the figure the '100 TB would this hold' question asks about."""
    return len(re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.M))


def broadcast_join_count(df: DataFrame | str) -> int:
    """Number of broadcast hash/nested-loop joins in the plan."""
    plan = formatted_plan(df)
    return len(
        re.findall(r"^\(\d+\) Broadcast(?:Hash|NestedLoop)Join\b", plan, re.M)
    )


def pushed_filters(df: DataFrame | str) -> list[str]:
    """The PushedFilters lists of every scan in the plan (flattened) —
    empty means no predicate reached any source."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_columns(df: DataFrame | str) -> list[str]:
    """Columns each scan actually reads (ReadSchema union) — the column-
    pruning check: a 2-column projection whose scan reads 20 columns is
    a plan bug."""
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        for part in m.group(1).split(","):
            name = part.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def plan_summary(df: DataFrame) -> dict:
    """One-call audit: shuffle / broadcast / pushdown / read-schema
    figures for a plan, suitable for printing or asserting. The
    formatted plan is compiled ONCE and every string-level helper reads
    it — one extra compilation only for the simple-mode codegen spans."""
    plan = formatted_plan(df)
    # codegen span ids only print in simple mode (operators prefixed
    # "*(id)"); count distinct ids = fused pipeline count
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    span_ids = set(re.findall(r"\*\((\d+)\)", buf.getvalue()))
    return {
        "shuffles": shuffle_count(plan),
        "broadcast_joins": broadcast_join_count(plan),
        "sort_merge_joins": len(re.findall(r"^\(\d+\) SortMergeJoin\b", plan, re.M)),
        "pushed_filters": pushed_filters(plan),
        "scan_columns": sorted(set(scan_columns(plan))),
        "wholestage_codegen_spans": len(span_ids),
    }
