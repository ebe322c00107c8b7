"""Plan-inspection helpers: assert the physical plan is the one a
100 TB deployment needs (pushdown reached the scan, dims broadcast,
no stray shuffles). Used by tests and by bench sanity checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True iff at least one scan carries a non-empty PushedFilters list."""
    plan = physical_plan(df)
    return any(
        seg and not seg.startswith("]")
        for seg in plan.split("PushedFilters: [")[1:]
    )


def count_broadcast_joins(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def reads_columns(df: DataFrame, table_hint: str | None = None) -> list[str]:
    """Columns actually read from scans (column-pruning check).

    With ``table_hint``, only scans whose Location/relation line
    mentions the hint (e.g. a table file name) are counted — so a
    pruned scan of one table is not masked by a wide scan of another.
    """
    import re

    plan = physical_plan(df)
    cols: list[str] = []
    # "formatted" explain renders each scan block with Location/ReadSchema
    # lines adjacent; split per scan so the hint filter applies per-scan.
    for block in re.split(r"\(\d+\) Scan ", plan)[1:]:
        if table_hint is not None and table_hint not in block.split("ReadSchema:")[0]:
            continue
        # greedy-to-line-end: nested types (array<float>, struct<...>)
        # contain '>' so a non-greedy/[^>] match would truncate the list
        m = re.search(r"ReadSchema: struct<(.*)>\s*$", block, re.MULTILINE)
        if m:
            # split on commas at nesting depth 0 only
            depth, start = 0, 0
            body = m.group(1)
            for i, ch in enumerate(body + ","):
                if ch == "<":
                    depth += 1
                elif ch == ">":
                    depth -= 1
                elif ch == "," and depth == 0:
                    part = body[start:i].strip()
                    if part:
                        cols.append(part.split(":")[0])
                    start = i + 1
    return cols
