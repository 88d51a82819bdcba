"""Physical-plan inspection helpers (SURVEY.md §5.2.3 plan-shape
asserts; the "iterate on .explain until it's the plan you'd want"
loop made checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def formatted(df: DataFrame) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def uses_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in physical_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node(s)."""
    plan = formatted(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    plan = formatted(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "ReadSchema" in line
    )


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in physical_plan(df)


def _plan_text(df: DataFrame | str) -> str:
    """``df``'s executed-plan string, or ``df`` if it already is one."""
    return df if isinstance(df, str) else physical_plan(df)


def _window_partition_groups(plan: str) -> list[str | None]:
    """One entry per WindowExec node: its partition-spec bracket
    group, or None when the window has no partition spec.

    A partitioned+ordered Window renders three top-level bracket
    groups (``Window [specs], [partition], [order]``); with two
    groups the second is EITHER a partition spec or a sort order,
    distinguished by the ``ASC``/``DESC`` markers only sort orders
    carry; one group means neither partition nor order (global frame
    over one partition)."""
    import re

    out: list[str | None] = []
    for line in plan.splitlines():
        node = re.sub(r"^[\s:+\-*()\d]*", "", line)
        if not node.startswith("Window ["):
            continue
        depth = 0
        groups: list[str] = []
        for ch in node:
            if ch == "[":
                if depth == 0:
                    groups.append("")
                depth += 1
            if depth > 0 and groups:
                groups[-1] += ch
            if ch == "]":
                depth -= 1
        partitioned = len(groups) >= 3 or (
            len(groups) == 2
            and not re.search(r"\b(ASC|DESC) NULLS (FIRST|LAST)", groups[1])
        )
        out.append(groups[1] if partitioned else None)
    return out


def count_unpartitioned_windows(df: DataFrame | str) -> int:
    """Number of WindowExec nodes with NO partition spec — the 'move
    all data to a single partition' shape that WindowExec warns about.
    Only row-scaled inputs make this an anti-pattern; bounded inputs
    (the n_partitions-row offsets table of the two-pass distributed
    rank, vocabulary-sized cell tables, <=k-row re-ranks) are
    legitimate and allowed per key in tests/contracts.py."""
    return sum(g is None for g in _window_partition_groups(_plan_text(df)))


def window_partition_columns(df: DataFrame | str) -> list[set]:
    """Per-WindowExec sets of partition column BASE names (``#id``
    refs stripped), from the same bracket walk as
    :func:`count_unpartitioned_windows`. Unpartitioned windows
    contribute an empty set. Feeds the low-cardinality window audit
    (tests/test_registry_sweep.py): a window partitioned ONLY by
    bounded-domain columns is the structural-straggler shape
    agg_percentile_exact_twostage exists to beat — each such site
    must be justified."""
    import re

    out: list[set] = []
    for part in _window_partition_groups(_plan_text(df)):
        part = part or ""
        cols = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", part))
        # A NON-empty partition group that parses to zero column refs
        # means the window is partitioned solely by computed
        # expressions with no surviving attribute refs — a shape this
        # parser can't attribute, and silently auditing it as
        # "unpartitioned" would let it evade the LOWCARD audit. Test
        # infrastructure must fail loudly on inputs it can't read.
        if part.strip("[] \t") and not cols:
            raise AssertionError(
                "window_partition_columns: non-empty partition group "
                f"yielded no parsable column refs: {part!r}"
            )
        out.append(cols)
    return out


def lowcard_repartition_exchanges(df: DataFrame | str, lowcard: frozenset) -> list[str]:
    """USER-INJECTED hash repartitions keyed only on bounded-domain
    columns — the round-16 agg_basic regression shape (VERDICT r16
    items 2/3): ``repartition(target, keys)`` with |key domain| ≪
    target fills a handful of partitions AND ships raw rows across an
    exchange that a partial+final aggregate would have crossed with a
    few partial rows. Planner-inserted exchanges are exempt: Spark
    tags shuffle origin in the plan text, and a final-agg exchange on
    the same low-card keys (``ENSURE_REQUIREMENTS``) carries only the
    partial-agg output, which is exactly the scalable shape. Only
    ``REPARTITION_BY_NUM`` / ``REPARTITION_BY_COL`` (the
    ``df.repartition`` family) are audited."""
    import re

    out: list[str] = []
    for line in _plan_text(df).splitlines():
        m = re.search(
            r"Exchange hashpartitioning\((.*)\), "
            r"(REPARTITION_BY_NUM|REPARTITION_BY_COL)",
            line,
        )
        if not m:
            continue
        cols = set(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", m.group(1)))
        if cols and cols <= lowcard:
            out.append(line.strip())
    return out


def count_shuffles(df: DataFrame | str) -> int:
    """Number of shuffle exchanges in the physical plan — the scale
    currency; every one is a full network rewrite of its input."""
    plan = _plan_text(df)
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )


#: Fixture tables whose row count grows LINEARLY with scale factor,
#: identified by a marker column that only that table's parquet scan
#: emits (the analyzed plan's LogicalRelation keeps original column
#: names even when projections above it rename everything). nation
#: (25 rows) and region (5 rows) are constant-size and deliberately
#: absent: hinting them broadcast is always safe.
SCALING_TABLE_MARKERS = {
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_linenumber": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

#: Logical nodes that bound the cardinality of a hinted subtree
#: enough that a broadcast hint below them is not automatically an
#: at-scale OOM: explicit limits and aggregates/distincts (a 1-row
#: scalar frame, a bounded-key groupBy). NOTE an Aggregate whose
#: grouping key itself scales (groupBy l_suppkey) is NOT truly
#: bounded — such hints must not rely on this exemption; the de-hint
#: sweep of round 14 removed every one of them, and new ones need a
#: justified ``scaling_bcast`` entry in tests/contracts.py.
_CARDINALITY_BOUNDING = {"Aggregate", "GlobalLimit", "LocalLimit", "Deduplicate"}


def broadcast_hinted_scaling_tables(df: DataFrame) -> list[str]:
    """SF-scaling fixture tables scanned under an explicit broadcast
    hint with no cardinality-bounding node between hint and scan —
    the 'forced OOM at scale-up' shape (an explicit hint overrides
    AQE's size check, so at the 100 TB design point the executor must
    materialize a table that grew 1000x since the hint was written).

    Parses the ANALYZED logical plan via toJSON (pre-order nodes with
    num-children), so it sees ResolvedHint nodes before the optimizer
    folds them into join strategies. The JSON does not serialize the
    hint strategy, but toString() renders the same tree in the same
    pre-order — the k-th ResolvedHint line there carries the k-th
    JSON hint's ``(strategy=...)``, so merge/shuffle hints are
    skipped. Returns one table name per offending (hint, scan) pair,
    e.g. ['customer', 'customer', 'supplier'] for three bad hints
    across the plan.
    """
    import json as _json
    import re as _re

    analyzed = df._jdf.queryExecution().analyzed()
    text = analyzed.toString()
    if "ResolvedHint" not in text:
        # no hint to audit; skip toJSON, which serializes every
        # expression tree (hundreds of MB for deeply nested ones)
        return []
    nodes = _json.loads(analyzed.toJSON())
    strategies = _re.findall(r"ResolvedHint \(strategy=(\w+)", text)

    def subtree(i: int) -> tuple[list[int], int]:
        """Indices of the subtree rooted at pre-order index i, and the
        index just past it."""
        out, j, remaining = [i], i + 1, nodes[i].get("num-children", 0)
        for _ in range(remaining):
            child, j = subtree(j)
            out.extend(child)
        return out, j

    def scan_tables(i: int) -> list[str]:
        """Scaling tables scanned at-or-below node i, NOT descending
        through cardinality-bounding nodes."""
        cls = nodes[i]["class"].rsplit(".", 1)[-1]
        if cls in _CARDINALITY_BOUNDING:
            return []
        if "Relation" in cls:
            cols = {
                a[0].get("name")
                for a in (nodes[i].get("output") or [])
                if isinstance(a, list) and a and isinstance(a[0], dict)
            }
            return [
                t for m, t in SCALING_TABLE_MARKERS.items() if m in cols
            ]
        found, j = [], i + 1
        for _ in range(nodes[i].get("num-children", 0)):
            found.extend(scan_tables(j))
            _, j = subtree(j)
        return found

    offenders: list[str] = []
    hint_idx = 0
    for i, n in enumerate(nodes):
        if n["class"].rsplit(".", 1)[-1] == "ResolvedHint":
            strategy = (
                strategies[hint_idx] if hint_idx < len(strategies) else "broadcast"
            )
            hint_idx += 1
            if strategy != "broadcast":
                continue
            offenders.extend(scan_tables(i + 1))
    return offenders
