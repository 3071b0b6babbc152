"""Physical-plan inspection — the engine's scale guardrails.

The reference has no optimizer to test (SURVEY.md §4: its only
"pruning" is the schema-driven filler drop). In a Catalyst engine the
equivalent discipline is asserting the *properties of the chosen
plan*: filters reach the parquet scan, projections prune the read
schema, small dimensions broadcast, fact tables shuffle at most once.
These helpers turn `.explain("formatted")` output into testable
predicates so a regression that silently de-optimizes a query (a lost
pushdown, a broadcast that became a shuffle) fails CI instead of
surfacing as a 100× slowdown at 100 TB.

Also the K11 parity seam: the reference's dry-run mode logs the SQL it
*would* run (`import_sirene.py:78-93` in the reference repo); here
``physical_plan`` is the engine analog — inspect the plan without
executing it.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "pushed_filters",
    "read_schemas",
    "exchange_count",
    "has_broadcast_hash_join",
    "scaling_broadcast_tables",
    "single_partition_windows_scaling",
    "unbounded_bnlj_sides",
]


def physical_plan(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (pre-execution; AQE may still improve
    it at runtime — these checks assert the static lower bound)."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """Every PushedFilters entry across the plan's file scans."""
    plan = physical_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        out.extend(s.strip() for s in m.group(1).split(",") if s.strip())
    return out


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of each file scan — the columns actually read; a scan
    reading columns the query never touches is a pruning failure."""
    plan = physical_plan(df)
    return re.findall(r"ReadSchema: (struct<[^\n]*>)", plan)


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges).
    Every one is a full network redistribution of its input — the
    unit of cost that must not grow with refactors.

    Counted on the simple-mode plan: formatted mode splits the node
    name and its partitioning arguments onto different lines, which a
    single-line pattern silently misses (every count reads 0 and any
    upper-bound assertion passes vacuously)."""
    plan = physical_plan(df, "simple")
    return len(
        re.findall(r"Exchange (?:hash|range)partitioning", plan)
    )


def has_broadcast_hash_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


# --- broadcast-hint grain audit -------------------------------------
#
# TPC-H's customer/supplier/part tables LOOK dimensional but scale
# linearly with SF (~2 TB of customer at 100 TB): an explicit
# ``F.broadcast`` hint on them bypasses AQE's runtime size check and
# turns into a guaranteed driver/executor OOM at cluster scale, while
# the same query with no hint still broadcasts when the side is
# genuinely small. These helpers classify every broadcast hint in a
# query's ANALYZED logical plan by the grain of what it pins.

_SCALING_PREFIX = {
    "l_": "lineitem",
    "o_": "orders",
    "c_": "customer",
    "s_": "supplier",
    "p_": "part",
    "ps_": "partsupp",
    "event_": "events",
    "doc_": "documents",
    "vec_": "embeddings",
}
# key-grain columns: grouping BY one of these keeps entity grain (the
# aggregate output still scales with SF); a literal filter ON one of
# these pins cardinality to a constant (doc_id < 40, vec_id IN (...)).
_KEY_COL = (
    r"\b(?:doc_id|vec_id|event_id|user_id|session_id|media_id"
    r"|[a-z]{1,2}_(?:cust|supp|part|order|nation|region)key)"
)
_BOUNDING_FILTER = re.compile(
    # literal on the right, possibly wrapped: `< 40`, `< cast(10 as
    # bigint)`, `IN (1,2,3)`, `IN (cast(7 as bigint), ...)`
    _KEY_COL + r"#\d+L?\)?\s*(?:<|<=|=|IN)\s*\(?\s*(?:cast\(\s*)?-?\d"
)
_GROUP_KEY = re.compile(_KEY_COL + r"#\d+")
# top-k bound: a Filter pinning a window-rank column to a literal
# (rk <= 5, __prk <= 8). Name-based — the repo's rank columns all
# carry rk/rank/rn; per-ENTITY top-k would be a false negative, but
# every broadcast top-k here ranks within a literal-pinned query set.
_RANK_FILTER = re.compile(
    r"\b\w*(?:rk|rank|rn)\w*#\d+L?\s*(?:<=|<|=)\s*(?:cast\(\s*)?\d"
)


def _jchildren(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.length())]


# Nodes that bound a subtree's cardinality to a constant regardless of
# SF. Logical and physical spellings both listed — the walker serves
# the analyzed plan (broadcast hints, windows) and the sparkPlan
# (BNLJ build sides).
_BOUNDED_LEAVES = {
    "LocalRelation",
    "LocalTableScan",
    "OneRowRelation",
    "EmptyRelation",
    # Driver-materialized rows (spark.createDataFrame over a Python
    # list): bounded by driver memory BY CONSTRUCTION — the rows
    # already existed on the driver before Spark saw them, so
    # broadcasting them back cannot OOM anything the program hadn't
    # already OOMed. (An sc.parallelize of a huge list is broken
    # upstream of any plan gate.) Without this, literal dims whose
    # column names shadow a fact prefix (event_date on a 30-row
    # campaign dim) false-positive the prefix heuristic.
    "LogicalRDD",
    "ExternalRDD",
    "Scan ExistingRDD",
}
_LIMIT_NODES = {
    "GlobalLimit",
    "LocalLimit",
    "CollectLimit",
    "TakeOrderedAndProject",
}
_AGG_NODES = {
    "Aggregate",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
}


def _filter_bounds(condition) -> bool:
    """True iff a Filter condition pins cardinality to a constant:
    SOME top-level AND-conjunct is a bounding predicate (entity key or
    window-rank column compared to a literal). Conjuncts only ever
    TIGHTEN a filter, so one bounding conjunct bounds the whole
    condition regardless of what the others contain — the OR/NOT
    guard applies PER CONJUNCT, not to the rendered string (a huge
    pushed-down expression sharing the condition used to disqualify a
    plain ``doc_id < 60`` sitting next to it). A conjunct containing
    OR (one disjunct can admit the whole table) or NOT (``key != 5``
    admits essentially everything) never bounds, exactly as before."""
    conjuncts = [condition]
    flat: list[str] = []
    while conjuncts:
        e = conjuncts.pop()
        if e.nodeName() == "And":
            ch = e.children()
            conjuncts.extend(ch.apply(i) for i in range(ch.length()))
        else:
            flat.append(e.toString())
    for s in flat:
        if " OR " in s or "NOT " in s:
            continue
        if _BOUNDING_FILTER.search(s) or _RANK_FILTER.search(s):
            return True
    return False


def _subtree_scaling_tables(node) -> list[str]:
    """SF-scaling base tables reachable from ``node`` without passing a
    cardinality-bounding operator. The bounding rules (shared by all
    three audit gates): a Limit/TakeOrdered, a constant ``Range``, a
    literal relation, an Aggregate whose grouping keys carry no
    entity-key column (scalar totals, day/month/type domains), or a
    conjunction-only Filter pinning an entity key or window-rank
    column to literals (probe sets, top-k truth sets; OR/NOT never
    bound — see scaling_broadcast_tables). Any leaf whose first output
    column carries an SF-scaling prefix and is reached unbounded is
    reported."""
    found: list[str] = []
    stack = [node]
    while stack:
        n = stack.pop()
        name = n.nodeName().strip()
        if name in _BOUNDED_LEAVES or name in _LIMIT_NODES:
            continue
        if name == "Range":
            # spark.range(a, b) of literal bounds: constant wrt SF.
            continue
        if name in _AGG_NODES:
            gs = n.groupingExpressions()
            keys = " ".join(
                gs.apply(i).toString() for i in range(gs.length())
            )
            if gs.length() == 0 or not _GROUP_KEY.search(keys):
                continue  # scalar or bounded-domain aggregate
        elif name == "Filter":
            if _filter_bounds(n.condition()):
                continue  # entity key or window rank pinned
        kids = _jchildren(n)
        if not kids:
            try:
                first = n.output().apply(0).name()
            except Exception:  # noqa: BLE001 - outputless leaf
                continue
            for prefix, table in _SCALING_PREFIX.items():
                if first.startswith(prefix):
                    found.append(table)
                    break
            continue
        stack.extend(kids)
    return sorted(set(found))


def single_partition_windows_scaling(df: DataFrame) -> list[str]:
    """SF-scaling base tables feeding a single-partition Window.

    A Window whose partitionSpec is empty or all-foldable (the
    ``Window.partitionBy(F.lit(1))`` grand-total idiom) physically
    plans an ``Exchange SinglePartition``: its WHOLE input flows
    through one task. Over a bounded post-aggregate domain (deciles,
    months, distinct levels) that is fine; over a domain that scales
    with SF it is the 100 TB cliff (VERDICT r10 #1 — q11's |parts|
    grain). This walks each such Window's input subtree with the
    shared bounding rules and returns the scaling tables it can reach
    — must be [] for every query (gated by tools/planaudit.py as
    ``spw_scaling``)."""
    found: list[str] = []
    root = df._jdf.queryExecution().analyzed()
    stack = [root]
    while stack:
        n = stack.pop()
        kids = _jchildren(n)
        if n.nodeName() == "Window":
            ps = n.partitionSpec()
            exprs = [ps.apply(i) for i in range(ps.length())]
            if all(e.foldable() for e in exprs):
                for k in kids:
                    found.extend(_subtree_scaling_tables(k))
        stack.extend(kids)
    return sorted(set(found))


def unbounded_bnlj_sides(df: DataFrame) -> list[str]:
    """SF-scaling base tables on the BROADCAST side of a
    BroadcastNestedLoopJoin.

    The repo's BNLJ occurrences are all broadcast 1-row scalars (the
    ``crossJoin(F.broadcast(totals))`` pattern) or literal-bounded
    probe sets; a regression that BNLJs a many-row SF-scaling side
    would both OOM the driver at scale AND quadratically re-stream the
    probe side. Walks the pre-AQE sparkPlan, resolves each BNLJ's
    build side from ``buildSide()``, and classifies that subtree with
    the shared bounding rules — must be [] for every query (gated by
    tools/planaudit.py as ``bnlj_unbounded``; VERDICT r10 #2)."""
    found: list[str] = []
    root = df._jdf.queryExecution().sparkPlan()
    stack = [root]
    while stack:
        n = stack.pop()
        kids = _jchildren(n)
        if n.nodeName() == "BroadcastNestedLoopJoin" and len(kids) == 2:
            side = 1 if "Right" in n.buildSide().toString() else 0
            found.extend(_subtree_scaling_tables(kids[side]))
        stack.extend(kids)
    return sorted(set(found))


def scaling_broadcast_tables(df: DataFrame) -> list[str]:
    """Names of SF-scaling base tables pinned under a broadcast hint.

    Walks each BROADCAST ``ResolvedHint`` subtree in the analyzed
    logical plan (merge/shuffle_hash hints are the OOM-safe
    alternatives and are never flagged); a branch is *bounded* (stops
    the walk) at a Limit, at an Aggregate whose grouping keys carry no
    entity-key column (scalar totals, day/month/type domains), or at a
    conjunction-only Filter that pins an entity key or a window-rank
    column to literals (probe sets, top-k eval truth sets — a filter
    containing OR never bounds, since one disjunct can admit the whole
    table, and a filter containing NOT never bounds, since the inner
    comparison of `key != 5` / `~(key < 10)` would otherwise match
    _BOUNDING_FILTER while admitting essentially the whole table; an
    always-bounding OR/NOT shows up as a flagged-for-review false
    positive, the safe direction for a must-be-zero gate).
    Anything else recurses, and reaching a scan of an SF-scaling table
    (classified by its first output column prefix) flags that table.
    Empty list = every broadcast hint in the plan is
    constant-cardinality. Heuristic, reviewer-aid grade: used by
    tools/planaudit.py (`broadcast_scaling`) and pinned at zero across
    the whole query surface by tests."""
    found: list[str] = []
    root = df._jdf.queryExecution().analyzed()
    stack = [root]
    hints = []
    while stack:
        n = stack.pop()
        if n.nodeName() == "ResolvedHint":
            try:
                strategy = n.hints().toString()
            except Exception:
                strategy = "broadcast"  # be conservative: audit it
            if "broadcast" in strategy.lower():
                hints.append(n)
        stack.extend(_jchildren(n))
    for hint in hints:
        for k in _jchildren(hint):
            found.extend(_subtree_scaling_tables(k))
    return sorted(set(found))
