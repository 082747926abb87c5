"""Physical-plan introspection: the scale-property audit as an API.

Wraps Spark's formatted explain output into a typed audit of the
properties that decide whether a plan survives 100 TB — filter
pushdown, column pruning, broadcast vs shuffle joins, cartesian
products, whole-stage codegen coverage, exchange count. The plan-test
suite (tests/test_plans.py) and the PLANS.md generator both read these
properties; exposing them as an API lets users assert them in their own
pipelines:

    from parallel_monte_carlo_simulations_spark.plans import audit, assert_scale_safe
    a = audit(df)
    assert a.pushed_filters and not a.has_cartesian
    assert_scale_safe(df)          # raises with the offending plan text
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The "formatted" explain string (same text .explain prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@dataclass(frozen=True)
class PlanAudit:
    """Scale-relevant facts extracted from one physical plan."""

    pushed_filters: bool
    read_schemas: tuple[str, ...]
    n_exchanges: int
    n_broadcast_exchanges: int
    n_broadcast_hash_joins: int
    n_sort_merge_joins: int
    n_shuffled_hash_joins: int
    has_cartesian: bool
    has_nested_loop: bool
    has_take_ordered: bool
    n_codegen_spans: int
    n_python_evals: int
    plan: str = field(repr=False, default="")

    @property
    def join_count(self) -> int:
        return (
            self.n_broadcast_hash_joins
            + self.n_sort_merge_joins
            + self.n_shuffled_hash_joins
        )


def _codegen_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )


def audit(df: DataFrame) -> PlanAudit:
    plan = formatted_plan(df)
    read_schemas = tuple(
        m.group(1).strip()
        for m in re.finditer(r"ReadSchema: (.+)", plan)
    )
    # Whole-stage codegen spans: under AQE the markers only exist once
    # the plan is finalized by an action. After `df.count()` (or any
    # action on THIS df), the simple explain carries the "*(n)" stage
    # markers of the final plan; before that, fall back to the codegen
    # explain mode (non-zero only without AQE). Callers wanting a codegen
    # count should execute the frame first.
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    n_spans = len(set(re.findall(r"\*\((\d+)\)", simple)))
    if n_spans == 0:
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees", _codegen_plan(df)
        )
        n_spans = int(m.group(1)) if m else 0
    return PlanAudit(
        pushed_filters=bool(
            re.search(r"PushedFilters: \[.+\]", plan)
        ),
        read_schemas=read_schemas,
        # \bExchange\b does not match inside BroadcastExchange (no word
        # boundary after "Broadcast"), so this counts shuffles only
        n_exchanges=len(re.findall(r"\bExchange\b", plan)),
        n_broadcast_exchanges=len(re.findall(r"BroadcastExchange", plan)),
        n_broadcast_hash_joins=len(re.findall(r"BroadcastHashJoin", plan)),
        n_sort_merge_joins=len(re.findall(r"SortMergeJoin", plan)),
        n_shuffled_hash_joins=len(re.findall(r"ShuffledHashJoin", plan)),
        has_cartesian="CartesianProduct" in plan,
        has_nested_loop="BroadcastNestedLoopJoin" in plan,
        has_take_ordered="TakeOrderedAndProject" in plan,
        n_codegen_spans=n_spans,
        n_python_evals=len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas", plan)
        ),
        plan=plan,
    )


class ScaleSafetyError(AssertionError):
    pass


def assert_scale_safe(
    df: DataFrame,
    *,
    allow_nested_loop: bool = False,
    max_exchanges: int | None = None,
) -> PlanAudit:
    """Raise if the plan contains the patterns that do not survive a
    100x scale-up: a cartesian product, an (optionally tolerated)
    nested-loop join, or more shuffle exchanges than budgeted."""
    a = audit(df)
    problems = []
    if a.has_cartesian:
        problems.append("CartesianProduct")
    if a.has_nested_loop and not allow_nested_loop:
        problems.append("BroadcastNestedLoopJoin")
    if max_exchanges is not None and a.n_exchanges > max_exchanges:
        problems.append(
            f"{a.n_exchanges} shuffle exchanges (budget {max_exchanges})"
        )
    if problems:
        raise ScaleSafetyError(
            "; ".join(problems) + "\n\n" + a.plan[:4000]
        )
    return a


# --------------------------------------------------------------------------
# Scale-hazard walkers over a formatted plan string. Pure functions of
# the text, so one explain serves both; tests/test_oracle.py applies
# them to every registered query against reviewed whitelists.
# --------------------------------------------------------------------------

_BROADCAST_BOUNDING = re.compile(r"GlobalLimit|TakeOrderedAndProject|CollectLimit")
_AGG = re.compile(r"(?:Object|Sort)?(?:Hash)?Aggregate \((\d+)\)")
_KEYLESS = re.compile(
    r"\((\d+)\) (?:Object|Sort)?(?:Hash)?Aggregate[^\n]*\n"
    r"(?:[^\n]*\n)*?Keys(?: \[\d+\])?: \[\]"
)


def _split_plan(plan: str) -> tuple[list[str], str]:
    """(tree lines, detail section) of a formatted plan."""
    parts = plan.split("\n\n", 1)
    return parts[0].splitlines(), parts[1] if len(parts) > 1 else ""


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def unbounded_generate_broadcasts(plan: str) -> int:
    """Count BroadcastExchanges whose input subtree contains a Generate
    and no cardinality-bounding op (keyless aggregate or limit).

    Catalyst's static size estimate of a post-explode frame stays
    anchored to the tiny scan it derives from — the row multiplication
    of a Generate is invisible — so the planner happily auto-broadcasts
    frames whose true cardinality scales with the corpus. At 10x docs
    the build dies (notEnoughMemoryToBuildAndBroadcastTable); at 100 TB
    the plan is a guaranteed job kill. The fix is ``.hint("merge")`` on
    the corpus-sided join (see dedup/minhash.py) or bounding the frame.
    """
    lines, detail = _split_plan(plan)
    global_aggs = {m.group(1) for m in _KEYLESS.finditer(detail)}
    n = 0
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        indent = _indent(line)
        sub, bounded = [], False
        for below in lines[i + 1 :]:
            if _indent(below) <= indent:
                break
            if _BROADCAST_BOUNDING.search(below):
                bounded = True
                break
            agg = _AGG.search(below)
            if agg and agg.group(1) in global_aggs:
                bounded = True
                break
            sub.append(below)
        if not bounded and any("Generate" in x for x in sub):
            n += 1
    return n


def consumer_exchanges(df: DataFrame) -> int:
    """Count the shuffle Exchanges of ``df``'s physical plan that are not
    under an ``InMemoryTableScan`` — the exchanges the query pays on top
    of its caches, not the ones that built them.

    A consumer of a cache that has not run yet sees unknown partitioning
    and re-exchanges the cached rows; ``tables.materialize`` exists to
    avoid that. Walks the JVM plan rather than the formatted text: Spark
    prints the Final/Initial sections of a cache that has run at the
    depth of its own sub-plan, so text indentation cannot tell where a
    nested cache ends."""

    def walk(node) -> int:
        name = node.nodeName()
        if name == "InMemoryTableScan":
            return 0
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        kids = node.children()
        return int(name == "Exchange") + sum(
            walk(kids.apply(i)) for i in range(kids.size())
        )

    return walk(df._jdf.queryExecution().executedPlan())


#: Columns whose domain is a handful of values on ANY corpus size:
#: partitioning a corpus-sized window by only these caps parallelism at
#: the domain size — same straggler as an empty spec, just K-way.
LOW_CARD_COLS = frozenset({
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "c_mktsegment",
    "event_type",
    "r_name",
    "source",
    "lang",
    "segment",
})

#: Aggregate grouping keys that bound their rollup by construction.
#: ``__rsbucket`` is the rankstats kernel's range bucket (<= n_buckets
#: values, enforced by least(n_buckets-1, ...) in with_range_bucket).
BOUNDED_KEY_NAMES = frozenset({"__rsbucket"})

_WINDOW_BOUNDING = re.compile(
    r"GlobalLimit|TakeOrderedAndProject|CollectLimit|WindowGroupLimit"
)
_TREE_NODE = re.compile(r"(\w+(?:GroupLimit|InPandas)?) \((\d+)\)")


def _split_top_level_brackets(s: str) -> list[str]:
    """Top-level ``[...]`` groups of a detail Arguments line."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                out.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return out


def _detail_blocks(detail: str) -> dict[str, str]:
    """node id -> its detail block text."""
    blocks: dict[str, str] = {}
    cur_id = None
    for line in detail.splitlines():
        m = re.match(r"^\((\d+)\) (\w+)", line)
        if m:
            cur_id = m.group(1)
            blocks[cur_id] = line + "\n"
        elif cur_id is not None:
            blocks[cur_id] += line + "\n"
    return blocks


def _window_partition_cols(block: str) -> list[str] | None:
    """Partition columns of a Window node's detail block; [] = global.

    The Arguments line is ``[exprs], [partition], [order]`` — or just
    ``[exprs], [order]`` when the partition spec is empty (order items
    carry ASC/DESC markers, partition items don't)."""
    m = re.search(r"^Arguments: (.*)$", block, re.M)
    if not m:
        return None
    lists = _split_top_level_brackets(m.group(1))
    if len(lists) >= 3:
        part = lists[1]
    elif len(lists) == 2:
        part = "" if (" ASC" in lists[1] or " DESC" in lists[1]) else lists[1]
    else:
        return None
    return [
        re.sub(r"#\d+\w*", "", c.strip())
        for c in part.split(",")
        if c.strip()
    ]


def _subtree_bounded(sub_lines: list[str], blocks: dict[str, str]) -> bool:
    """True when a row-bounding node caps the window's input. A
    ``Generate`` (explode) encountered on the walk DOWN from the window
    re-expands whatever a deeper bound capped, so any bounding marker
    found after a Generate no longer counts (the tree prints
    output-to-input: lines above consume lines below)."""
    generated = False
    for line in sub_lines:
        if "Generate" in line:
            generated = True
            continue
        if generated:
            continue
        if _WINDOW_BOUNDING.search(line):
            return True
        for node, nid in _TREE_NODE.findall(line):
            if "Aggregate" not in node:
                continue
            block = blocks.get(nid, "")
            km = re.search(r"^Keys(?: \[\d+\])?: \[(.*)\]$", block, re.M)
            if km is None:
                continue
            keys = [k.strip() for k in km.group(1).split(",") if k.strip()]
            if not keys:
                return True  # keyless/global aggregate: scalar frame
            names = {re.sub(r"#\d+\w*", "", k) for k in keys}
            if names & BOUNDED_KEY_NAMES:
                return True  # rankstats bucket rollup: <= n_buckets rows
            if names <= LOW_CARD_COLS:
                return True  # rollup keyed ONLY on low-card domains
    return False


def unbounded_global_windows(plan: str) -> int:
    """Count Window/WindowInPandas nodes whose partition spec is empty
    or entirely low-cardinality and whose input subtree carries no
    structural row bound.

    An empty spec plans an ``Exchange SinglePartition`` under the
    window — the entire input serializes through one task; a spec of
    only low-cardinality columns is the same straggler, K-way. A window
    counts as bounded when its input passes through a keyless
    aggregate, an explicit row cut (limit, top-k, ``WindowGroupLimit``)
    or an aggregate keyed on a bounded-domain column (``__rsbucket``,
    the operators/rankstats.py kernel contract)."""
    lines, detail = _split_plan(plan)
    blocks = _detail_blocks(detail)
    n = 0
    for i, line in enumerate(lines):
        m = re.search(r"\b(Window(?:InPandas)?) \((\d+)\)", line)
        if not m:
            continue
        cols = _window_partition_cols(blocks.get(m.group(2), ""))
        if cols is None:
            continue
        if cols and not all(c in LOW_CARD_COLS for c in cols):
            continue
        indent = _indent(line)
        sub = []
        for below in lines[i + 1 :]:
            if _indent(below) <= indent:
                break
            sub.append(below)
        if not _subtree_bounded(sub, blocks):
            n += 1
    return n
