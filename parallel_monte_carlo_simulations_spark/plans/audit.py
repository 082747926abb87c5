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
from collections.abc import Iterator
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
# Scale-hazard walkers over the JVM physical plan tree; tests/test_oracle.py
# applies them to every registered query against reviewed whitelists.
# --------------------------------------------------------------------------

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

_ROW_CUTS = frozenset({"GlobalLimit", "TakeOrderedAndProject", "CollectLimit"})
_AGGREGATES = frozenset({"HashAggregate", "ObjectHashAggregate", "SortAggregate"})


@dataclass(eq=False)
class _Node:
    """One physical operator: its name, its key names with ``#<id>``
    stripped (an aggregate's grouping keys, a window's partition spec;
    empty for every other operator) and its inputs."""

    name: str
    keys: frozenset[str]
    children: list[_Node]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _key_names(exprs) -> frozenset[str]:
    return frozenset(re.sub(r"#\d+\w*", "", e.toString()) for e in _seq(exprs))


def _plan_tree(df: DataFrame) -> _Node:
    """``df``'s physical plan with every wrapper resolved to the plan it
    runs: an AQE plan to its current plan, a query stage (a cache that
    has run holds Spark 4.1 ``ResultQueryStage``s) to its stage plan, a
    reused exchange to that exchange, and an ``InMemoryTableScan`` to the
    cached plan. Those last three are where a plan reaches one JVM node
    twice; they are shared by JVM identity, so a cache that every
    unrolled iteration reads is converted, and walked, once."""
    identity = df._sc._jvm.System.identityHashCode
    seen: dict[int, tuple] = {}

    def shared(j) -> _Node:
        key = identity(j)
        if key not in seen or not seen[key][0].equals(j):
            seen[key] = (j, convert(j))
        return seen[key][1]

    def convert(j) -> _Node:
        name = j.nodeName()
        if name == "AdaptiveSparkPlan":
            kids = [convert(j.executedPlan())]
        elif name.endswith("QueryStage"):
            kids = [shared(j.plan())]
        elif name == "ReusedExchange":
            kids = [shared(j.child())]
        elif name == "InMemoryTableScan":
            kids = [shared(j.relation().cachedPlan())]
        else:
            kids = [convert(k) for k in _seq(j.children())]
        if name in _AGGREGATES:
            keys = _key_names(j.groupingExpressions())
        elif name == "Window":
            keys = _key_names(j.partitionSpec())
        else:
            keys = frozenset()
        return _Node(name, keys, kids)

    return convert(df._jdf.queryExecution().executedPlan())


def _nodes(root: _Node, stop: str = "") -> Iterator[_Node]:
    """Each distinct node under ``root`` once, not descending below
    nodes named ``stop``."""
    seen, todo = set(), [root]
    while todo:
        node = todo.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        yield node
        if node.name != stop:
            todo.extend(node.children)


def _bounds(node: _Node, windowed: bool) -> bool:
    """True when ``node`` caps its output rows whatever its input size:
    a limit or top-k, a keyless aggregate and, under a window, a
    ``WindowGroupLimit`` or a rollup keyed on a bounded domain."""
    if node.name in _ROW_CUTS or (windowed and node.name == "WindowGroupLimit"):
        return True
    if node.name not in _AGGREGATES:
        return False
    return not node.keys or (
        windowed
        and bool(node.keys & BOUNDED_KEY_NAMES or node.keys <= LOW_CARD_COLS)
    )


def _unbounded(windowed: bool):
    """node -> whether some path down from it reaches a ``Generate``
    (under a window, also any leaf) through no bounding node. A
    ``Generate`` never bounds: it re-expands whatever a deeper bound
    capped."""
    memo: dict[int, bool] = {}

    def unbounded(node: _Node) -> bool:
        if id(node) not in memo:
            memo[id(node)] = (
                node.name == "Generate"
                or (windowed and not node.children)
                or (
                    not _bounds(node, windowed)
                    and any(unbounded(c) for c in node.children)
                )
            )
        return memo[id(node)]

    return unbounded


def unbounded_generate_broadcasts(df: DataFrame) -> int:
    """Count BroadcastExchanges with a path from their input down to a
    Generate that no cardinality-bounding op (keyless aggregate or
    limit) cuts.

    Catalyst's static size estimate of a post-explode frame stays
    anchored to the tiny scan it derives from — the row multiplication
    of a Generate is invisible — so the planner happily auto-broadcasts
    frames whose true cardinality scales with the corpus. At 10x docs
    the build dies (notEnoughMemoryToBuildAndBroadcastTable); at 100 TB
    the plan is a guaranteed job kill. The fix is ``.hint("merge")`` on
    the corpus-sided join (see dedup/minhash.py) or bounding the frame.
    """
    unbounded = _unbounded(windowed=False)
    return sum(
        n.name == "BroadcastExchange" and unbounded(n.children[0])
        for n in _nodes(_plan_tree(df))
    )


def consumer_exchanges(df: DataFrame) -> int:
    """Count the shuffle Exchanges of ``df``'s physical plan that are not
    under an ``InMemoryTableScan`` — the exchanges the query pays on top
    of its caches, not the ones that built them.

    A consumer of a cache that has not run yet sees unknown partitioning
    and re-exchanges the cached rows; ``tables.materialize`` exists to
    avoid that."""
    return sum(
        n.name == "Exchange"
        for n in _nodes(_plan_tree(df), stop="InMemoryTableScan")
    )


def unbounded_global_windows(df: DataFrame) -> int:
    """Count Window nodes whose partition spec is empty or entirely
    low-cardinality and whose input has a path to a leaf or a Generate
    that no structural row bound cuts.

    An empty spec plans an ``Exchange SinglePartition`` under the
    window — the entire input serializes through one task; a spec of
    only low-cardinality columns is the same straggler, K-way. A window
    counts as bounded when every path into it passes a keyless
    aggregate, an explicit row cut (limit, top-k, ``WindowGroupLimit``)
    or an aggregate keyed on a bounded-domain column (``__rsbucket``,
    the operators/rankstats.py kernel contract)."""
    unbounded = _unbounded(windowed=True)
    return sum(
        n.name == "Window"
        and n.keys <= LOW_CARD_COLS
        and unbounded(n.children[0])
        for n in _nodes(_plan_tree(df))
    )
