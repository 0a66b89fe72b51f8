"""Walk an executed DataFrame's final adaptive plan through py4j and find
exchanges that repeat work.

Call these only after an action has run on the DataFrame itself (for
instance ``df.collect()``): adaptive execution rewrites that DataFrame's plan
in place, so the plan read afterwards is the final one, with its query
stages and ``ReusedExchange`` nodes.
"""

from __future__ import annotations

_EXCHANGES = ("ShuffleExchangeExec", "BroadcastExchangeExec")


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def node_kind(node) -> str:
    return node.getClass().getSimpleName()


def walk(plan) -> list:
    """Every node of a plan, logical or physical, from ``plan`` down. A
    physical walk descends through adaptive plans, query stages and
    subqueries; a ``ReusedExchangeExec`` is a leaf, so the exchange it
    reuses is listed once, where it ran."""
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        kind = node_kind(node)
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(node)
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


def nodes(df) -> list:
    """Every node of ``df``'s executed physical plan."""
    return walk(df._jdf.queryExecution().executedPlan())


def exchanges(df) -> list:
    """The shuffle and broadcast exchanges that ran (reused ones excluded)."""
    return [n for n in nodes(df) if node_kind(n) in _EXCHANGES]


def shuffles(df) -> list[str]:
    """One line per shuffle exchange that ran: its partitioning, then its
    shuffle origin, e.g. ``hashpartitioning(l_suppkey#12L, 4) ENSURE_REQUIREMENTS``."""
    return [
        f"{n.outputPartitioning().toString()} {n.shuffleOrigin().toString()}"
        for n in exchanges(df)
        if node_kind(n) == "ShuffleExchangeExec"
    ]


def repeated_exchanges(df) -> list[tuple[str, str]]:
    """Pairs of exchanges that both ran although they are ``sameResult``:
    the same kind and partitioning over children that compute the same
    rows, which is the match ``ReuseExchange`` shares. Each pair is given as
    the two exchanges' one-line descriptions."""
    ex = exchanges(df)
    return [
        (a.simpleString(25), b.simpleString(25))
        for i, a in enumerate(ex)
        for b in ex[i + 1:]
        if a.sameResult(b)
    ]
