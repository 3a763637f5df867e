"""Plan walkers shared by the tests that pin a query plan's shape. They
read plan nodes and expressions by class, never by ``toString()``."""

from __future__ import annotations


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def node_class(node) -> str:
    """Simple class name of a JVM plan node or expression."""
    return node.getClass().getSimpleName()


def plan_nodes(node):
    """Every node of a logical or physical plan, pre-order: through the
    adaptive wrapper and into each query stage's plan."""
    name = node_class(node)
    if name == "AdaptiveSparkPlanExec":
        yield from plan_nodes(node.executedPlan())
        return
    yield node
    if name.endswith("QueryStageExec"):
        yield from plan_nodes(node.plan())
    for child in _seq(node.children()):
        yield from plan_nodes(child)


def optimized_classes(df) -> list[str]:
    """Node classes of ``df``'s optimized logical plan."""
    return [node_class(n) for n in plan_nodes(df._jdf.queryExecution().optimizedPlan())]


def python_evals(df):
    """Run ``df`` and count the Python evaluation nodes (pandas/Arrow
    UDF projections and map-in-pandas relations) its plan executed."""
    df.collect()
    names = [node_class(n) for n in plan_nodes(df._jdf.queryExecution().executedPlan())]
    n = sum(1 for c in names if c.endswith("EvalPythonExec") or c.startswith("MapIn"))
    return n, names


def _subtrees(expr, cls: str):
    """The nodes of class ``cls`` in the expression tree ``expr``."""
    if node_class(expr) == cls:
        yield expr
    for child in _seq(expr.children()):
        yield from _subtrees(child, cls)


def invariant_lambda_md5s(df) -> list[str]:
    """The ``Md5`` subtrees inside a lambda body of ``df``'s optimized
    plan that read no lambda variable. Each is the same for every
    element of the array, yet a higher-order function such as
    ``transform`` evaluates it once per element."""
    found = []
    for node in plan_nodes(df._jdf.queryExecution().optimizedPlan()):
        for expr in _seq(node.expressions()):
            for lam in _subtrees(expr, "LambdaFunction"):
                for md5 in _subtrees(lam.function(), "Md5"):
                    if next(_subtrees(md5, "NamedLambdaVariable"), None) is None:
                        found.append(md5.toString())
    return found
