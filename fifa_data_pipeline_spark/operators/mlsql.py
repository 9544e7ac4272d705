"""Model-to-SQL compilation: run ML inference as pure Catalyst
expressions (cf. PAPERS.md — "Machine Learning Inference Pipeline
Execution Using Pure SQL Based on Operator Fusion", ICDE 2025).

A trained tree ensemble or linear model is just arithmetic over
columns; compiling it to ``CASE``/dot-product expressions instead of
calling out to a Python UDF keeps inference inside whole-stage
codegen — the batch-scoring trick that makes "score 100 TB" a plain
scan-side projection (zero Python round-trips, filters on the score
still push down, and the expression fuses with whatever aggregation
consumes it).

Scope note: TRAINING stays in the existing operators
(``q_grouped_linreg`` fits OLS distributed; ``q_pca_project`` the
same for PCA); this module is the inference side — the model arrives
as a static spec (dict), exactly what a registry/artifact store
hands a scoring job.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decision-tree node spec: either {"leaf": value} or
#: {"feat": col, "thr": x, "lo": node, "hi": node} — feat <= thr
#: routes to "lo".
TreeSpec = dict


def tree_to_column(node: TreeSpec) -> Column:
    """Recursively compile a decision tree into one nested CASE
    expression. Depth d → d nested WHENs; Catalyst folds the whole
    thing into a single codegen'd projection, and identical subtrees
    are shared by subexpression elimination."""
    if "leaf" in node:
        return F.lit(float(node["leaf"]))
    cond = F.col(node["feat"]) <= F.lit(float(node["thr"]))
    return F.when(
        cond, tree_to_column(node["lo"])
    ).otherwise(tree_to_column(node["hi"]))


def logistic_to_column(
    weights: dict[str, float], intercept: float
) -> Column:
    """Logistic-regression scorer: sigmoid of the dot product,
    entirely in builtin functions."""
    z = F.lit(float(intercept))
    for col, w in weights.items():
        z = z + F.lit(float(w)) * F.col(col)
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
