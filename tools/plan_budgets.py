"""Plan budgets: the plan-shape counts of every contract query, pinned
in ``tests/plan_budgets.json`` and checked by
``tests/test_plan_budgets.py``.

``plan_budget(df)`` walks the JVM physical plan tree (not its text: a
persisted subplan prints once per scan of it). It descends into
``AdaptiveSparkPlan``, into query stages, into subqueries and into each
distinct cached relation exactly once, and counts:

* ``shuffle_exchanges`` and ``broadcast_exchanges`` (a reused exchange
  is not a new one);
* ``python_evals``: Arrow/pandas Python nodes (``ArrowEvalPython``,
  ``MapInArrow``/``MapInPandas``, grouped pandas);
* ``batch_eval_python``: row-at-a-time ``BatchEvalPython`` nodes;
* ``cached_relations``: distinct persisted relations the plan reads;
* ``cartesian_products``: ``CartesianProduct`` nodes;
* ``regex_scan_filters``: file scans with an ``rlike``/``regexp_*``
  function in their ``DataFilters`` (round 8 found that constraint
  inference had copied q80's ~20-regex url canonicalization into its
  scan's filters).

Every query is planned on the sf0.001 tables, after ``release_all()``,
in a ``local[4]`` session with 8 shuffle partitions (the pytest
session). Running this file rewrites the JSON; a before/after plan
comparison is this tool run at both commits and a diff of the JSONs.

Usage: python tools/plan_budgets.py
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.train_bpe import DEFAULT_SF as SF_DIR  # noqa: E402  (sf0.001)

BUDGETS_PATH = os.path.join(REPO, "tests", "plan_budgets.json")
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
FIELDS = (
    "shuffle_exchanges",
    "broadcast_exchanges",
    "python_evals",
    "batch_eval_python",
    "cached_relations",
    "cartesian_products",
    "regex_scan_filters",
)
_PYTHON_PACKAGE = "org.apache.spark.sql.execution.python."
_NODE_FIELDS = {
    "ShuffleExchangeExec": "shuffle_exchanges",
    "BroadcastExchangeExec": "broadcast_exchanges",
    "BatchEvalPythonExec": "batch_eval_python",
    "CartesianProductExec": "cartesian_products",
}


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def _has_regex(expr) -> bool:
    name = expr.getClass().getSimpleName()
    if name == "RLike" or name.startswith("RegExp"):
        return True
    return any(_has_regex(child) for child in _seq(expr.children()))


def plan_budget(df) -> dict[str, int]:
    """The ``FIELDS`` counts of ``df``'s physical plan."""
    counts = dict.fromkeys(FIELDS, 0)
    cached_plans: set[int] = set()

    def visit(node) -> None:
        cls = node.getClass().getName()
        name = cls.rsplit(".", 1)[-1]
        if name == "AdaptiveSparkPlanExec":
            return visit(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return visit(node.plan())
        if name == "InMemoryTableScanExec":
            cached = node.relation().cachedPlan()
            if cached.id() not in cached_plans:
                cached_plans.add(cached.id())
                counts["cached_relations"] += 1
                visit(cached)
        elif name in _NODE_FIELDS:
            counts[_NODE_FIELDS[name]] += 1
        elif cls.startswith(_PYTHON_PACKAGE):
            counts["python_evals"] += 1
        elif name == "FileSourceScanExec":
            counts["regex_scan_filters"] += any(
                _has_regex(f) for f in _seq(node.dataFilters())
            )
        for child in _seq(node.children()) + _seq(node.subqueries()):
            visit(child)

    visit(df._jdf.queryExecution().executedPlan())
    return counts


def measure(spark) -> dict[str, dict[str, int]]:
    """``plan_budget`` of every ``queries()`` entry, each planned after
    ``release_all()`` so no query reads another's persisted slot; a
    frame left persisted by an earlier caller is dropped first for the
    same reason (the CacheManager substitutes any equal cached plan)."""
    import __spark_entry__ as entry
    from ai_pdf_extraction_spark.plans.persist import release_all

    spark.catalog.clearCache()
    budgets = {}
    for name, query in entry.queries().items():
        release_all()
        budgets[name] = plan_budget(query(spark, SF_DIR))
    release_all()
    return budgets


def main() -> None:
    from ai_pdf_extraction_spark.session import build_session

    spark = build_session(
        app_name="plan_budgets",
        master=MASTER,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={"spark.driver.memory": "4g"},
    )
    budgets = measure(spark)
    spark.stop()
    # one line per query, sorted, so a plan change diffs as one line
    lines = [f"  {json.dumps(q)}: {json.dumps(budgets[q])}" for q in sorted(budgets)]
    with open(BUDGETS_PATH, "w") as fh:
        fh.write("{\n" + ",\n".join(lines) + "\n}\n")
    print(f"wrote {len(budgets)} budgets to {BUDGETS_PATH}")


if __name__ == "__main__":
    main()
