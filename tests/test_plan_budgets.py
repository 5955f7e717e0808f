"""Plan budgets (tools/plan_budgets.py): every contract query's physical
plan keeps the shape pinned in ``tests/plan_budgets.json``, and the
counter counts each hazard it names, once, on tiny frames."""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import functions as F

from tools.plan_budgets import (
    BUDGETS_PATH,
    FIELDS,
    MASTER,
    SHUFFLE_PARTITIONS,
    measure,
    plan_budget,
)

# a plan with either is wrong at any scale, so no budget may pin one
NEVER = ("batch_eval_python", "cartesian_products")


def _differences(pinned: dict, measured: dict) -> list[str]:
    out = [f"{q}: no budget in the JSON" for q in sorted(measured.keys() - pinned.keys())]
    out += [
        f"{q}: budget for a query not in queries()"
        for q in sorted(pinned.keys() - measured.keys())
    ]
    for q in sorted(pinned.keys() & measured.keys()):
        for field in FIELDS:
            was, now = pinned[q].get(field), measured[q][field]
            if was is None:
                out.append(f"{q}: {field} missing from its budget (plan has {now})")
            elif now != was:
                how = "grew" if now > was else "shrank"
                out.append(f"{q}: {field} {how} {was} -> {now}")
    return out


def _budget(**counts: int) -> dict[str, int]:
    return {**dict.fromkeys(FIELDS, 0), **counts}


def test_contract_query_plans_keep_their_budgets(spark):
    assert spark.sparkContext.master == MASTER
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(SHUFFLE_PARTITIONS)
    with open(BUDGETS_PATH) as fh:
        pinned = json.load(fh)
    problems = _differences(pinned, measure(spark))
    assert not problems, (
        f"plans differ from {BUDGETS_PATH}:\n  "
        + "\n  ".join(problems)
        + "\nFor an intended plan change, rerun `python tools/plan_budgets.py`"
        " and say in CHANGES.md which counts moved and why."
    )
    pinned_never = [f"{q}: {f} = {b[f]}" for q, b in pinned.items() for f in NEVER if b[f]]
    assert not pinned_never, pinned_never


def test_plan_budget_counts_a_cartesian_product(spark):
    df = spark.range(3).hint("shuffle_replicate_nl").crossJoin(spark.range(4))
    assert plan_budget(df) == _budget(cartesian_products=1)


def test_plan_budget_counts_a_regex_in_scan_data_filters(spark, tmp_path):
    path = str(tmp_path / "urls.parquet")
    spark.createDataFrame([("https://a.example/x",)], "url string").write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("url").rlike("^https://"))
    assert plan_budget(df) == _budget(regex_scan_filters=1)


def test_plan_budget_walks_a_cached_relation_once(spark):
    """Two scans of one persisted frame: one cached relation, and the
    shuffle inside its plan counts once (the plan text prints it under
    each scan)."""
    base = spark.range(30).groupBy((F.col("id") % 3).alias("k")).count().persist()
    try:
        df = base.filter("k = 0").union(base.filter("k = 2"))
        assert plan_budget(df) == _budget(shuffle_exchanges=1, cached_relations=1)
    finally:
        base.unpersist()


def test_plan_budget_counts_python_evals(spark):
    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    @F.udf("long")
    def plus_two(v):
        return v + 2

    assert plan_budget(spark.range(5).select(plus_one("id"))) == _budget(python_evals=1)
    assert plan_budget(spark.range(5).select(plus_two("id"))) == _budget(
        batch_eval_python=1
    )


def test_plan_budget_splits_broadcast_and_shuffle_exchanges(spark):
    a = spark.range(50).select((F.col("id") % 7).alias("k"))
    b = spark.range(20).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
    assert plan_budget(a.join(F.broadcast(b), "k")) == _budget(broadcast_exchanges=1)
    assert plan_budget(a.join(b.hint("merge"), "k")) == _budget(shuffle_exchanges=2)
