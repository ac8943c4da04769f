"""Run-state derivation, MLlib fit stage, stateful streaming operator.

Reference: state polling (matdb/database/__init__.py:539-554), trainer
lifecycle (fitting/basic.py:393-488), active-learning incremental state
(database/active.py:158-205).
"""

from pyspark.sql import functions as F

from tracy_matdb_spark.operators.runstate import derive_run_state, run_state_rollup


def test_run_state_all_branches(spark):
    expected = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "run_id string")
    extracted = spark.createDataFrame(
        [("a", -1.0, True), ("b", -2.0, False), ("c", None, True)],
        "run_id string, ref_energy double, converged boolean",
    )
    states = {r["run_id"]: r["state"] for r in derive_run_state(expected, extracted).collect()}
    assert states == {"a": "done", "b": "failed", "c": "running", "d": "pending"}
    roll = {r["state"]: r["n_configs"] for r in run_state_rollup(derive_run_state(expected, extracted)).collect()}
    assert roll == {"done": 1, "failed": 1, "running": 1, "pending": 1}


def test_fit_linear_exact_recovery(spark):
    from tracy_matdb_spark.operators.fitting import fit_linear, predict_with

    data = spark.range(64).select(
        "id",
        (F.col("id") % 8).cast("double").alias("x1"),
        ((F.col("id") * 3) % 5).cast("double").alias("x2"),
    ).withColumn("y", 2.0 * F.col("x1") - 0.5 * F.col("x2") + 1.25)
    model, va = fit_linear(data, ["x1", "x2"], "y")
    c1, c2 = (float(v) for v in model.coefficients)
    assert abs(c1 - 2.0) < 1e-9 and abs(c2 + 0.5) < 1e-9
    assert abs(float(model.intercept) - 1.25) < 1e-9
    pred = predict_with(model, va, data)
    resid = pred.select(F.max(F.abs(F.col("y") - F.col("prediction"))).alias("m")).collect()[0]["m"]
    assert resid < 1e-9


def test_stateful_totals_matches_batch(spark, tmp_path):
    import pandas as pd

    from tracy_matdb_spark.streaming.windows import (
        run_to_completion,
        stateful_user_totals,
    )

    # small parquet source the stream reads to completion
    src = tmp_path / "ev"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "event_id": range(40),
            "ts": [1_700_000_000_000_000_000 + i * 10**9 for i in range(40)],
            "user_id": [i % 5 for i in range(40)],
            "event_type": ["t"] * 40,
            "value": [(i % 7) / 4.0 for i in range(40)],
            "props": ["{}"] * 40,
        }
    )
    pdf.to_parquet(src / "events.parquet")
    from tracy_matdb_spark.streaming.windows import read_events_stream

    ev = read_events_stream(spark, str(src))
    out = run_to_completion(stateful_user_totals(ev), "t_stateful", mode="update").toPandas()
    batch = (
        spark.read.parquet(str(src / "events.parquet"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr("cast(round(sum(value) * cast(100 as double)) as bigint)").alias("sum_value_c"),
        )
        .toPandas()
    )
    merged = out.merge(batch, on="user_id", suffixes=("_s", "_b"))
    assert len(merged) == 5
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["sum_value_c_s"] == merged["sum_value_c_b"]).all()
