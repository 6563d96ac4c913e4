"""Ewma / Calendar pipeline stages: composition, one-exchange plan,
leakage safety (past-only), value replicas."""

import numpy as np
import pandas as pd

from hipipe_spark.operators.temporal import (
    Backfill, Calendar, Ewma, LagLead, RollingAgg, Sessionize, TimeSincePrev,
)
from hipipe_spark.plans.pipeline import Pipeline

import pyspark.sql.functions as F


def _exchanges(df):
    s = df._jdf.queryExecution().executedPlan().toString()
    import re
    return len(re.findall(r"\bExchange ", s))


def test_composed_pipeline_adds_no_exchange(spark, transcripts):
    base = Pipeline([
        Sessionize(gap="30 minutes"),
        TimeSincePrev(),
        LagLead("turn_idx", lags=[1]),
        RollingAgg({"mean_len_10": (F.avg, F.length("text"))},
                   lookback=10),
    ])
    full = base | Ewma("turn_idx", alpha=0.5, window=4) | Calendar()
    n_base = _exchanges(base(transcripts))
    out = full(transcripts)
    # Ewma shares the pipeline's (conv_id, ts, turn_idx) window and
    # Calendar is row-local: together they add ZERO exchanges
    assert _exchanges(out) == n_base
    cols = set(out.columns)
    assert "turn_idx_ewma" in cols
    assert {"hour_sin", "dow_cos", "is_weekend"} <= cols


def test_fused_window_stages_match_one_by_one(transcripts):
    """A Pipeline fuses independent window stages into one projection per
    layer. A stage that reads an earlier stage's output, or rewrites a
    column an earlier stage read, starts a new fused run. Either way the
    output equals the stages applied one by one."""
    stages = [
        Sessionize(gap="30 minutes"),
        TimeSincePrev(),
        # rewrites `ts` (to the previous turn's), which both stages above
        # read in their second layer
        RollingAgg({"ts": (F.min, F.col("ts"))}, lookback=1,
                   include_current=True),
        LagLead("session_seq", lags=[1]),  # reads Sessionize's output
        Backfill("tool", sentinel="", suffix=""),  # rewrites `tool` in place
        LagLead("tool", lags=[1]),  # reads the rewritten `tool`
        RollingAgg({"n_roles_10": (F.count, F.col("role"))}, lookback=10),
    ]
    fused = Pipeline(stages)(transcripts)
    one_by_one = transcripts
    for stage in stages:
        one_by_one = stage(one_by_one)
    assert fused.dtypes == one_by_one.dtypes
    assert fused.exceptAll(one_by_one).count() == 0
    assert one_by_one.exceptAll(fused).count() == 0
    assert fused.filter(F.col("tool") == "").count() == 0


def test_ewma_stage_past_only(spark):
    # mutate a FUTURE row; earlier ewma values must not move
    pdf = pd.DataFrame({
        "conv_id": ["c"] * 6,
        "turn_idx": range(6),
        "ts": pd.date_range("2024-01-01", periods=6, freq="1min"),
        "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    })
    base = Ewma("v", window=3)(spark.createDataFrame(pdf)) \
        .orderBy("turn_idx").toPandas()
    pdf2 = pdf.copy()
    pdf2.loc[5, "v"] = 1000.0
    mut = Ewma("v", window=3)(spark.createDataFrame(pdf2)) \
        .orderBy("turn_idx").toPandas()
    assert np.allclose(base["v_ewma"][:5], mut["v_ewma"][:5])
    assert mut["v_ewma"].iloc[5] != base["v_ewma"].iloc[5]


def test_ewma_stage_matches_manual(spark):
    pdf = pd.DataFrame({
        "conv_id": ["c"] * 4,
        "turn_idx": range(4),
        "ts": pd.date_range("2024-01-01", periods=4, freq="1min"),
        "v": [8.0, 4.0, 2.0, 1.0],
    })
    out = Ewma("v", alpha=0.5, window=8)(spark.createDataFrame(pdf)) \
        .orderBy("turn_idx").toPandas()
    # t=3: (1 + .5*2 + .25*4 + .125*8)/(1+.5+.25+.125) = 4/1.875
    assert abs(out["v_ewma"].iloc[3] - 4.0 / 1.875) < 1e-6
    assert out["v_ewma"].iloc[0] == 8.0
