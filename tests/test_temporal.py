"""Temporal operators vs the single-node pandas oracle (reference_impl),
including the hot-conversation skew fixture and stable tie ordering."""

import datetime as dt
from collections import Counter
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from hipipe_spark import reference_impl as ri
from hipipe_spark.operators.flagship import featurize
from hipipe_spark.operators.temporal import (
    FrameSpec, LeakageError, Sessionize,
)


FEATURE_COLS = [
    "session_seq", "session_id", "secs_since_prev", "role_lag_1",
    "role_lag_2", "text_len_lag_1", "assistant_turns_10",
    "mean_text_len_10", "tool_filled",
]


def test_flagship_matches_oracle(transcripts, transcripts_pdf, profiles, profiles_pdf):
    spark_out = featurize(transcripts, profiles).toPandas()
    oracle = ri.featurize(transcripts_pdf, profiles_pdf)
    cols = FEATURE_COLS + ["model_asof", "temperature_asof"]
    assert ri.allclose_frames(spark_out, oracle, cols)


def test_text_byte_equality(transcripts, transcripts_pdf):
    """Per-turn text byte-equal under stable (conv_id, ts, turn_idx)
    ordering (BASELINE.json input_hint invariant). The datagen embeds
    quotes/newlines/unicode/tabs in text to make this non-trivial."""
    out = featurize(transcripts).toPandas()
    a = out.sort_values(ri.ORDER, kind="mergesort")["text"].tolist()
    b = transcripts_pdf.sort_values(ri.ORDER, kind="mergesort")["text"].tolist()
    assert a == b
    joined = "\n".join(a)
    assert '"' in joined and "\n" in joined  # fixture really is adversarial


def test_parallelism_invariance(transcripts, profiles):
    """Same job at different partitioning → byte-identical features
    (the cluster-size-invariance the north rule demands; cross-JVM
    N vs 4N evidence lives in tools/scaling_bench.py)."""
    a = featurize(transcripts.repartition(2), profiles).toPandas()
    b = featurize(transcripts.repartition(31), profiles).toPandas()
    cols = FEATURE_COLS + ["temperature_asof"]
    assert ri.allclose_frames(a, b, cols + ["text"])


def test_sessionize_gap_semantics(spark):
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [
        ("c1", 0, base),
        ("c1", 1, base + dt.timedelta(seconds=10)),
        ("c1", 2, base + dt.timedelta(seconds=10 + 1801)),  # > 30min gap
        ("c1", 3, base + dt.timedelta(seconds=10 + 1801 + 1800)),  # == gap, same
        ("c2", 0, base),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    out = Sessionize(gap="30 minutes")(df).orderBy("conv_id", "turn_idx").collect()
    assert [r.session_seq for r in out] == [0, 0, 1, 1, 0]
    assert out[2].session_id == "c1#1"


def test_hot_conversation_skew(transcripts, transcripts_pdf):
    """The skew fixture: hot conversations (~12× turns) must produce
    identical features — correctness under skew before any perf work
    (SURVEY.md §7.3)."""
    hot_ids = (
        transcripts_pdf.groupby("conv_id").size().sort_values().tail(3).index.tolist()
    )
    spark_out = featurize(transcripts).toPandas()
    oracle = ri.featurize(transcripts_pdf)
    a = spark_out[spark_out.conv_id.isin(hot_ids)]
    b = oracle[oracle.conv_id.isin(hot_ids)]
    assert len(a) > 100
    assert ri.allclose_frames(a, b, FEATURE_COLS)


def test_bucketed_rolling_equals_plain(spark, transcripts):
    from pyspark.sql import functions as F
    from hipipe_spark.operators.temporal import BucketedRollingAgg, RollingAgg

    aggs = {
        "a10": (F.sum, F.when(F.col("role") == "assistant", 1).otherwise(0)),
        "m10": (F.avg, F.length("text")),
    }
    plain = RollingAgg(dict(aggs), lookback=10)(transcripts).toPandas()
    # bucket_size 16 << hot conversation length -> many stitched buckets
    bucketed = BucketedRollingAgg(dict(aggs), lookback=10, bucket_size=16)(
        transcripts
    ).toPandas()
    assert ri.allclose_frames(plain, bucketed, ["a10", "m10"])
    # include_current variant
    p2 = RollingAgg(dict(aggs), lookback=10, include_current=True)(transcripts).toPandas()
    b2 = BucketedRollingAgg(dict(aggs), lookback=10, bucket_size=16,
                            include_current=True)(transcripts).toPandas()
    assert ri.allclose_frames(p2, b2, ["a10", "m10"])


def test_framespec_rejects_future():
    with pytest.raises(LeakageError):
        FrameSpec(start=-5, end=2)
    # labels may opt in explicitly
    FrameSpec(start=-5, end=2, allow_future=True)
    # strictly-past default ends at -1
    assert FrameSpec(lookback=10).end == -1
    assert FrameSpec(lookback=10, include_current=True).end == 0


def _executed_ops(df) -> Counter:
    """Operator counts of ``df``'s executed plan: AQE's final plan, read
    through its query stages; a cached input counts as one scan. A
    shuffle is counted with its partitioning."""
    df.collect()
    ops, todo = Counter(), [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if name == "ShuffleExchangeExec":
            name += ":" + node.outputPartitioning().getClass().getSimpleName()
        ops[name] += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return ops


def test_flagship_plan_shape(spark, transcripts_pdf, profiles_pdf):
    """The union as-of runs first and its conv_id exchange and sort serve
    every temporal window, which fuse into two window passes."""
    # local inputs: the plan holds no generator lineage, cached or not
    transcripts = spark.createDataFrame(transcripts_pdf)
    profiles = spark.createDataFrame(profiles_pdf)
    ops = _executed_ops(featurize(transcripts, profiles, asof_strategy="union"))
    assert ops["ShuffleExchangeExec:HashPartitioning"] == 1, ops
    assert sum(v for k, v in ops.items() if k.startswith("ShuffleExchangeExec")) == 1, ops
    assert ops["SortExec"] == 1, ops
    assert ops["WindowExec"] <= 3, ops
    ops = _executed_ops(featurize(transcripts))
    assert ops["ShuffleExchangeExec:HashPartitioning"] == 1, ops
    assert ops["SortExec"] == 1, ops
    assert ops["WindowExec"] <= 2, ops


def _edge_case_frames(spark):
    """Turns and profile updates built around the as-of edge cases."""
    base = dt.datetime(2024, 1, 1)

    def at(sec):
        return base + dt.timedelta(seconds=sec)

    turns = spark.createDataFrame([
        ("c1", 0, "user", "hi", "", at(50)),
        ("c1", 1, "assistant", "hello", "search", at(100)),
        ("c1", 2, "user", "and then?", "", at(100)),  # duplicate ts
        ("c1", 3, "assistant", "done", "", at(4000)),
        ("c2", 0, "user", "x", "", at(10)),
        ("c2", 1, "assistant", "yz", "calc", at(10)),  # duplicate ts
    ], "conv_id string, turn_idx int, role string, text string, "
       "tool string, ts timestamp")
    profiles = spark.createDataFrame([
        ("c1", at(0), "m0", 0.1),     # before c1's first turn
        ("c1", at(100), "m1", 0.2),   # exactly at c1's turns 1 and 2
        ("c1", at(5000), "m2", 0.3),  # after c1's last turn
        ("c2", at(20), "m3", 0.4),    # after every c2 turn
        ("c3", at(0), "m4", 0.5),     # a conversation with no turns
    ], "conv_id string, ts timestamp, model string, temperature double")
    return turns, profiles


@pytest.mark.parametrize("strategy", ["union", "broadcast", "cogroup", "bucketed"])
def test_flagship_asof_edge_cases(spark, strategy):
    turns, profiles = _edge_case_frames(spark)
    got = featurize(turns, profiles, asof_strategy=strategy).toPandas()
    want = ri.featurize(turns.toPandas(), profiles.toPandas())
    assert ri.allclose_frames(got, want, FEATURE_COLS + ["model_asof", "temperature_asof"])
    got = got.sort_values(["conv_id", "turn_idx"])
    assert got.model_asof.fillna("-").tolist() == ["m0", "m1", "m1", "m1", "-", "-"]


def _frame_hash(df) -> tuple:
    h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))
    row = df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("chk")).collect()[0]
    return df.dtypes, row.n, row.chk


@contextmanager
def _spark_conf(spark, conf: dict):
    old = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def default_featurize_hash(transcripts, profiles):
    return _frame_hash(featurize(transcripts, profiles))


@pytest.mark.parametrize("strategy", ["union", "broadcast", "cogroup"])
@pytest.mark.parametrize("partitions", [1, 8])
@pytest.mark.parametrize("aqe", ["true", "false"])
def test_flagship_config_matrix(spark, transcripts, profiles,
                                default_featurize_hash, aqe, partitions, strategy):
    """Plan-changing settings never change the output: columns, types and
    every value hash the same as under the session defaults."""
    conf = {"spark.sql.adaptive.enabled": aqe,
            "spark.sql.shuffle.partitions": str(partitions)}
    with _spark_conf(spark, conf):
        got = _frame_hash(featurize(transcripts, profiles, asof_strategy=strategy))
    assert got == default_featurize_hash
