"""The flagship feature pipeline (north rule end-to-end slice).

For every conversation turn: session id (30-min gap), seconds since the
previous turn, previous role, previous text length stats, rolling
assistant-turn count over the last 10 turns, backfilled last tool, and
the as-of-joined conversation profile (model/temperature at turn time).
Zero temporal leakage: every feature reads only rows with
(ts, turn_idx) ≤ current (leads are labels, suffixed ``_label``).

Plan shape: the as-of join runs first, on the turns, so its union shares
one ``hashpartitioning(conv_id)`` exchange and one sort with every
temporal window; the temporal stages then fuse into two window passes
(every lag, rolling frame and backfill in one, Sessionize's running sum
in the other). With the union as-of: one exchange, one sort, three
Window operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hipipe_spark.operators.asof import asof_join
from hipipe_spark.operators.temporal import (
    Backfill, LagLead, RollingAgg, Sessionize, TimeSincePrev,
)
from hipipe_spark.plans.pipeline import Pipeline


def feature_pipeline(gap: str = "30 minutes") -> Pipeline:
    return Pipeline([
        Sessionize(gap=gap),
        TimeSincePrev(),
        LagLead("role", lags=[1, 2]),
        LagLead("text_len", lags=[1]),
        RollingAgg(
            {
                "assistant_turns_10": (
                    F.sum,
                    F.when(F.col("role") == "assistant", 1).otherwise(0),
                ),
                "mean_text_len_10": (F.avg, F.col("text_len")),
            },
            lookback=10,
        ),
        Backfill("tool", sentinel="", lookback=None),
    ])


def featurize(turns: DataFrame, profiles: DataFrame | None = None,
              gap: str = "30 minutes", asof_strategy: str = "auto",
              payload: str = "inline") -> DataFrame:
    """Run the flagship pipeline; optionally as-of join profiles.

    The as-of join runs before the feature windows, on the turns. With
    ``asof_strategy="union"`` (no size limit) the union of turns and
    profile rows is the one ``conv_id`` exchange of the whole pipeline:
    the filter back to turn rows keeps its partitioning and sort order,
    so the feature windows neither shuffle nor sort again.
    ``"auto"`` broadcasts the packed profile side when it is small (one
    struct-array per conversation) and falls back to ``"union"`` for
    large profile sides; both need exactly ONE exchange of the fact
    table. Output columns are the same whatever the strategy: the input
    columns, ``text_len``, the features, then the ``*_asof`` columns.

    ``payload`` picks how wide columns travel. ``"inline"`` (default):
    one lineage, one exchange, payload rows ride through the window
    sort — measured fastest and most stable for transcript-width text
    (~200 B/row; interleaved A/B at 3M turns: median 5.4s vs 6.7s).
    ``"rejoin"``: the window block sees only narrow columns; payload
    columns skip the sort and are stitched back by a shuffled-hash
    join on (conv_id, turn_idx). Choose it when payload bytes dwarf the
    narrow columns (multimodal binary/media columns, KB+ rows), where
    sort rewrites of full rows dominate; its costs are a second pass
    over the source lineage (cheap on columnar stores) and per-task
    hash-relation builds."""
    df = turns.withColumn("text_len", F.length("text").cast("int"))
    narrow_cols = ["conv_id", "turn_idx", "ts", "role", "tool", "text_len"]
    wide_extra = [c for c in df.columns if c not in narrow_cols]

    def run(d):
        if profiles is None:
            return feature_pipeline(gap)(d)
        # as-of first: its conv_id exchange is the one the windows reuse
        joined = asof_join(d, profiles, on="ts", by="conv_id",
                           strategy=asof_strategy, suffix="_asof")
        asof_cols = joined.columns[len(d.columns):]
        out = feature_pipeline(gap)(joined)
        return out.select(*[c for c in out.columns if c not in asof_cols],
                          *asof_cols)

    if not wide_extra or payload == "inline":
        return run(df)
    feats = run(df.select(*narrow_cols))
    wide = df.select("conv_id", "turn_idx", *wide_extra)
    # build the hash map on the narrower feature side
    return wide.join(feats.hint("SHUFFLE_HASH"), ["conv_id", "turn_idx"])
