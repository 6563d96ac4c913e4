"""The benchmark's workloads. Each drives the engine only through its
public functions and makes its inputs from the run's seed.

A workload answers the closed loop in ``run.py``: ``setup()`` makes the
inputs; ``call(i)`` is the timed engine call of op ``i``;
``observe(result)`` turns its result into a checkable value (untimed);
``verify(value)`` returns why the op failed, or ``None``;
``reference_check()`` compares a sample against ``reference_impl`` once
per run. When traced, ``traced(i)`` runs one traced iteration and
returns its spans plus the traced op's value, ``layers(samples)`` folds
those into per-layer metrics, and ``trace_tail(op_s)`` runs extra
traced work after the loop.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from hipipe_spark import reference_impl as ri
from hipipe_spark.checkpoint import SnapshotStore, incremental_refresh
from hipipe_spark.datagen import gen_profile_updates, gen_transcripts
from hipipe_spark.operators.core import release_cached
from hipipe_spark.operators.flagship import feature_pipeline, featurize
from hipipe_spark.operators.temporal import ts_seconds
from hipipe_spark.streaming.session_stream import stateful_session_stream
from perfbench.host import host_cpus

# Conversations generated per workload at --scale 1. Sized so that set-up
# plus the closed loop stays under a minute on a 4-vCPU host.
CONVS = {"featurize_skew": 2000, "stream_sessions": 400}
SMALL_CONVS = 200  # warms the generator before the featurize_skew input
GAP_S = 1800
STREAM_FILES = 3
REFRESH_FRAC = 0.01
REFRESH_REPS = 2
SINGLE_CORE_REPS = 2
SNAPSHOT = "features"
FEATURE_COLS = [
    "session_seq", "session_id", "secs_since_prev", "role_lag_1",
    "role_lag_2", "text_len_lag_1", "assistant_turns_10",
    "mean_text_len_10", "tool_filled", "model_asof", "temperature_asof",
]


def checksum_frame(df):
    """One-row (n, chk) aggregate over a hash of every column, so no
    feature column can be pruned away (the formula of ``bench.force``)."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
               F.lit(1_000_000_007))
    return df.select(F.count(F.lit(1)).alias("n"), F.sum(h).alias("chk"))


def checksum(df) -> tuple[int, int]:
    row = checksum_frame(df).collect()[0]
    release_cached(df)
    return int(row["n"]), int(row["chk"])


def traced_checksum(tracer, name: str, build) -> tuple[tuple[int, int], dict]:
    """Build a DataFrame with ``build()`` and force it, both inside span
    ``name``; returns its checksum and the span record with Spark
    counters attached. ``plan_s`` is the driver-side share: building the
    DataFrame through the Python API, which analyses the plan."""
    with tracer.span(name) as rec:
        t0 = time.perf_counter()
        df = build()
        agg = checksum_frame(df)
        rec["plan_s"] = time.perf_counter() - t0
        row = agg.collect()[0]
    tracer.collect(rec, df=agg)
    release_cached(df)
    return (int(row["n"]), int(row["chk"])), rec


def _conv_id(k: int) -> str:
    return f"conv_{k:08d}"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class _Workload:
    name = ""
    # Untimed ops before the loop: a fresh JVM compiles the engine's hot
    # code over the first executions, which run several times the
    # steady wall.
    warmup_ops = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.n_convs = max(20, int(CONVS[self.name] * ctx.scale))
        self.rows = 0  # turns one op processes: the turns_per_s numerator

    def gen_turns(self, n_convs: int | None = None):
        """Seeded transcripts with the 1%-hot-conversation skew."""
        return gen_transcripts(self.spark, n_convs=n_convs or self.n_convs,
                               avg_turns=20, hot_frac=0.01, hot_mult=50,
                               seed=self.ctx.seed)

    def corrupt(self, value):
        n, chk = value
        return n, chk + 1

    def trace_tail(self, op_s: float) -> tuple[list[dict], dict]:
        """Extra traced work after the loop: (op records, layer metrics)."""
        return [], {}


class FeaturizeSkew(_Workload):
    """The flagship ``featurize`` with the union as-of over persisted
    transcripts, forced by the checksum with no sink."""

    name = "featurize_skew"
    warmup_ops = 10

    def setup(self) -> dict:
        # A small input first: the generator's first run on a fresh JVM
        # is mostly code generation and compilation, which a small input
        # pays at a third of the full input's wall.
        checksum(self.gen_turns(SMALL_CONVS))
        t0 = time.perf_counter()
        self.turns = self.gen_turns().persist()
        self.profiles = gen_profile_updates(self.spark, n_convs=self.n_convs,
                                            seed=self.ctx.seed)
        self.rows = self.turns.count()
        self.expect = None
        self.store = None
        return {"datagen.gen_s": time.perf_counter() - t0,
                "datagen.turns": self.rows}

    def _featurize(self, turns, profiles):
        return featurize(turns, profiles, asof_strategy="union")

    def call(self, i):
        return checksum(self._featurize(self.turns, self.profiles))

    def observe(self, result):
        return result

    def verify(self, value):
        if value[0] != self.rows:
            return f"rows {value[0]} != input turns {self.rows}"
        if self.expect is None:  # the warm-up op sets the expectation
            self.expect = value
        elif value != self.expect:
            return f"(rows, checksum) {value} != warm-up {self.expect}"
        return None

    def reference_check(self) -> str | None:
        """A seeded sample of conversations, one of them hot, against
        ``reference_impl.featurize``."""
        rnd = random.Random(self.ctx.seed)
        n_hot = max(1, int(self.n_convs * 0.01))
        ids = [_conv_id(rnd.randrange(n_hot))] + [
            _conv_id(k) for k in rnd.sample(range(n_hot, self.n_convs), 5)]
        pick = F.col("conv_id").isin(ids)
        got = self._featurize(self.turns, self.profiles).filter(pick).toPandas()
        want = ri.featurize(self.turns.filter(pick).toPandas(),
                            self.profiles.filter(pick).toPandas())
        if not ri.allclose_frames(got, want, FEATURE_COLS):
            return f"reference_impl mismatch on conversations {ids}"
        return None

    def traced(self, i) -> dict:
        tr = self.ctx.tracer
        _, scan = traced_checksum(tr, "datagen.scan", lambda: self.turns)
        _, temporal = traced_checksum(
            tr, "operators.temporal", lambda: feature_pipeline()(
                self.turns.withColumn("text_len",
                                      F.length("text").cast("int"))))
        value, op = traced_checksum(
            tr, "operators.flagship.featurize",
            lambda: self._featurize(self.turns, self.profiles))
        return {"value": value, "op": op, "scan": scan,
                "temporal": temporal, "full": op}

    def layers(self, samples: list[dict]) -> dict:
        return _prefix_layers(samples)

    def trace_tail(self, op_s: float) -> tuple[list[dict], dict]:
        """After the traced loop: the checkpoint layer on this input, then
        the single-core baseline (which replaces the session)."""
        ops, refresh = [], []
        for k in range(REFRESH_REPS):
            rec, value = self._traced_refresh(k)
            refresh.append(rec)
            error = None if value == self.expect else (
                f"refreshed snapshot {value} != featurize {self.expect}")
            ops.append({"op": f"refresh-{k}", "wall_s": rec["wall_s"],
                        "traced": True, "error": error})
        out = {"checkpoint.commit_s": _median([r["wall_s"] for r in refresh])}
        for f in ("write_s", "lineage_scan_s", "bytes_written",
                  "files_written"):
            out[f"checkpoint.{f}"] = _median(
                [r["checkpoint"][f] for r in refresh])
        for f in ("shuffle_bytes", "cpu_s"):
            out[f"checkpoint.{f}"] = _median(
                [r["counters"][f] for r in refresh])
        effs = []
        for k, (wall, value) in enumerate(self._single_core_runs()):
            ops.append({"op": f"local[1]-{k}", "wall_s": wall, "traced": True,
                        "error": self.verify(value)})
            effs.append(wall / (host_cpus() * op_s))
        out["featurize.parallel_eff"] = _median(effs)
        out["featurize.parallel_eff.all"] = effs
        return ops, out

    def _traced_refresh(self, k: int) -> tuple[dict, tuple[int, int]]:
        """``incremental_refresh`` of a seeded 1% of conversations into a
        ``SnapshotStore`` holding the featurized base; returns the span
        and the refreshed snapshot's checksum. The input is unchanged, so
        that must equal the featurize output's."""
        tr = self.ctx.tracer
        if self.store is None:
            self.store = SnapshotStore(os.path.join(self.ctx.run_dir,
                                                    "snapshots"))
            incremental_refresh(self.spark, self.store, SNAPSHOT,
                                self.turns, self._compute)
        rnd = random.Random(f"{self.ctx.seed}-{k}")
        n_keys = max(1, int(self.n_convs * REFRESH_FRAC))
        keys = self.spark.createDataFrame(
            [(_conv_id(c),) for c in rnd.sample(range(self.n_convs), n_keys)],
            "conv_id string")
        with tr.span("checkpoint.incremental_refresh") as rec:
            snap, df = incremental_refresh(
                self.spark, self.store, SNAPSHOT, self.turns, self._compute,
                delta_keys=keys)
        tr.collect(rec)
        data = os.path.join(self.store.root, SNAPSHOT, snap, "data")
        files = [os.path.join(data, f) for f in os.listdir(data)
                 if f.endswith(".parquet")]
        rec["checkpoint"] = {
            "write_s": self.store.manifest(SNAPSHOT, snap)["wall_sec"],
            # the commit's lineage record: a collect over parquet footers
            "lineage_scan_s": sum(
                s for name, s in rec["counters"]["jobs"].items()
                if name.startswith("collect at") and "checkpoint.py" in name),
            "bytes_written": sum(os.path.getsize(f) for f in files),
            "files_written": len(files),
        }
        return rec, checksum(df)

    def _compute(self, df):
        return self._featurize(df, self.profiles)

    def _single_core_runs(self) -> list[tuple[float, tuple[int, int]]]:
        """(wall, output) of ops of the same job on ``local[1]`` over the
        same input, in a fresh SparkContext (the JVM is reused), after
        one warm-up op."""
        from hipipe_spark.session import get_spark

        path = os.path.join(self.ctx.run_dir, "turns_input")
        self.turns.write.parquet(path)
        self.turns.unpersist()
        self.spark.stop()
        spark = get_spark(app_name="perfbench_1core", cores=1,
                          extra_conf=self.ctx.spark_conf)
        self.ctx.spark = self.spark = spark
        turns = spark.read.parquet(path).persist()
        turns.count()
        profiles = gen_profile_updates(spark, n_convs=self.n_convs,
                                       seed=self.ctx.seed)
        checksum(self._featurize(turns, profiles))
        runs = []
        for _ in range(SINGLE_CORE_REPS):
            t0 = time.perf_counter()
            value = checksum(self._featurize(turns, profiles))
            runs.append((time.perf_counter() - t0, value))
        return runs


def _prefix_layers(samples: list[dict]) -> dict:
    """Per-layer metrics from prefix spans: scan, then the temporal
    pipeline over the scan, then the whole featurize. A layer's self
    time is its prefix's median wall minus the previous prefix's."""
    def med(key, field):
        return _median([s[key][field] for s in samples])

    def cmed(key, field):
        return _median([s[key]["counters"][field] for s in samples])

    out = {"datagen.scan_s": med("scan", "wall_s")}
    out["operators.temporal.self_s"] = med("temporal", "wall_s") - med("scan", "wall_s")
    out["operators.asof.self_s"] = med("full", "wall_s") - med("temporal", "wall_s")
    for layer, hi, lo in (("operators.temporal", "temporal", "scan"),
                          ("operators.asof", "full", "temporal")):
        for f in ("cpu_s", "shuffle_bytes", "spill_bytes"):
            out[f"{layer}.{f}"] = cmed(hi, f) - cmed(lo, f)
    out["operators.flagship.plan_s"] = med("full", "plan_s")
    out["operators.temporal.sort_ms"] = cmed("temporal", "sort_ms")
    out["operators.temporal.task_skew"] = cmed("temporal", "window_skew")
    out["operators.asof.task_skew"] = cmed("full", "window_skew")
    return out


class StreamSessions(_Workload):
    """``stateful_session_stream`` over the transcripts replayed as
    parquet files split by ``ts`` range, one file per micro-batch,
    ``availableNow``."""

    name = "stream_sessions"

    def _replay(self, pdf: pd.DataFrame) -> str:
        """Write the turns as parquet files split by ts range, oldest
        first: arrival stays time-ordered per key."""
        path = os.path.join(self.ctx.run_dir, "stream_src")
        os.makedirs(path)
        src = pd.DataFrame({"conv_id": pdf["conv_id"],
                            "turn_idx": pdf["turn_idx"].astype("int32"),
                            "ts": pdf["ts_s"].astype("float64")})
        cuts = np.quantile(src["ts"].to_numpy(),
                           [k / STREAM_FILES for k in range(1, STREAM_FILES)])
        part = np.searchsorted(cuts, src["ts"].to_numpy(), side="right")
        for k in range(STREAM_FILES):
            f = os.path.join(path, f"part-{k:03d}.parquet")
            src[part == k].to_parquet(f, index=False)
            os.utime(f, (1_000_000_000 + k, 1_000_000_000 + k))
        return path

    def setup(self) -> dict:
        t0 = time.perf_counter()
        pdf = self.gen_turns().select(
            "conv_id", "turn_idx", "ts",
            ts_seconds(F.col("ts")).alias("ts_s")).toPandas()
        gen_s = time.perf_counter() - t0
        self.rows = len(pdf)
        # Expected per-turn session index and gap from the reference.
        ref = ri.sessionize(pdf[["conv_id", "turn_idx", "ts"]])
        ref["gap"] = ref.groupby("conv_id", sort=False)["ts"].diff() \
            .dt.total_seconds()
        ref = ref.sort_values(["conv_id", "turn_idx"], kind="mergesort")
        self.expect_keys = ref[["conv_id", "turn_idx"]].to_numpy()
        self.expect_sess = ref["session_seq"].to_numpy(dtype="int64")
        self.expect_gap = ref["gap"].to_numpy(dtype="float64")
        self.src = self._replay(pdf)
        return {"datagen.gen_s": gen_s, "datagen.turns": self.rows}

    def _run_stream(self, i, src_dir, span=None):
        """One availableNow query over every replay file in ``src_dir``;
        returns the collected batches, the query's progress records and,
        when traced, each micro-batch's executed plan."""
        spark = self.spark
        name = f"perfbench_sessions_{i}"
        ckpt = os.path.join(self.ctx.run_dir, f"stream_ckpt_{i}")
        batches, plans = [], []

        def sink(batch_df, epoch_id):
            if span is not None:
                batch_df.sparkSession.sparkContext.setJobGroup(
                    span["group"], span["name"])
            batches.append(batch_df.toPandas())
            if span is not None:
                q = next(q for q in spark.streams.active if q.name == name)
                plans.append(q._jsq.streamingQuery().lastExecution()
                             .executedPlan())

        src = (spark.readStream
               .schema("conv_id string, turn_idx int, ts double")
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (stateful_session_stream(src, gap_seconds=float(GAP_S))
             .writeStream.queryName(name).foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(120):
                raise TimeoutError(f"stream {name} still running after 120 s")
        finally:
            q.stop()
        progress = q.recentProgress
        shutil.rmtree(ckpt, ignore_errors=True)
        return batches, progress, plans

    def call(self, i):
        return self._run_stream(i, self.src)[0]

    def observe(self, batches):
        out = pd.concat([b for b in batches if len(b)], ignore_index=True)
        return out.sort_values(["conv_id", "turn_idx"], kind="mergesort") \
            .reset_index(drop=True)

    def corrupt(self, value):
        value = value.copy()
        value.loc[len(value) // 2, "session_id"] += 1
        return value

    def verify(self, out):
        if len(out) != self.rows:
            return f"stream emitted {len(out)} rows for {self.rows} turns"
        if not (out[["conv_id", "turn_idx"]].to_numpy() == self.expect_keys).all():
            return "stream output keys differ from the input turns"
        if not (out["session_id"].to_numpy(dtype="int64") == self.expect_sess).all():
            return "session index differs from reference_impl.sessionize"
        gap = out["time_since_prev"].to_numpy(dtype="float64")
        if not np.allclose(gap, self.expect_gap, rtol=0, atol=1e-6,
                           equal_nan=True):
            return "time since previous turn differs from the reference gap"
        return None

    def reference_check(self) -> None:
        return None  # every op is checked against the reference

    def traced(self, i) -> dict:
        from perfbench.tracing import plan_counters

        tr = self.ctx.tracer
        _, scan = traced_checksum(tr, "datagen.scan",
                                  lambda: self.spark.read.parquet(self.src))
        with tr.span("streaming.stateful_session_stream") as op:
            batches, progress, plans = self._run_stream(f"t{i}", self.src,
                                                        span=op)
        tr.collect(op)
        durs = [p.durationMs["triggerExecution"] / 1000.0
                for p in progress if p.numInputRows > 0]
        states = [p.stateOperators[0] for p in progress if p.stateOperators]
        py = [plan_counters(p) for p in plans]
        op["streaming"] = {
            "batches": len(durs),
            "batch_s_p50": _median(durs),
            "batch_s_max": max(durs) if durs else 0.0,
            "state_rows": states[-1].numRowsTotal if states else 0,
            "state_commit_ms": sum(s.commitTimeMs for s in states),
            "python_rows": sum(c["python_rows"] for c in py),
            "python_bytes": sum(c["python_bytes"] for c in py),
        }
        return {"value": self.observe(batches), "op": op, "scan": scan}

    def layers(self, samples: list[dict]) -> dict:
        out = {"datagen.scan_s": _median([s["scan"]["wall_s"] for s in samples])}
        for f in samples[0]["op"]["streaming"]:
            out[f"streaming.{f}"] = _median(
                [s["op"]["streaming"][f] for s in samples])
        return out


WORKLOADS = {w.name: w for w in (FeaturizeSkew, StreamSessions)}
