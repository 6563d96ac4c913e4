"""Pipeline composition — the `operator|` chain, Spark-shaped.

The reference composes stream transformers with ``operator|``; each stage
is a view closure and the composed range pipeline IS the IR, fused by the
C++ compiler (reference ``doc/mainpage.md:74-111``, and
``include/hipipe/core/stream/transform.hpp:74-84`` where every transform
lowers to one range transform over ``batch_t``).

Here every stage is a named ``DataFrame -> DataFrame`` callable and the
composed *DataFrame lineage* is the IR, optimized by Catalyst. Stages are
declarative: chaining never triggers execution, exactly like the
reference's pull-based lazy ranges (``for_each.hpp:46`` "applied lazily").

    pipe = Pipeline([
        Sessionize(gap="30 minutes"),
        Lag("text_len", offsets=[1, 2, 3]),
        Backfill("tool", lookback=10),
    ])
    features = pipe(turns)           # or: turns | pipe  (readability alias)
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame


class Stage:
    """A named DataFrame→DataFrame transformation.

    Analog of the reference's batch-level ``partial_transform``
    (``transform.hpp:71-106``): the single primitive every public
    operator lowers onto. Subclasses implement :meth:`apply`.
    """

    name: str = "stage"

    def __init__(self, name: str | None = None):
        if name is not None:
            self.name = name

    def apply(self, df: DataFrame) -> DataFrame:  # pragma: no cover
        raise NotImplementedError

    def __call__(self, df: DataFrame) -> DataFrame:
        return self.apply(df)

    def __ror__(self, df: DataFrame) -> DataFrame:
        """``df | stage`` — the hipipe chaining spelling."""
        return self.apply(df)

    def __or__(self, other: "Stage | Pipeline") -> "Pipeline":
        """``stage | stage`` composes into a Pipeline."""
        return Pipeline([self]) | other

    def __repr__(self) -> str:
        return f"<{type(self).__name__} {self.name!r}>"


Layers = list[dict[str, Column]]


class WindowStage(Stage):
    """A stage that only adds columns computed over one window spec.

    :meth:`layers` declares the columns as dependency layers,
    ``[{name: Column}, ...]``: a layer reads the input and the layers
    before it. Each layer lowers to one projection, so all of a layer's
    window functions share one Window operator. Names listed in
    ``outputs`` are kept; the others are scratch columns, dropped at the
    end. A scratch name stands for one expression under ``spec``, which
    lets fused stages share it (one ``lag(ts)`` for every stage that
    needs the previous timestamp).

    A :class:`Pipeline` fuses consecutive window stages with the same
    ``spec`` when none reads or rewrites another's outputs: layer ``i``
    of every fused stage goes into the same projection.
    """

    spec: tuple = ()
    outputs: Sequence[str] = ()

    def layers(self) -> Layers:  # pragma: no cover
        raise NotImplementedError

    def fuses_with(self, run: list[tuple[WindowStage, Layers]],
                   layers: Layers) -> bool:
        """Whether this stage, declaring ``layers``, may join ``run``."""
        if self.spec != run[0][0].spec:
            return False
        made = {o for s, _ in run for o in s.outputs}
        if made & set(self.outputs):
            return False
        # A name mentioned in the expression text covers every column the
        # expressions read (and maybe more): a match either way, this
        # stage reading the run's outputs or the run reading this
        # stage's, keeps them apart.
        mine = _text(layers)
        theirs = _text([layer for _, ls in run for layer in ls])
        return (not any(o in mine for o in made)
                and not any(o in theirs for o in self.outputs))

    def apply(self, df: DataFrame) -> DataFrame:
        return apply_window_layers(df, [(self, self.layers())])


def _text(layers: Layers) -> str:
    return " ".join(str(c) for layer in layers for c in layer.values())


def apply_window_layers(df: DataFrame,
                        run: list[tuple[WindowStage, Layers]]) -> DataFrame:
    """Lower fused window stages, each with its declared layers: one
    projection per layer, then one that keeps the input columns in place
    and appends every output in stage order (a rewritten input column
    keeps its position)."""
    base = df.columns
    merged: Layers = []
    for _, layers in run:
        for i, layer in enumerate(layers):
            if i == len(merged):
                merged.append({})
            merged[i].update(layer)
    for layer in merged:
        df = df.withColumns(layer)
    outputs = [o for s, _ in run for o in s.outputs if o not in base]
    return df.select(*base, *outputs)


class FnStage(Stage):
    """Wrap a plain function as a Stage."""

    def __init__(self, fn: Callable[[DataFrame], DataFrame], name: str | None = None):
        super().__init__(name or getattr(fn, "__name__", "fn"))
        self._fn = fn

    def apply(self, df: DataFrame) -> DataFrame:
        return self._fn(df)


class Pipeline:
    """An ordered chain of stages; itself a Stage-like callable.

    Unlike the reference there IS an optimizer between composition and
    execution — Catalyst — so stage boundaries are logical only; Spark is
    free to fuse, reorder filters, prune columns across them. Catalyst
    does not merge window passes split by per-stage projections, so the
    Pipeline fuses consecutive :class:`WindowStage` s itself: one
    projection, hence one Window operator, per dependency layer.
    """

    def __init__(self, stages: Iterable[Stage | Callable[[DataFrame], DataFrame]] = ()):
        self.stages: list[Stage] = [
            s if isinstance(s, Stage) else FnStage(s) for s in stages
        ]

    def __call__(self, df: DataFrame) -> DataFrame:
        run: list[tuple[WindowStage, Layers]] = []
        for stage in self.stages:
            layers = stage.layers() if isinstance(stage, WindowStage) else None
            if run and (layers is None or not stage.fuses_with(run, layers)):
                df, run = apply_window_layers(df, run), []
            if layers is None:
                df = stage(df)
            else:
                run.append((stage, layers))
        return apply_window_layers(df, run) if run else df

    def __ror__(self, df: DataFrame) -> DataFrame:
        return self(df)

    def __or__(self, other: "Stage | Pipeline | Callable") -> "Pipeline":
        if isinstance(other, Pipeline):
            return Pipeline(self.stages + other.stages)
        return Pipeline([*self.stages, other])

    def named(self) -> list[str]:
        return [s.name for s in self.stages]

    def run_with_metrics(self, df: DataFrame, sink: Callable[[DataFrame], None]) -> dict:
        """Execute via ``sink`` and return wall time + stage list —
        the per-run lineage/metrics record (BASELINE.md resumability row).
        """
        t0 = time.time()
        out = self(df)
        sink(out)
        return {"stages": self.named(), "wall_sec": time.time() - t0}

    def __repr__(self) -> str:
        return f"Pipeline({' | '.join(self.named())})"
