"""Stage clock and forced stage boundaries shared by every plan: batch
(``pipeline.resolve``), incremental (``incremental.resolve_incremental``)
and the lifecycle verbs (``retraction``, ``reviews``, ``rethreshold``).

A forced boundary materializes a frame once, in dependency order, and
CUTS ITS LINEAGE: the frame that comes back is a one-node plan over the
materialized rows (an eager ``localCheckpoint``). Forcing matters because
frames like ``reps`` fan out into several concurrent consumers, and
concurrent readers of an unfilled cache each recompute its full lineage.
Cutting matters as much: a ``persist()`` + ``count()`` boundary keeps the
whole logical plan, so every later action on a downstream frame re-analyses
and re-describes the plan of the entire pipeline, with every cached
sub-plan nested inside (measured on 4 cores with a 1g driver heap: 2-3 s
of driver time per action on a ~1.4k-file resolve whose executors needed
0.3 s). The row count comes from the same job, as an observed metric, so
a boundary costs the one materializing job and nothing more.

With a StageStore the stage frames are parquet reads, which already cut
the lineage; the boundary then only counts.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut_lineage(df: DataFrame, **extra: Column) -> tuple[DataFrame, dict]:
    """(df materialized as a local checkpoint, observed values): ``rows``
    is its row count, plus one value per ``extra`` aggregate — all
    evaluated by the checkpoint job itself."""
    obs = Observation()
    cols = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in extra.items()]
    out = df.observe(obs, *cols).localCheckpoint(eager=True)
    return out, obs.get


class StageClock:
    """Wall-clock seconds per named stage, reported as the plans'
    ``(stage, 'seconds', value)`` metric rows, and the forced boundaries
    that close the stages. ``parquet_backed``: the plan's stage frames are
    StageStore reads, so boundaries count them without checkpointing."""

    def __init__(self, parquet_backed: bool = False):
        self.seconds: dict[str, float] = {}
        self._parquet_backed = parquet_backed

    @contextmanager
    def timed(self, name: str):
        t0 = time.time()
        yield
        self.seconds[name] = round(self.seconds.get(name, 0.0) + time.time() - t0, 3)

    def boundary(self, name: str, df: DataFrame) -> tuple[DataFrame, int]:
        """Materialize ``df`` as stage ``name``'s boundary; returns the
        lineage-free frame and its row count."""
        with self.timed(name):
            if self._parquet_backed:
                return df, df.count()
            out, seen = cut_lineage(df)
            return out, seen["rows"]

    def metrics(self, spark, rows) -> DataFrame:
        """The plan's ``(stage, metric, value)`` metrics frame: ``rows``
        followed by one ``seconds`` row per timed stage."""
        rows = list(rows) + [(k, "seconds", float(v)) for k, v in self.seconds.items()]
        return spark.createDataFrame(rows, "stage string, metric string, value double")
