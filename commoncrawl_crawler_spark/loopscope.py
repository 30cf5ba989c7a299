"""Loop-state shuffle sizing derived from DATA, not core count.

Round-9 driver evidence (VERDICT.md, scaling block): the BSP loop
gates ran FASTER at 8 cores than at 32 because every per-iteration
checkpoint job paid `shuffle.partitions x task-overhead` (and AQE's
per-stage re-optimization latency) for loop state of ~10^5 rows --
`spark.sql.shuffle.partitions` is sized for the session's data plane,
not for tiny iterative state. Round-10 decomposition on the converged
PageRank loop (sf0.1, 32 cores, interleaved in-process A/B): warm
per-batch checkpoint jobs are ~0.95 s at AQE-on/32 partitions, ~0.78 s
at AQE-off/8, ~0.63 s at AQE-off/4 -- the cost is per-stage scheduling
and adaptive re-planning latency, nearly independent of task count
below ~8 partitions (guide 2.1/2.4: the fix is fewer/cheaper stages,
not a constant tuned to local core count).

`small_state_scope` therefore scopes TWO settings around a loop's
construction (lazy `localCheckpoint` compiles its physical plan -- and
captures the session conf -- at definition time, so the scope binds
eager AND lazy loops):

- `spark.sql.shuffle.partitions`: shrunk to ceil(rows / ROWS_PER_PART)
  -- SHRINK-ONLY, never above the session default, so a cluster
  session sized for 100 TB keeps its partitioning whenever the state
  is actually large.
- `spark.sql.adaptive.enabled`: off only when the loop state is below
  SMALL_ROWS rows. In that regime AQE's runtime re-optimization can
  only re-discover what the row count already proves (everything is
  one small partition's worth of data) while charging per-stage
  latency for it; above the threshold AQE stays on and keeps its
  skew-join splitting and coalescing.

The row count comes from `known_rows(df)`: a count OBSERVED for free
on a checkpoint materialization job that was running anyway
(`__spark_entry__._cached` stamps it; `observed_ckpt_eager` below does
the same for operator-internal state). Tables read back from the
artifact store (`SPARK_GRAFT_ARTIFACT_DIR`) carry no stamped count, so
loops over them are not scoped. No extra Spark job is ever run to size
the scope, and an unknown count means NO scoping -- session defaults,
the safe cluster posture (the multimodal.python_stage_parallelism
discipline: degrade to full scale-out, never below).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame

from .checkpointing import stable_checkpoint

_ROWS_ATTR = "_ccs_known_rows"
# rows of loop state per shuffle partition
ROWS_PER_PART = 200_000
# below this many rows AQE is switched off inside the scope
SMALL_ROWS = 4_000_000


def stamp_rows(df: DataFrame, n_rows: int | None) -> DataFrame:
    """Attach an exact row count to a DataFrame (driver-side Python
    attribute only; survives nothing but direct references)."""
    if n_rows is not None:
        setattr(df, _ROWS_ATTR, int(n_rows))
    return df


def known_rows(df: DataFrame) -> int | None:
    """An exact row count previously stamped on `df`, or None."""
    n = getattr(df, _ROWS_ATTR, None)
    return int(n) if n is not None else None


def observed_ckpt_eager(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint `df` and stamp its exact row count, observed
    on the materialization job itself (zero extra jobs)."""
    from pyspark.sql import Observation, functions as F

    if os.environ.get("SPARK_GRAFT_NO_CKPT"):
        # plan-inspection escape: stable_checkpoint is the identity, so
        # no job runs and Observation.get would wait forever
        return stamp_rows(df, None)
    obs = Observation()
    out = stable_checkpoint(
        df.observe(obs, F.count(F.lit(1)).alias("n")), eager=True
    )
    return stamp_rows(out, obs.get["n"])


@contextmanager
def small_state_scope(spark, n_rows: int | None):
    """Scope loop shuffles to `n_rows` of state (see module docstring).

    No-op when `n_rows` is None (unknown size: keep cluster defaults)
    or when the state is too large for either adjustment.
    """
    if n_rows is None:
        yield
        return
    conf = spark.conf
    prev_parts = conf.get("spark.sql.shuffle.partitions")
    prev_aqe = conf.get("spark.sql.adaptive.enabled")
    target = max(1, -(-int(n_rows) // ROWS_PER_PART))
    try:
        if target < int(prev_parts):
            conf.set("spark.sql.shuffle.partitions", str(target))
        if int(n_rows) < SMALL_ROWS:
            conf.set("spark.sql.adaptive.enabled", "false")
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", prev_parts)
        conf.set("spark.sql.adaptive.enabled", prev_aqe)
