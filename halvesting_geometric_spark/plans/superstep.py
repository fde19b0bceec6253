"""One superstep loop for the resumable iterative drivers.

PageRank, label propagation, connected components and SSSP hand
:func:`run_supersteps` their step, their observation and their final
action; it owns the protocol:

* **Batching.** ``batch`` supersteps (1-8) run as ONE Spark job, so the
  per-job driver floor (scheduling and AQE re-planning, ~0.5 s at bench
  scale) is paid once per batch. Each intermediate state is a lazy
  ``localCheckpoint``, so its consumers share one RDD materialized inside
  the job; without it the plan grows 3^k and the job re-runs each step's
  join up to 3x (PageRank at k=6 measured 3.5x slower than k=1). Only the
  batch's last step is observed, so a convergence stop can overshoot by up
  to k-1 supersteps.
* **One action per superstep.** The last step's pair table is persisted
  and ``observe`` runs one action over it.
* **Lineage truncation every superstep.** The state is referenced at least
  twice per superstep, so an untruncated plan doubles per superstep.
  Without a checkpoint manager the next state is a lazy ``localCheckpoint``
  of the pair cache, computed inside the next superstep's job. With one,
  every superstep is saved AFTER ``observe``, so its metrics row goes to
  disk with it, and batches are forced to 1: per-superstep durability is
  the point. Iterations are numbered from 0.
* **Cache lifetimes.** A lazy truncation reads the pair cache it was cut
  from, so each pair cache lives until the next superstep's action. The
  input state is released after the first superstep, the last pair cache
  after ``finish`` has run.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from halvesting_geometric_spark.plans.checkpoint import CheckpointManager


@dataclass
class Supersteps:
    result: Any  # what ``finish`` returned
    iterations: int  # supersteps completed, the resumed ones included
    converged: bool  # ``done`` stopped the loop
    metrics: list[dict]  # one row per superstep (or batch) run


def resume_point(
    checkpoint: CheckpointManager | None, resume: bool
) -> tuple[int, DataFrame | None]:
    """(first superstep to run, saved state) of a resumed run, or (0, None)
    when there is nothing to resume from."""
    last = (
        checkpoint.latest_iteration()
        if resume and checkpoint is not None
        else None
    )
    if last is None:
        return 0, None
    return last + 1, checkpoint.load_state(last)


def run_supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, dict | None], DataFrame],
    observe: Callable[[DataFrame], dict],
    finish: Callable[[DataFrame], Any],
    *,
    done: Callable[[dict, dict | None], bool],
    steps: int,
    start: int = 0,
    batch: int = 1,
    observed: dict | None = None,
    checkpoint: CheckpointManager | None = None,
) -> Supersteps:
    """Run supersteps ``start`` .. ``steps - 1`` from ``state``.

    ``step(state, carried)`` returns a lazy pair table holding the next
    state's columns under ``state``'s names; ``carried`` is the previous
    observation on a batch's first step and None on the others, where the
    step computes in-plan what it needs of it. ``observe(pair)`` runs one
    action and returns the scalars for the metrics row; ``done(obs,
    prev_obs)`` stops the loop after it. ``observed`` is the input state's
    observation where the caller has one. ``finish(state)`` runs the
    caller's final action over the last state and returns ``result``.
    """
    columns = state.columns
    release = state
    try:
        if steps < 0 or start < 0:
            raise ValueError(
                f"superstep count and start must be >= 0, got {steps}, {start}"
            )
        if not 1 <= batch <= 8:
            raise ValueError(f"supersteps per batch must be in [1, 8], got {batch}")
        if checkpoint is not None:
            batch = 1
        metrics: list[dict] = []
        converged = False
        it = start
        while it < steps and not converged:
            t0 = time.monotonic()
            k = min(batch, steps - it)
            cur, carried = state, observed
            for _ in range(k - 1):
                cur = (
                    step(cur, carried)
                    .select(*columns)
                    .localCheckpoint(eager=False)
                )
                carried = None
            pair = step(cur, carried).persist(StorageLevel.MEMORY_AND_DISK)
            obs = observe(pair)
            it += k
            row = {
                "iteration": it - 1,
                "batched_steps": k,
                **obs,
                "wall_sec": time.monotonic() - t0,
            }
            metrics.append(row)
            nxt = pair.select(*columns)
            if checkpoint is None:
                state = nxt.localCheckpoint(eager=False)
            else:
                state = checkpoint.save_state(it - 1, nxt, metrics=row)
            release.unpersist()
            release = pair
            converged = done(obs, observed)
            observed = obs
        return Supersteps(finish(state), it, converged, metrics)
    finally:
        release.unpersist()
