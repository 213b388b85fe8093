"""Superstep kernel: the one loop every iterative fixpoint runs on
(SURVEY §4 custom work #1).

Catalyst has no fixpoint operator, so an iterative graph algorithm is a
driver-side loop of declarative steps.  The caller writes only

    step(state) -> new state

— a plain DataFrame plan (message join, aggregate, update).  The kernel
chains `checkpoint_interval` steps lazily and then truncates lineage
with an eager `localCheckpoint`, otherwise the plan tree grows linearly
and the driver dies re-optimizing it (on a real cluster, use reliable
`checkpoint()` with a checkpoint dir for fault tolerance).  Round 0
reads the caller's state and rounds k, 2k, … (k = checkpoint_interval)
read the kernel's checkpoint; only those may consume their input twice
without recomputing the batch of rounds beneath it.

Convergence is read INSIDE that checkpoint (the Pregelix vote-to-halt
as an aggregate of the step itself, not a second pass over old and new
state): when the new state carries a `changed` column (1 where the row
differs from the step's INPUT, else 0), the kernel attaches
`sum(changed)` to the checkpoint with `DataFrame.observe` and reads it
off the same Spark job.  A round whose observed sum is 0 (or NULL: an
empty state) is a fixpoint, and the loop stops.  `changed` is dropped
before the state is stored, so a step never sees it on its input.

`max_iter` bounds rounds that make PROGRESS: when all `max_iter` rounds
changed something, one more round runs to confirm the fixpoint.  If
that round changes nothing the call has converged and its output is
returned; otherwise the state after `max_iter` rounds is returned with
converged=False, so a caller that runs a bounded number of rounds (its
oracle unrolls the same count) gets exactly that many.  A step without
a `changed` column runs exactly `max_iter` rounds and reports
converged=False.  A step that flags only moves above a tolerance
(pagerank `tol`) gets max_iter + 1 rounds when the confirming round
converges — the state a larger `max_iter` would return.

The reference system runs the same computations by full-scanning the
edgestore and handing it to an external graph computer (SURVEY §2.3
PageRank row); here they are native.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _checkpoint(state: DataFrame) -> tuple[DataFrame, int | None]:
    """Eagerly checkpoint `state`; returns it with its observed
    sum(changed) (0 for an empty state), or None without the column."""
    if "changed" not in state.columns:
        return state.localCheckpoint(eager=True), None
    obs = Observation()
    state = (state.observe(obs, F.sum("changed").alias("n"))
             .drop("changed").localCheckpoint(eager=True))
    return state, obs.get["n"] or 0


def pregel(state: DataFrame, step: Callable[[DataFrame], DataFrame],
           max_iter: int, checkpoint_interval: int = 1
           ) -> tuple[DataFrame, bool]:
    """Run `step` until a round changes nothing or `max_iter` progress
    rounds are used up; returns (state, converged).  `state` should be
    cheap to re-read (checkpointed or cached): the first batch of
    rounds consumes it in place."""
    rounds, changed = 0, None
    while rounds < max_iter:
        for _ in range(min(checkpoint_interval, max_iter - rounds)):
            state = step(state.drop("changed"))
            rounds += 1
        state, changed = _checkpoint(state)
        if changed == 0:
            return state, True
    if changed is None:
        return state, False
    # confirming round: every round so far made progress.  Its output
    # is returned when it changed nothing — then it is the fixpoint
    # (equal to its input under the `changed` contract)
    confirmed, changed = _checkpoint(step(state))
    return (confirmed, True) if changed == 0 else (state, False)
