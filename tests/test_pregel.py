"""The superstep kernel: observed convergence, the progress-round bound
and fixed-count runs, on a hand-built countdown state."""

from __future__ import annotations

from pyspark.sql import functions as F

from janusgraph_clickhouse_spark.graph.pregel import _checkpoint, pregel


def _countdown(spark, values):
    """(state, step, calls): each step lowers every v by one down to 0;
    `changed` marks the rows it lowered.  calls[0] counts steps run."""
    state = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                                  "id long, v long")
    calls = [0]

    def step(st):
        calls[0] += 1
        return st.select("id", F.greatest(F.col("v") - 1, F.lit(0))
                         .alias("v"),
                         (F.col("v") > 0).cast("int").alias("changed"))
    return state, step, calls


def _values(state):
    return sorted(r.v for r in state.collect())


def test_observed_count_equals_direct_count(spark):
    df = spark.range(50).select(
        "id", (F.col("id") % 3 == 0).cast("int").alias("changed"))
    state, n = _checkpoint(df)
    assert n == df.filter(F.col("changed") == 1).count() == 17
    assert state.columns == ["id"] and state.count() == 50
    empty, n = _checkpoint(df.filter(F.col("id") < 0))
    assert n == 0 and empty.count() == 0
    plain, n = _checkpoint(spark.range(3))
    assert n is None and plain.count() == 3


def test_stops_at_first_round_without_change(spark):
    # 3 → 0 takes three rounds that change something; the fourth
    # observes sum(changed) == 0 and stops the loop
    state, step, calls = _countdown(spark, [0, 2, 3])
    out, converged = pregel(state, step, max_iter=20)
    assert converged and calls[0] == 4
    assert _values(out) == [0, 0, 0]
    assert out.columns == ["id", "v"]
    # lazily batched rounds: the check happens at the checkpoint only
    state, step, calls = _countdown(spark, [0, 2, 3])
    out, converged = pregel(state, step, max_iter=20, checkpoint_interval=3)
    assert converged and calls[0] == 6
    assert _values(out) == [0, 0, 0]


def test_max_iter_counts_progress_rounds(spark):
    # three progress rounds fit max_iter=3; the confirming round makes
    # none, so the call converges
    state, step, calls = _countdown(spark, [0, 2, 3])
    out, converged = pregel(state, step, max_iter=3)
    assert converged and calls[0] == 4
    assert _values(out) == [0, 0, 0]
    # max_iter=2: the confirming round still changes a row, so the call
    # reports non-convergence with the state after exactly two rounds
    state, step, calls = _countdown(spark, [0, 2, 3])
    out, converged = pregel(state, step, max_iter=2, checkpoint_interval=2)
    assert not converged and calls[0] == 3
    assert _values(out) == [0, 0, 1]


def test_step_without_changed_runs_exactly_max_iter(spark):
    for interval in (1, 2):
        state, step, calls = _countdown(spark, [0, 2, 3])

        def fixed(st, step=step):
            return step(st).drop("changed")
        out, converged = pregel(state, fixed, max_iter=5,
                                checkpoint_interval=interval)
        assert not converged and calls[0] == 5
        assert _values(out) == [0, 0, 0]


def test_converged_confirming_round_returns_its_own_output(spark):
    # a step whose last change goes unflagged (as a pointer jump would
    # if counted against the jumped colors): the kernel must return the
    # confirming round's output, not the state it was given
    state = spark.createDataFrame([(0, 0), (1, 2)], "id long, v long")

    def step(st):
        return st.select("id", F.greatest(F.col("v") - 1, F.lit(0))
                         .alias("v"), (F.col("v") > 1).cast("int")
                         .alias("changed"))
    out, converged = pregel(state, step, max_iter=1)
    assert converged and _values(out) == [0, 0]
