"""One fixpoint driver for the iterative graph operators: each operator
supplies its step; the loop, the convergence test and the non-convergence
policy live here. A round is ONE Spark job: the step's frame carries the
round's metrics through ``Dataset.observe`` into the one action that
materializes it (``localCheckpoint`` unless the caller passes another)."""

from __future__ import annotations

import itertools
import warnings
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

COMPACT_EVERY = 16
_names = itertools.count()  # Observation names must be unique per session


class NotConvergedWarning(UserWarning):
    """A round budget ran out before the fixpoint: the result is truncated."""


class Fixpoint(NamedTuple):
    state: DataFrame            # the last round's materialized frame
    settled: DataFrame | None   # frontier form: seed settled ∪ every frontier
    converged: bool
    history: list               # the observed metric tuple of every round


def all_zero(cur, prev):
    """Stop on a zero changed or frontier count."""
    return not any(cur)


def unchanged(cur, prev):
    """Stop when monotone aggregates equal the last round's: nothing changed."""
    return cur == prev


def checkpoint(df, it):
    return df.localCheckpoint()


def observed(df, metrics, materialize=checkpoint, it=0, name="fixpoint"):
    """Materialize ``df`` in one action with the aggregate Columns ``metrics``
    observed on it → (frame, metric tuple); a NULL aggregate reads 0."""
    obs = Observation(f"{name}_{next(_names)}")
    out = materialize(df.observe(
        obs, *[m.alias(f"m{i}") for i, m in enumerate(metrics)]), it)
    got = obs.get
    return out, tuple(got[f"m{i}"] or 0 for i in range(len(metrics)))


def fixpoint(state, step, metrics, max_iter, *, until=all_zero, prev=None,
             settled=None, materialize=checkpoint, start=0, budget=None,
             name="fixpoint") -> Fixpoint:
    """``state = materialize(step(state, it))`` for ``it`` in ``[start,
    max_iter)`` until ``until(metrics, last round's metrics)`` (``prev``: the
    seed's). Frontier form (``settled`` given): ``step(frontier, settled,
    it)``, ``metrics`` default to the frontier's row count, and each
    non-empty frontier joins ``settled`` as a lazy union compacted every
    ``COMPACT_EVERY`` rounds. Running out of rounds returns
    ``converged=False``; a caller whose ``max_iter`` is a budget names it in
    ``budget`` and gets one ``NotConvergedWarning`` (a radius is not one)."""
    if metrics is None:
        metrics = [F.count(F.lit(1))]
    history = []
    for it in range(start, max_iter):
        args = (state, it) if settled is None else (state, settled, it)
        state, cur = observed(step(*args), metrics, materialize, it, name)
        history.append(cur)
        if until(cur, prev):
            return Fixpoint(state, settled, True, history)
        if settled is not None:
            settled = settled.unionAll(state)
            if len(history) % COMPACT_EVERY == 0:
                settled = settled.localCheckpoint()
        prev = cur
    if budget is not None:
        warnings.warn(NotConvergedWarning(
            f"{name} stopped at {budget}={max_iter} before its fixpoint — the "
            f"result is truncated; raise {budget}"), stacklevel=3)
    return Fixpoint(state, settled, False, history)
