"""One driver loop for the engine's iterative operators: pagerank,
pagerank_integer, hits_integer, k_core (graph.py), dedup_clusters
(dedup.py) and mondrian_anonymize (profile.py) keep only their round
body, and :func:`fixpoint` owns the rest — the per-round eager
checkpoint with its observed scalar, the stop rule, the round cap,
releasing the loop-invariant caches and the log record — so the loops
cannot drift apart.
"""

from __future__ import annotations

import logging
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, Observation

log = logging.getLogger(__name__)

#: A frame to checkpoint and the aggregate to observe on it (or None).
Round = tuple[DataFrame, Column | None]


def _checkpoint(frame: DataFrame, metric: Column | None):
    if metric is None:
        return frame.localCheckpoint(eager=True), None
    obs = Observation()
    out = frame.observe(obs, metric.alias("v")).localCheckpoint(eager=True)
    return out, obs.get["v"]


def fixpoint(op: str, seed: Round,
             step: Callable[[DataFrame, Any], Round], *, rounds: int,
             until: Callable[[Any, Any], bool] | None = None,
             cap: str = "max_rounds",
             release: Iterable[DataFrame] = ()) -> tuple[DataFrame, Any]:
    """Checkpoint ``seed`` as round 0, then ``step(state, value)`` up to
    ``rounds`` times; return the last state and its observed value.

    Each round is ONE eager ``localCheckpoint``: it keeps the plan
    O(1)-deep instead of O(rounds)-deep, and the round's scalar (a
    convergence count, a carried total) rides it through ``observe()``
    at no second action. ``until(previous, current)`` stops the loop;
    without it the loop runs exactly ``rounds`` rounds, with it running
    out of rounds raises RuntimeError naming ``cap``, the caller's
    parameter for ``rounds``: a partially converged result (split
    clusters, a non-core) is wrong, not approximate. ``release`` frames
    are unpersisted on every exit path, so the result must read only
    the checkpointed state. Each call logs one INFO record with the
    fields ``operator``, ``rounds``, ``observed`` (round 0 = the seed)
    and ``converged`` (None without a stop rule).
    """
    observed: list = []
    converged = None if until is None else False
    try:
        state, value = _checkpoint(*seed)
        observed.append(value)
        for _ in range(rounds):
            state, nxt = _checkpoint(*step(state, value))
            observed.append(nxt)
            if until is not None and until(value, nxt):
                converged = True
                return state, nxt
            value = nxt
        if until is not None:
            raise RuntimeError(
                f"{op} did not reach a fixed point within {rounds} rounds "
                f"— the partial result is not returned; raise {cap}")
        return state, value
    finally:
        for frame in release:
            frame.unpersist()
        ran = max(len(observed) - 1, 0)
        log.info("%s: %d rounds, converged=%s, observed=%s", op, ran,
                 converged, observed,
                 extra={"operator": op, "rounds": ran, "observed": observed,
                        "converged": converged})
