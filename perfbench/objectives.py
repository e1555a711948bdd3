"""Objectives for the search workload.  Kept in their own module so Spark's
Python workers import them by name (the runner puts this directory on the
workers' ``PYTHONPATH``)."""

from __future__ import annotations

import numpy as np

# Per-point work of the costly objective: this many multiply-adds over a
# 4096-vector whose values never change, so the cost does not depend on
# the point.  On a 4-core x86 VM, 18000 rounds took about 117 ms of one
# core.  A 10-dim poll round is 30 points in 4 tasks; in a traced run its
# evaluator call took 1.17 s, against 0.27 s for a round of the cheap
# sphere, so evaluation filled about 77% of each round (METRICS.md).
COSTLY_ROUNDS = 18000


def sphere(xs):
    """Vectorized sphere: one value per row; minimum 0 at the origin."""
    xs = np.atleast_2d(xs)
    return (xs * xs).sum(axis=1)


def rosenbrock(xs):
    """Vectorized Rosenbrock: minimum 0 at the all-ones point."""
    xs = np.atleast_2d(xs)
    return (100.0 * (xs[:, 1:] - xs[:, :-1] ** 2) ** 2 + (1.0 - xs[:, :-1]) ** 2).sum(axis=1)


def costly_sphere(x):
    """Per-point sphere with a fixed CPU cost in front of it, so that
    evaluating a poll round, not launching its Spark job, dominates."""
    x = np.asarray(x, dtype=float)
    h = np.ones(4096)
    for _ in range(COSTLY_ROUNDS):
        h = h * 0.5 + 0.5
    return float(x.dot(x)) + 0.0 * float(h[0])
