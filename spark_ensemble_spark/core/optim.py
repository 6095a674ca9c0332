"""Driver-side optimizers for GBM step sizes.

The reference uses commons-math3 Brent (``GBMRegressor.scala:311,412-421``) and
breeze L-BFGS-B (``GBMClassifier.scala:290-292``). Here every objective
evaluation is a cluster-wide Spark ``agg``, so both optimizers take objectives
that evaluate a whole BATCH of candidates in one call:

* :func:`minimize_nonneg_batched` — projected gradient on x ≥ 0 with
  Barzilai-Borwein step sizes and a batched Armijo backtracking ladder
  (GBMClassifier);
* :func:`minimize_scalar_batched` — grid refinement of a scalar step size on
  [lo, hi] (GBMRegressor).
"""

from __future__ import annotations

import math
from typing import Callable, List, Sequence, Tuple


def minimize_nonneg_batched(
    losses_batch: Callable[[Sequence[Sequence[float]]], List[float]],
    losses_grad0_batch: Callable[
        [Sequence[Sequence[float]]], Tuple[List[float], List[float]]
    ],
    x0: Sequence[float],
    max_iter: int = 15,
    tol: float = 1e-6,
    rel_tol: float = 1e-4,
    ladder: int = 8,
) -> List[float]:
    """min f(x) s.t. x ≥ 0 — projected gradient where Armijo backtracking
    is evaluated in batched calls: ``losses_batch`` returns f at every
    candidate, ``losses_grad0_batch`` also returns ∇f at the FIRST one.

    Motivation (r6, measured): for the GBM classifier every function
    evaluation is a cluster-wide ``agg``; a sequential projected-gradient
    search spent up to 12 aggs inside a single backtracking
    loop (one fit iteration burned 32 evals / 12.7s at sf0.1). r10
    (profiled: the batched agg's per-row cost is LINEAR in ladder width and
    the line search was 70-75% of fit wall time): the ladder is evaluated
    in two CONSTANT-width halves — the shallow half first, the deep half
    only when every shallow rung rejects, which Barzilai-Borwein step
    sizing makes rare. Constant half-width keeps both generated plans
    structurally identical across iterations (codegen compiles each once).
    ``rel_tol`` is the relative-improvement stop — a GBM step size
    multiplied by a learning rate only needs ~1% accuracy.

    r12 (the reference ``GBMLossAggregator``'s one-pass loss+gradient
    trick, ``GBMLoss.scala:34-76``): the shallow half goes through
    ``losses_grad0_batch``, so the common-case outer iteration is ONE
    full-frame agg: BB step sizing accepts rung 0 almost always, and its
    gradient rides in the same pass. Deeper-rung acceptance pays a separate
    gradient evaluation, ``losses_grad0_batch([x])``.
    """
    x = [max(float(v), 0.0) for v in x0]
    (f,), g = losses_grad0_batch([x])
    step = 1.0
    x_prev = g_prev = None
    for _ in range(max_iter):
        gnorm = math.sqrt(sum(gi * gi for gi in g))
        if gnorm < tol:
            break
        if x_prev is not None:
            # Barzilai-Borwein step: step ≈ (Δx·Δx)/(Δx·Δg) adapts the
            # magnitude from observed curvature — plain projected gradient
            # with multiplicative growth crawled toward step sizes of 2-6
            # over all 15 iterations (measured f trajectories); BB lands
            # there in 2-3.
            dx = [a - b for a, b in zip(x, x_prev)]
            dg = [a - b for a, b in zip(g, g_prev)]
            denom = sum(a * b for a, b in zip(dx, dg))
            if denom > 1e-18:
                step = min(max(sum(a * a for a in dx) / denom, 1e-4), 1e4)
        scales = [step * (0.3 ** j) for j in range(ladder)]
        cands = [
            [max(xi - s * gi, 0.0) for xi, gi in zip(x, g)] for s in scales
        ]

        def _scan(ss, cs, fcs):
            for j, (s, c, fc) in enumerate(zip(ss, cs, fcs)):
                if all(abs(ci - xi) < 1e-15 for ci, xi in zip(c, x)):
                    continue  # projection made this rung a no-op
                desc = sum(gi * (ci - xi) for gi, ci, xi in zip(g, c, x))
                if fc <= f + 1e-4 * desc:
                    return (j, s, c, fc)
            return None

        # Split the ladder (r10, profiled): the batched loss agg is the
        # fit's dominant cost and its per-row work is LINEAR in ladder
        # width, while BB step sizing makes acceptance land on the first
        # rungs almost always — so evaluate the top half first and pay
        # for the deep rungs only when every shallow rung rejects.
        # Acceptance semantics are IDENTICAL to the full-width scan
        # (first accepted rung in order), so trajectories — and the
        # oracle-checked fitted weights — are bit-for-bit unchanged.
        half = max(1, ladder // 2)
        fcs, grad0 = losses_grad0_batch(cands[:half])
        accepted = _scan(scales[:half], cands[:half], fcs)
        if accepted is None and half < ladder:
            fcs2 = losses_batch(cands[half:])
            acc2 = _scan(scales[half:], cands[half:], fcs2)
            accepted = (
                None
                if acc2 is None
                else (acc2[0] + half, acc2[1], acc2[2], acc2[3])
            )
        if accepted is None:
            break
        j, s, c, fc = accepted
        improved_enough = (f - fc) >= rel_tol * max(abs(f), 1e-12)
        x_prev, g_prev = x, g
        x, f = c, fc
        if not improved_enough:
            break
        if j == 0:
            g = grad0  # the fused pass already evaluated ∇f at rung 0
        else:
            _, g = losses_grad0_batch([x])
        step = s
    return x


def minimize_scalar_batched(
    fun_batch: Callable[[Sequence[float]], List[float]],
    lo: float = 0.0,
    hi: float = 100.0,
    rounds: int = 3,
    points: int = 9,
) -> float:
    """Scalar minimization where the objective can evaluate a BATCH of
    candidates in one call (for Spark: one agg computing N loss sums instead
    of N sequential aggs — golden-section's eval count at 1/10 the job count).

    Round 1 scans a log-ish grid over [lo, hi]; each later round re-grids
    linearly around the incumbent. Precision after 3 rounds ≈ (hi−lo)/points³,
    plenty for a GBM step size multiplied by a learning rate.
    """
    # log-spaced-ish first grid (denser near the typical optimum ~1)
    grid = sorted(
        {
            lo,
            *(lo + (hi - lo) * (i / (points - 1)) ** 3 for i in range(points)),
            1.0,
            hi,
        }
    )
    best_x, best_f = None, None
    for _ in range(rounds):
        fs = fun_batch(list(grid))
        for x, fx in zip(grid, fs):
            if best_f is None or fx < best_f:
                best_x, best_f = x, fx
        # linear re-grid around the incumbent (which may be from a prior grid)
        i = min(range(len(grid)), key=lambda j: abs(grid[j] - best_x))
        a = grid[max(i - 1, 0)]
        b = grid[min(i + 1, len(grid) - 1)]
        if b - a < 1e-9:
            break
        grid = sorted({a + (b - a) * j / (points - 1) for j in range(points)})
    return float(best_x)
