"""Bounded-variable dual simplex for warm-started branch-and-bound nodes.

A B&B child differs from its parent only by one tightened integer bound.
The parent's optimal basis stays DUAL-feasible for the child (costs are
unchanged; a bound move can only make a variable primal-infeasible), so a
dual simplex started from that basis typically re-optimizes in a handful
of pivots instead of the two-phase from-scratch solve (`simplex.solve_lp`)
— the standard MIP-solver node loop (HiGHS, the reference's engine, does
exactly this with its dual simplex; reference: src/highs_extension.cpp
delegates node solves to Highs::run()).

Representation: the LP  min c·x, row_lb ≤ Ax ≤ row_ub, col_lb ≤ x ≤ col_ub
becomes  min c̃·z  s.t.  G z = 0,  l ≤ z ≤ u  with  z = (x, s),
G = [A | −I] — every row bound is a SLACK bound, so B&B bound changes
never alter G's structure, only l/u. That structural stability is what
makes basis inheritance trivial (the two-phase solver's standard form
changes shape with the bounds, which is why it cannot warm-start).

Robustness contract: this module is OPPORTUNISTIC. Every entry point
either returns a verified-optimal result or ``None`` ("fall back to the
cold solver"); it never returns a wrong answer silently — final primal
AND dual feasibility are re-checked before 'Optimal' is reported, and an
iteration cap turns cycling into a fallback, not a hang.

Model sizes here are tiny (≤ ~50 columns after slacks) and a warm node
takes a handful of pivots, so every iteration refactorizes densely — no
numerical drift, no update formulas to get wrong. (The primal
`simplex._simplex_phase`, which runs thousands of pivots on bulk LPs,
instead updates B⁻¹ by rank-1 steps and refactorizes every 32 pivots.)
"""

from __future__ import annotations

import numpy as np

_TOL = 1e-9
_DTOL = 1e-7  # dual-feasibility tolerance

BASIC, AT_LOWER, AT_UPPER, FREE0 = 0, 1, 2, 3

#: module-wide pivot counters, for the warm-vs-cold iteration tests
PIVOTS = {"dual": 0}


class BoundedState:
    """(basis, statuses) of a bounded-form vertex; immutable per node."""

    __slots__ = ("basis", "status")

    def __init__(self, basis: list[int], status: np.ndarray):
        self.basis = list(basis)
        self.status = status.copy()


def _bounded_form(a_arr, row_lb, row_ub, col_lb, col_ub, c):
    m, n = a_arr.shape
    G = np.hstack([a_arr, -np.eye(m)]) if m else np.zeros((0, n))
    low = np.concatenate([col_lb, row_lb])
    up = np.concatenate([col_ub, row_ub])
    cg = np.concatenate([c, np.zeros(m)])
    return G, low, up, cg


def _nonbasic_values(low, up, status):
    z = np.zeros(len(status))
    at_l = status == AT_LOWER
    at_u = status == AT_UPPER
    z[at_l] = low[at_l]
    z[at_u] = up[at_u]
    return z


def crash_state(x, a_arr, row_lb, row_ub, col_lb, col_ub, c) -> BoundedState | None:
    """Build a bounded-form basic state from a solved LP's primal point.

    Strictly-interior components must be basic at a vertex; the basis is
    completed greedily with independent columns (slacks preferred — they
    keep B well-conditioned). Returns None when the point doesn't admit a
    clean dual-feasible basis (degenerate/tolerance edge) — callers then
    skip warm-starting, never guess."""
    m, n = a_arr.shape
    if m == 0:
        return None
    G, low, up, cg = _bounded_form(a_arr, row_lb, row_ub, col_lb, col_ub, c)
    z = np.concatenate([x, a_arr @ x])
    ncols = n + m
    interior = [
        j
        for j in range(ncols)
        if (not np.isfinite(low[j]) or z[j] > low[j] + 1e-7)
        and (not np.isfinite(up[j]) or z[j] < up[j] - 1e-7)
    ]
    if len(interior) > m:
        return None  # not a vertex (shouldn't happen from a simplex solve)
    # greedy rank-building: interior columns first (mandatory), then slacks,
    # then structural columns
    order = interior + [j for j in range(n, ncols) if j not in interior] + [
        j for j in range(n) if j not in interior
    ]
    basis: list[int] = []
    Bcols: list[np.ndarray] = []
    for j in order:
        if len(basis) == m:
            break
        cand = Bcols + [G[:, j]]
        if np.linalg.matrix_rank(np.column_stack(cand)) == len(cand):
            basis.append(j)
            Bcols.append(G[:, j])
    if len(basis) < m or any(j not in basis for j in interior):
        return None
    status = np.full(ncols, AT_LOWER, dtype=np.int8)
    for j in range(ncols):
        if j in basis:
            status[j] = BASIC
        elif np.isfinite(low[j]) and abs(z[j] - low[j]) <= 1e-6:
            status[j] = AT_LOWER
        elif np.isfinite(up[j]) and abs(z[j] - up[j]) <= 1e-6:
            status[j] = AT_UPPER
        elif not np.isfinite(low[j]) and not np.isfinite(up[j]) and abs(z[j]) <= 1e-6:
            status[j] = FREE0
        else:
            return None  # interior but couldn't be made basic
    state = BoundedState(basis, status)
    if _dual_violation(G, cg, state, low, up) > _DTOL:
        return None
    return state


def _dual_violation(G, cg, state: BoundedState, low, up) -> float:
    B = G[:, state.basis]
    try:
        y = np.linalg.solve(B.T, cg[state.basis])
    except np.linalg.LinAlgError:
        return np.inf
    rc = cg - y @ G
    worst = 0.0
    for j in range(len(cg)):
        st = state.status[j]
        if st == AT_LOWER and rc[j] < -worst:
            worst = -rc[j]
        elif st == AT_UPPER and rc[j] > worst:
            worst = rc[j]
        elif st == FREE0:
            worst = max(worst, abs(rc[j]))
    return worst


def dual_solve(
    c,
    a_arr,
    row_lb,
    row_ub,
    col_lb,
    col_ub,
    warm: BoundedState,
    max_iter: int | None = None,
):
    """Re-optimize from a dual-feasible basis after bound changes.

    Returns (status, x, objective, new_state):
      - ('Optimal', x, obj, state)   — verified primal+dual feasible
      - ('Infeasible', None, inf, None) — dual unbounded ⇒ primal empty
      - (None, ...)                  — give up; caller cold-solves
    """
    m, n = a_arr.shape
    if m == 0:
        return None, None, 0.0, None
    G, low, up, cg = _bounded_form(a_arr, row_lb, row_ub, col_lb, col_ub, c)
    ncols = n + m
    basis = list(warm.basis)
    status = warm.status.copy()
    # re-snap nonbasic statuses to the CHILD's bounds: a nonbasic variable
    # whose bound moved sits at the new bound (same side); one whose bound
    # side vanished cannot keep its status
    for j in range(ncols):
        st = status[j]
        if st == AT_LOWER and not np.isfinite(low[j]):
            return None, None, 0.0, None
        if st == AT_UPPER and not np.isfinite(up[j]):
            return None, None, 0.0, None
    if max_iter is None:
        max_iter = 50 + 10 * (m + n)

    for _ in range(max_iter):
        B = G[:, basis]
        try:
            xN = _nonbasic_values(low, up, status)
            xN[basis] = 0.0
            xB = np.linalg.solve(B, -(G @ xN))
            y = np.linalg.solve(B.T, cg[basis])
        except np.linalg.LinAlgError:
            return None, None, 0.0, None
        rc = cg - y @ G

        # leaving choice: largest bound violation among basic vars
        viol = np.zeros(m)
        below = np.zeros(m, dtype=bool)
        for i, bj in enumerate(basis):
            if np.isfinite(low[bj]) and xB[i] < low[bj] - _TOL:
                viol[i] = low[bj] - xB[i]
                below[i] = True
            elif np.isfinite(up[bj]) and xB[i] > up[bj] + _TOL:
                viol[i] = xB[i] - up[bj]
        if viol.max() <= _TOL:
            # primal feasible; dual feasibility was the loop invariant —
            # verify both before reporting success
            state = BoundedState(basis, status)
            if _dual_violation(G, cg, state, low, up) > 1e-6:
                return None, None, 0.0, None
            z = _nonbasic_values(low, up, status)
            for i, bj in enumerate(basis):
                z[bj] = xB[i]
            if np.max(np.abs(G @ z)) > 1e-6:
                return None, None, 0.0, None
            x = z[:n]
            return "Optimal", x, float(c @ x), state
        r = int(np.argmax(viol))
        # Dual step y' = y + t·sign·ρ (t ≥ 0). The leaver's reduced cost
        # becomes −t·sign (α_leaver = 1): leaving AT_LOWER (below bound)
        # needs rc' ≥ 0 ⇒ sign = −1; leaving AT_UPPER needs rc' ≤ 0 ⇒ +1.
        sign = -1.0 if below[r] else 1.0

        er = np.zeros(m)
        er[r] = 1.0
        try:
            rho = np.linalg.solve(B.T, er)
        except np.linalg.LinAlgError:
            return None, None, 0.0, None
        alpha = rho @ G

        # dual ratio test: y moves by t·sign·rho, rc_j by −t·sign·alpha_j;
        # keep rc ≥ 0 at lower, ≤ 0 at upper, = 0 handled by t = 0 entries
        best_t = np.inf
        entering = -1
        for j in range(ncols):
            st = status[j]
            if st == BASIC:
                continue
            d = sign * alpha[j]
            if st == AT_LOWER and d > _DTOL:
                t = max(rc[j], 0.0) / d
            elif st == AT_UPPER and d < -_DTOL:
                t = min(rc[j], 0.0) / d
            elif st == FREE0 and abs(d) > _DTOL:
                t = 0.0
            else:
                continue
            if t < best_t - _TOL or (t < best_t + _TOL and (entering < 0 or j < entering)):
                best_t = t
                entering = j
        if entering < 0:
            return "Infeasible", None, np.inf, None  # dual unbounded
        leave = basis[r]
        status[leave] = AT_LOWER if below[r] else AT_UPPER
        status[entering] = BASIC
        basis[r] = entering
        PIVOTS["dual"] += 1
    return None, None, 0.0, None  # cap hit: let the cold solver handle it
