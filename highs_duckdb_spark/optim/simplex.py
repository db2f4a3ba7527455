"""Pure-numpy LP solver (two-phase revised simplex, bounded variables via
standard-form rewriting) plus a branch-and-bound MILP layer.

The execution container ships no LP library (no scipy / highspy), so the
solver is implemented from the textbook algorithm. Model sizes in the
reference's workloads are tiny (≤34 variables / 14 constraints,
reference: network_flow_example.sql:12-165), but bulk workloads also
solve 60×30 LPs that take over a thousand Bland pivots. The revised simplex
keeps an explicit B⁻¹: each pivot applies a rank-1 product-form update
(O(m²)), and B⁻¹ is inverted from scratch every ``_REFACTOR_PERIOD`` (32)
pivots. The final basis is always re-solved from scratch, so reported
values carry no update drift.

Semantics match the reference solver surface (reference:
src/highs_extension.cpp:512-688):

- Minimize-only objective (reference: src/highs_extension.cpp:43).
- ``±1e30`` and anything beyond is an infinity sentinel for bounds
  (reference: test/sql/highs.test:33-41; HiGHS treats |b| ≥ 1e30 as ∞).
- Row bounds are ranges ``row_lb ≤ a·x ≤ row_ub`` (equality when lb == ub).
- ``reduced_cost`` is the variable dual ``c_j − Σ_i a_ij y_i`` over the
  structural rows only (HiGHS ``col_dual``); 0.0 for MILP solves, where
  duals are unavailable.
- Statuses: ``Optimal`` / ``Infeasible`` / ``Unbounded`` / ``Unknown``
  (reference: src/highs_extension.cpp:653-667).

Scale note: this module is deliberately driver/executor-local and
dependency-free; at cluster scale many independent models are solved in
parallel by shipping this module inside a pandas UDF
(:mod:`highs_duckdb_spark.optim.bulk`), so the simplex never needs to be
distributed itself.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

INF_SENTINEL = 1e30  # |bound| >= this means infinite (reference: test/sql/highs.test:33)
_TOL = 1e-9
_INT_TOL = 1e-6

#: node count of the most recent solve_milp call (introspection for the
#: branching-quality tests; not part of the solver contract)
_last_milp_nodes = 0

#: total primal-simplex pivots since process start (phase 1 + phase 2);
#: with dual_simplex.PIVOTS this lets tests measure how much work the
#: warm-started node loop avoids. Not part of the solver contract.
_PIVOTS = {"primal": 0}


@dataclass
class LPResult:
    status: str  # Optimal | Infeasible | Unbounded | Unknown
    x: np.ndarray = field(default_factory=lambda: np.zeros(0))
    reduced_costs: np.ndarray = field(default_factory=lambda: np.zeros(0))
    objective: float = 0.0
    row_duals: np.ndarray = field(default_factory=lambda: np.zeros(0))
    #: (xB, Binv, row_src_kept) of the final optimal basis — populated only
    #: by solve_lp on an Optimal finish; consumed by rhs_ranging.
    basis_info: tuple | None = None


def _clean_bound(b: float, default: float) -> float:
    if b is None or np.isnan(b):
        return default
    if b >= INF_SENTINEL:
        return np.inf
    if b <= -INF_SENTINEL:
        return -np.inf
    return float(b)


class _StandardForm:
    """Rewrite min c·x, row_lb ≤ Ax ≤ row_ub, col_lb ≤ x ≤ col_ub into
    min c̃·x̃ s.t. Ã x̃ = b̃, x̃ ≥ 0 while remembering how to map the
    solution and the structural-row duals back."""

    def __init__(
        self,
        c: np.ndarray,
        a_dense: np.ndarray,
        row_lb: np.ndarray,
        row_ub: np.ndarray,
        col_lb: np.ndarray,
        col_ub: np.ndarray,
    ) -> None:
        n_orig, m_orig = len(c), len(row_lb)
        cols: list[np.ndarray] = []  # columns of Ã (structural rows only, for now)
        cstd: list[float] = []
        self.obj_shift = 0.0
        # var maps: orig j -> (mode, std column index/indices, shift)
        # mode: 'shift' x = lb + x'; 'flip' x = ub − x'; 'free' x = x⁺ − x⁻
        self.var_map: list[tuple[str, tuple[int, ...], float]] = []
        self.bound_rows: list[tuple[int, float]] = []  # (std col idx, residual ub)
        rhs_adjust = np.zeros(m_orig)

        for j in range(n_orig):
            lb, ub = col_lb[j], col_ub[j]
            aj = a_dense[:, j]
            # lb > ub is rejected by solve_lp before construction
            if np.isfinite(lb):
                k = len(cols)
                cols.append(aj.copy())
                cstd.append(float(c[j]))
                self.obj_shift += c[j] * lb
                rhs_adjust += aj * lb
                self.var_map.append(("shift", (k,), lb))
                if np.isfinite(ub):
                    self.bound_rows.append((k, ub - lb))
            elif np.isfinite(ub):
                k = len(cols)
                cols.append(-aj)
                cstd.append(float(-c[j]))
                self.obj_shift += c[j] * ub
                rhs_adjust += aj * ub
                self.var_map.append(("flip", (k,), ub))
            else:
                k = len(cols)
                cols.append(aj.copy())
                cols.append(-aj)
                cstd.append(float(c[j]))
                cstd.append(float(-c[j]))
                self.var_map.append(("free", (k, k + 1), 0.0))

        n_std = len(cols)
        a_cols = np.column_stack(cols) if cols else np.zeros((m_orig, 0))

        # Structural rows → equality rows with slack/surplus.
        # row_sign[i] lets us recover the structural dual after any row flip
        # done to keep b ≥ 0 (dual of a negated row is the negated dual).
        rows: list[np.ndarray] = []
        rhs: list[float] = []
        self.row_src: list[tuple[int, float]] = []  # (orig row, sign)
        extra_cols: list[tuple[int, float]] = []  # (row idx, ±1 slack) added later

        def add_row(coeffs: np.ndarray, b: float, src: int, slack: float) -> None:
            sign = 1.0
            if b < 0:
                coeffs, b, slack, sign = -coeffs, -b, -slack, -1.0
            idx = len(rows)
            rows.append(coeffs)
            rhs.append(b)
            self.row_src.append((src, sign))
            if slack != 0.0:
                extra_cols.append((idx, slack))

        for i in range(m_orig):
            rl = row_lb[i] - rhs_adjust[i] if np.isfinite(row_lb[i]) else -np.inf
            ru = row_ub[i] - rhs_adjust[i] if np.isfinite(row_ub[i]) else np.inf
            ai = a_cols[i, :] if n_std else np.zeros(0)
            if not np.isfinite(rl) and not np.isfinite(ru):
                continue  # free row
            if np.isfinite(rl) and np.isfinite(ru) and abs(row_lb[i] - row_ub[i]) <= _TOL:
                add_row(ai.copy(), rl, i, 0.0)  # equality
                continue
            if np.isfinite(ru):
                add_row(ai.copy(), ru, i, 1.0)  # a·x + s = ub
            if np.isfinite(rl):
                add_row(ai.copy(), rl, i, -1.0)  # a·x − s = lb
        # Bound rows x'_k + s = ub' (no structural dual; src = −1)
        for k, res_ub in self.bound_rows:
            coeffs = np.zeros(n_std)
            coeffs[k] = 1.0
            add_row(coeffs, res_ub, -1, 1.0)

        m = len(rows)
        n_slack = len(extra_cols)
        self.A = np.zeros((m, n_std + n_slack))
        if m:
            self.A[:, :n_std] = np.vstack(rows) if rows else np.zeros((0, n_std))
        for t, (ridx, s) in enumerate(extra_cols):
            self.A[ridx, n_std + t] = s
        self.b = np.array(rhs)
        self.c = np.concatenate([np.array(cstd), np.zeros(n_slack)])
        self.n_std = n_std
        self.n_orig = n_orig
        self.m_orig = m_orig
        self.col_lb = col_lb

    def recover_x(self, xstd: np.ndarray) -> np.ndarray:
        x = np.zeros(self.n_orig)
        for j, (mode, idxs, shift) in enumerate(self.var_map):
            if mode == "shift":
                x[j] = shift + xstd[idxs[0]]
            elif mode == "flip":
                x[j] = shift - xstd[idxs[0]]
            else:
                x[j] = xstd[idxs[0]] - xstd[idxs[1]]
        return x


#: pivots between two from-scratch inversions of the basis in
#: :func:`_simplex_phase`; the rank-1 updates in between cost O(m²) each
_REFACTOR_PERIOD = 32


def _simplex_phase(
    A: np.ndarray,
    b: np.ndarray,
    c: np.ndarray,
    basis: list[int],
    allowed: np.ndarray,
    max_iter: int = 20000,
) -> str:
    """Revised simplex with Bland's rule on an explicit basis inverse.

    B⁻¹ is inverted from scratch on entry and every ``_REFACTOR_PERIOD``
    pivots; in between each pivot applies the rank-1 product-form update
    (eliminate the entering column ``d = B⁻¹a_q`` on the leaving row), so a
    pivot costs O(m²) plus the O(m·n) pricing. Callers re-solve the final
    basis from scratch, so update drift never reaches a reported result.

    Mutates ``basis`` in place. Returns 'Optimal'|'Unbounded'|'Unknown'.
    ``allowed[j]`` False bars column j from entering (used to freeze
    artificials in phase 2).
    """
    m, n = A.shape
    bidx = np.array(basis, dtype=np.intp)
    in_basis = np.zeros(n, dtype=bool)
    in_basis[bidx] = True
    binv = None
    for it in range(max_iter):
        if it % _REFACTOR_PERIOD == 0:
            try:
                binv = np.linalg.inv(A[:, bidx])
            except np.linalg.LinAlgError:
                return "Unknown"
        xB = binv @ b
        rc = c - (c[bidx] @ binv) @ A
        # Bland: lowest-index allowed non-basic column with rc < −tol
        entering = np.flatnonzero(allowed & ~in_basis & (rc < -_TOL))
        if not entering.size:
            return "Optimal"
        q = int(entering[0])
        d = binv @ A[:, q]
        pos = d > _TOL
        if not pos.any():
            return "Unbounded"
        ratios = np.full(m, np.inf)
        ratios[pos] = xB[pos] / d[pos]
        # Bland tie-break: leaving = smallest basis column index among ties
        ties = np.flatnonzero(pos & (ratios <= ratios.min() + _TOL))
        r = int(ties[np.argmin(bidx[ties])])
        in_basis[bidx[r]] = False
        in_basis[q] = True
        bidx[r] = q
        basis[r] = q
        pivot_row = binv[r] / d[r]
        binv -= np.outer(d, pivot_row)
        binv[r] = pivot_row
        _PIVOTS["primal"] += 1
    return "Unknown"


def solve_lp(
    c,
    a_dense,
    row_lb,
    row_ub,
    col_lb,
    col_ub,
) -> LPResult:
    """Solve min c·x s.t. row_lb ≤ Ax ≤ row_ub, col_lb ≤ x ≤ col_ub.

    All bounds accept the ±1e30 infinity sentinel. Returns primal values,
    structural-row duals, and per-variable reduced costs (HiGHS
    ``col_dual`` convention: c_j − Σ a_ij y_i over structural rows).
    """
    c = np.asarray(c, dtype=float)
    n = len(c)
    a_dense = np.asarray(a_dense, dtype=float).reshape(len(row_lb), n) if n else np.zeros(
        (len(row_lb), 0)
    )
    col_lb = np.array([_clean_bound(v, -np.inf) for v in col_lb])
    col_ub = np.array([_clean_bound(v, np.inf) for v in col_ub])
    row_lb = np.array([_clean_bound(v, -np.inf) for v in row_lb])
    row_ub = np.array([_clean_bound(v, np.inf) for v in row_ub])

    if n == 0:
        return LPResult("Optimal", np.zeros(0), np.zeros(0), 0.0, np.zeros(len(row_lb)))
    if np.any(col_lb > col_ub + _TOL) or np.any(
        np.isfinite(row_lb) & np.isfinite(row_ub) & (row_lb > row_ub + _TOL)
    ):
        return LPResult("Infeasible")

    sf = _StandardForm(c, a_dense, row_lb, row_ub, col_lb, col_ub)
    A, b, cstd = sf.A, sf.b, sf.c
    m, n_tot = A.shape

    if m == 0:  # no rows at all: minimize each var independently at its bound
        x = np.zeros(n)
        for j in range(n):
            if c[j] > _TOL:
                if not np.isfinite(col_lb[j]):
                    return LPResult("Unbounded")
                x[j] = col_lb[j]
            elif c[j] < -_TOL:
                if not np.isfinite(col_ub[j]):
                    return LPResult("Unbounded")
                x[j] = col_ub[j]
            elif np.isfinite(col_lb[j]):
                x[j] = col_lb[j]
            elif np.isfinite(col_ub[j]):
                x[j] = col_ub[j]
        return LPResult("Optimal", x, c.copy(), float(c @ x), np.zeros(len(row_lb)))

    # Phase 1: artificial basis
    A1 = np.hstack([A, np.eye(m)])
    c1 = np.concatenate([np.zeros(n_tot), np.ones(m)])
    basis = list(range(n_tot, n_tot + m))
    allowed = np.ones(n_tot + m, dtype=bool)
    status = _simplex_phase(A1, b, c1, basis, allowed)
    if status == "Unknown":
        return LPResult("Unknown")
    B = A1[:, basis]
    xB = np.linalg.solve(B, b)
    if c1[basis] @ xB > 1e-7:
        return LPResult("Infeasible")

    # Drive artificials still basic (at zero) out of the basis. A row whose
    # basic artificial admits no structural pivot is linearly dependent on
    # the others (common in flow-conservation systems, where the rows sum to
    # zero) and is dropped — otherwise a later phase-2 pivot could push the
    # artificial positive and "Optimal" would be reported for an x with
    # Ax ≠ b.
    drop_rows: set[int] = set()
    art_positions = [p for p in range(m) if basis[p] >= n_tot]
    if art_positions:
        try:
            Binv = np.linalg.inv(A1[:, basis])
        except np.linalg.LinAlgError:
            return LPResult("Unknown")
        for p in art_positions:
            tab_row = Binv[p, :] @ A1[:, :n_tot]
            entering = -1
            for j in range(n_tot):
                if j not in basis and abs(tab_row[j]) > 1e-7:
                    entering = j
                    break
            if entering >= 0:
                basis[p] = entering  # degenerate pivot: enters at value 0
                try:
                    Binv = np.linalg.inv(A1[:, basis])
                except np.linalg.LinAlgError:
                    return LPResult("Unknown")
            else:
                drop_rows.add(basis[p] - n_tot)

    keep = [i for i in range(m) if i not in drop_rows]
    A2, b2 = A[keep, :], b[keep]
    row_src_kept = [sf.row_src[i] for i in keep]
    basis = [col for col in basis if col < n_tot]

    # Phase 2 on the structural-only system (no artificial columns remain)
    status = _simplex_phase(A2, b2, cstd, basis, np.ones(n_tot, dtype=bool))
    if status == "Unbounded":
        return LPResult("Unbounded")
    if status == "Unknown":
        return LPResult("Unknown")

    B = A2[:, basis]
    xB = np.linalg.solve(B, b2)
    y_kept = np.linalg.solve(B.T, cstd[basis])
    xstd = np.zeros(n_tot)
    for pos_i, col in enumerate(basis):
        xstd[col] = xB[pos_i]
    # Safety net: verify primal feasibility on the FULL system (including any
    # dropped rows) before claiming optimality.
    if m and float(np.max(np.abs(A @ xstd - b))) > 1e-6:
        return LPResult("Unknown")
    x = sf.recover_x(xstd)
    # Clamp solver noise back inside the box
    x = np.clip(x, np.where(np.isfinite(col_lb), col_lb, -np.inf), np.where(np.isfinite(col_ub), col_ub, np.inf))
    y = np.zeros(len(row_lb))
    for (src, sign), yv in zip(row_src_kept, y_kept):
        if src >= 0:
            y[src] += sign * yv
    reduced = c - a_dense.T @ y if a_dense.size else c.copy()
    reduced[np.abs(reduced) < 1e-11] = 0.0
    # Store the basis FACTORS, not B⁻¹: only rhs_ranging consumes them, so
    # the O(m³) inversion is deferred there instead of taxing every solve
    # (including the bulk solve_many path) with a dense inverse it never uses.
    info = (xB, B, row_src_kept)
    return LPResult("Optimal", x, reduced, float(c @ x), y, basis_info=info)


def rhs_ranging(res: LPResult) -> dict[int, tuple[float, float]]:
    """Textbook RHS ranging from the optimal basis: for each structural row,
    the interval of its (single finite) bound over which the final basis —
    and therefore the dual solution — stays optimal.

    The classic sensitivity report HiGHS exposes as ``getRanging`` but the
    reference extension never registers. Changing a standard-form row's rhs
    by δ moves the basic solution to ``xB + (B⁻¹ e_r) δ``; the basis stays
    primal-feasible while every component stays ≥ 0, which yields the δ
    interval; the sign recorded at standard-form construction maps δ back
    to the ORIGINAL bound's direction. Rows that appear as two standard
    rows (finite range rows) get the intersection over both; rows dropped
    as redundant or bound-rows (src −1) are skipped.

    Returns {original_row_index: (lo, hi)} with ±inf for unbounded sides,
    as OFFSETS applied to the row's current finite bound.
    """
    if res.status != "Optimal" or res.basis_info is None:
        return {}
    xB, B, row_src_kept = res.basis_info
    # Lazy inversion (solve per the identity, cheaper + more stable than
    # inv), guarded: np.linalg.inv/solve only raise on EXACT singularity —
    # a near-singular final basis would return garbage silently, so reject
    # ill-conditioned bases and verify the residual before trusting B⁻¹.
    try:
        if np.linalg.cond(B) > 1e12:
            return {}
        binv = np.linalg.solve(B, np.eye(B.shape[0]))
    except np.linalg.LinAlgError:
        return {}
    if float(np.max(np.abs(B @ binv - np.eye(B.shape[0])))) > 1e-6:
        return {}
    out: dict[int, tuple[float, float]] = {}
    for r, (src, sign) in enumerate(row_src_kept):
        if src < 0:
            continue  # variable-bound row, not a structural constraint
        d = binv[:, r]
        lo, hi = -np.inf, np.inf
        for j in range(len(xB)):
            if d[j] > _TOL:
                lo = max(lo, -xB[j] / d[j])
            elif d[j] < -_TOL:
                hi = min(hi, -xB[j] / d[j])
        # δ is in std-b units; std b = sign·(bound − adjust), so the
        # original-bound offset interval is sign·[lo, hi] (order-corrected)
        a, b = sign * lo, sign * hi
        lo_o, hi_o = (a, b) if a <= b else (b, a)
        if src in out:  # finite range row: both sides must stay feasible
            plo, phi = out[src]
            lo_o, hi_o = max(plo, lo_o), min(phi, hi_o)
        out[src] = (lo_o, hi_o)
    return out


def solve_milp(
    c,
    a_dense,
    row_lb,
    row_ub,
    col_lb,
    col_ub,
    is_integer,
    max_nodes: int = 100000,
    branching: str = "pseudocost",
    warm_start: bool = True,
) -> LPResult:
    """Branch-and-bound MILP on top of :func:`solve_lp`.

    ``is_integer`` is a boolean mask over variables. Reduced costs are 0.0
    (duals are undefined for MIP — matches the reference surface where
    HiGHS leaves ``col_dual`` empty for MIP solves, reference:
    src/highs_extension.cpp:672-681 backfills 0.0).

    ``branching`` selects the branching-variable rule: ``pseudocost``
    (default — history-driven estimated bound degradation, product rule) or
    ``most_fractional`` (round 3's rule, kept for comparison; the
    node-count tests assert pseudocost needs fewer nodes on the same
    instances).

    ``warm_start``: re-optimize each child node with the bounded dual
    simplex from its parent's optimal basis (dual-feasible after a bound
    tightening; :mod:`highs_duckdb_spark.optim.dual_simplex`) instead of
    the two-phase cold solve — the standard MIP node loop. Opportunistic:
    any anomaly (degenerate crash, cycling cap, tolerance drift) falls
    back to the cold solver, and warm results are verified primal+dual
    feasible before being trusted, so results are identical with the flag
    on or off (asserted over full enumeration sweeps in
    tests/test_simplex.py).
    """
    c = np.asarray(c, dtype=float)
    is_integer = np.asarray(is_integer, dtype=bool)
    col_lb0 = np.array([_clean_bound(v, -np.inf) for v in col_lb])
    col_ub0 = np.array([_clean_bound(v, np.inf) for v in col_ub])
    a_arr = np.asarray(a_dense, dtype=float).reshape(len(row_lb), len(c)) if len(c) else (
        np.zeros((len(row_lb), 0))
    )
    row_lb0 = np.array([_clean_bound(v, -np.inf) for v in row_lb])
    row_ub0 = np.array([_clean_bound(v, np.inf) for v in row_ub])

    def _rows_feasible(x: np.ndarray) -> bool:
        if not len(row_lb0):
            return True
        ax = a_arr @ x
        tol = 1e-9
        lo_ok = ~np.isfinite(row_lb0) | (ax >= row_lb0 - tol)
        hi_ok = ~np.isfinite(row_ub0) | (ax <= row_ub0 + tol)
        return bool(np.all(lo_ok & hi_ok))

    root = solve_lp(c, a_dense, row_lb, row_ub, col_lb0, col_ub0)
    if root.status in ("Infeasible", "Unbounded", "Unknown"):
        return LPResult(root.status, reduced_costs=np.zeros(len(c)))
    if not is_integer.any():
        return root

    best_obj = np.inf
    best_x: np.ndarray | None = None
    # Incumbent warm-start: round the root relaxation's integer vars (clipped
    # into their boxes); a feasible rounding gives an immediate upper bound
    # that lets best-first pruning cut whole subtrees from node 1.
    xi0 = root.x.copy()
    xi0[is_integer] = np.clip(
        np.round(xi0[is_integer]), col_lb0[is_integer], col_ub0[is_integer]
    )
    if _rows_feasible(xi0) and np.all(xi0 >= col_lb0 - 1e-9) and np.all(
        xi0 <= col_ub0 + 1e-9
    ):
        best_obj, best_x = float(c @ xi0), xi0

    # Pseudo-cost branching state: per-variable running averages of the
    # child-LP objective degradation per unit of fractional distance, kept
    # separately for down (floor) and up (ceil) branches. Variables without
    # history borrow the direction's global average (the standard
    # initialization), so early nodes behave like most-fractional via the
    # f·(1−f) product and later nodes branch on the variable that HISTORY
    # says tightens the bound most — measured vs round 3's most-fractional
    # rule in tests/test_simplex.py (node-count comparison on fixed
    # knapsack instances).
    n_vars = len(c)
    # cost-initialized (strong-branching-lite): before any history exists,
    # a variable's expected objective degradation is proportional to |c_j|
    pc_sum = np.tile(np.abs(c), (2, 1))  # 0 = down, 1 = up
    pc_cnt = np.ones((2, n_vars), dtype=np.int64)

    def _pc_avg(direction: int) -> np.ndarray:
        glob = (
            pc_sum[direction].sum() / pc_cnt[direction].sum()
            if pc_cnt[direction].sum()
            else 1.0
        )
        with np.errstate(invalid="ignore"):
            avg = np.where(
                pc_cnt[direction] > 0,
                pc_sum[direction] / np.maximum(pc_cnt[direction], 1),
                glob,
            )
        return avg

    # Best-first search: nodes ordered by their parent's LP bound (a valid
    # lower bound on every descendant since minimize-only), so the most
    # promising subproblem is always expanded next and stale nodes whose
    # bound already exceeds the incumbent are drained without an LP solve.
    import heapq

    from highs_duckdb_spark.optim import dual_simplex as _ds

    root_state = (
        _ds.crash_state(root.x, a_arr, row_lb0, row_ub0, col_lb0, col_ub0, c)
        if warm_start
        else None
    )

    tie = 0
    # The root entry carries its already-solved relaxation so the first pop
    # does not pay a second full solve_lp of a result we are holding.
    # Entries additionally carry (branch_var, direction, fractional
    # distance, parent objective) so the child's solved LP can credit its
    # parent's branching decision in the pseudo-cost tables, plus the
    # parent's bounded-form basis for the warm-started node solve.
    heap: list = [(float(root.objective), tie, col_lb0, col_ub0, root, None, root_state)]
    nodes = 0
    while heap and nodes < max_nodes:
        bound, _, lb, ub, pre, crumb, pstate = heapq.heappop(heap)
        if bound >= best_obj - 1e-9:
            continue  # stale: incumbent already beats this subtree's bound
        nodes += 1
        cur_state = None
        if pre is not None:
            res = pre
            cur_state = pstate
        else:
            res = None
            if pstate is not None:
                st, wx, wobj, wstate = _ds.dual_solve(
                    c, a_arr, row_lb0, row_ub0, lb, ub, pstate
                )
                if st == "Optimal":
                    res = LPResult(
                        "Optimal", wx, np.zeros(len(c)), wobj, np.zeros(len(row_lb0))
                    )
                    cur_state = wstate
                elif st == "Infeasible":
                    res = LPResult("Infeasible")
            if res is None:  # no warm basis, or the warm path bailed
                res = solve_lp(c, a_dense, row_lb, row_ub, lb, ub)
                if warm_start and res.status == "Optimal":
                    cur_state = _ds.crash_state(
                        res.x, a_arr, row_lb0, row_ub0, lb, ub, c
                    )
        if crumb is not None and res.status == "Optimal":
            bj, direction, dist, parent_obj = crumb
            if dist > _INT_TOL:
                pc_sum[direction, bj] += max(res.objective - parent_obj, 0.0) / dist
                pc_cnt[direction, bj] += 1
        if res.status != "Optimal" or res.objective >= best_obj - 1e-9:
            continue
        frac = np.abs(res.x - np.round(res.x))
        frac = np.where(is_integer, frac, 0.0)
        if frac.max() <= _INT_TOL:
            j = int(np.argmax(frac))
            xi = res.x.copy()
            xi[is_integer] = np.round(xi[is_integer])
            # Rounding moves each var by ≤ _INT_TOL, which can push a
            # binding row infeasible (e.g. a tiny-coefficient knapsack at
            # capacity): accept only a genuinely feasible integer point,
            # otherwise fall through and branch on j — frac[j] > 0 whenever
            # rounding changed anything, so floor < ceil and the branch
            # bounds strictly tighten.
            if _rows_feasible(xi):
                obj = float(c @ xi)
                if obj < best_obj - 1e-12:
                    best_obj, best_x = obj, xi
                continue
            if frac[j] == 0.0:
                continue  # nothing to branch on; LP noise only — discard node
        elif branching == "most_fractional":
            j = int(np.argmax(frac))
        else:
            # pseudo-cost product rule: among fractional integer vars,
            # branch where estimated down- AND up-degradation are largest
            f_dn = res.x - np.floor(res.x)
            score = np.where(
                frac > _INT_TOL,
                np.maximum(_pc_avg(0) * f_dn, 1e-6)
                * np.maximum(_pc_avg(1) * (1.0 - f_dn), 1e-6),
                -np.inf,
            )
            j = int(np.argmax(score))
        lo, hi = np.floor(res.x[j]), np.ceil(res.x[j])
        f_j = float(res.x[j] - lo)
        ub_l = ub.copy()
        ub_l[j] = lo
        lb_r = lb.copy()
        lb_r[j] = hi
        # children inherit this node's LP objective as their bound; the
        # floor branch gets the smaller tiebreak so it pops first among
        # equal bounds — same exploration preference as the old DFS
        tie += 1
        heapq.heappush(
            heap,
            (float(res.objective), tie, lb, ub_l, None, (j, 0, f_j, float(res.objective)), cur_state),
        )
        tie += 1
        heapq.heappush(
            heap,
            (float(res.objective), tie, lb_r, ub, None, (j, 1, 1.0 - f_j, float(res.objective)), cur_state),
        )
    global _last_milp_nodes
    _last_milp_nodes = nodes

    # Budget exhausted with LIVE subproblems unexplored? Stale nodes (bound
    # already ≥ incumbent) prove nothing is missed, so they don't truncate.
    truncated = any(entry[0] < best_obj - 1e-9 for entry in heap)
    if best_x is None:
        # Without an incumbent a truncated search proves nothing — only a
        # completed search may claim Infeasible.
        return LPResult("Unknown" if truncated else "Infeasible", reduced_costs=np.zeros(len(c)))
    if truncated:
        # Incumbent is feasible but unproven optimal: report Unknown with the
        # best-effort solution attached rather than overclaiming Optimal.
        return LPResult("Unknown", best_x, np.zeros(len(c)), best_obj, np.zeros(len(row_lb)))
    return LPResult("Optimal", best_x, np.zeros(len(c)), best_obj, np.zeros(len(row_lb)))
