"""LP/MIP inputs with known optima, for the two optimization workloads.

- :func:`planted_lp` builds an LP around a chosen optimum: a primal point,
  row and column activity pattern, duals and reduced costs are drawn first
  and the costs are derived from them (c = Aᵀy + d), so the KKT conditions
  certify the planted point and its objective is the LP optimum.
- :func:`brute_mip` builds a pure-binary MIP (≤ 15 binaries) around a
  planted feasible point and finds its optimum by enumerating every
  assignment.
- :func:`network_flow` and :func:`datacenter` are the reference repo's two
  scenarios (data from ``optim.scenarios``) with seeded cost and bound
  perturbations; their optima come from enumerating assignments and, for
  the unperturbed models, equal the reference goldens (250 and 260).

Every coefficient, dual and reduced cost is a multiple of 1/4 and every
planted value a multiple of 1/100, so the planted objective carries no
rounding error worth the name.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

import numpy as np

INF = 1e30
#: reference goldens (reference: network_flow_example.sql, assignment_model_test.sql)
NETWORK_FLOW_GOLDEN = 250.0
DATACENTER_GOLDEN = 260.0


@dataclass
class Model:
    name: str
    var_names: list[str]
    var_types: list[str]
    col_lb: np.ndarray
    col_ub: np.ndarray
    cost: np.ndarray
    con_names: list[str]
    row_lb: np.ndarray
    row_ub: np.ndarray
    a: np.ndarray  # dense, rows × vars
    objective: float  # the known optimum

    @property
    def is_mip(self) -> bool:
        return any(t != "continuous" for t in self.var_types)

    def coefficients(self) -> list[tuple[str, str, float]]:
        """(constraint, variable, coefficient) for every nonzero."""
        rows, cols = np.nonzero(self.a)
        return [(self.con_names[i], self.var_names[j], float(self.a[i, j]))
                for i, j in zip(rows, cols)]

    def check(self, x: np.ndarray, tol: float = 1e-6) -> str | None:
        """None when ``x`` is feasible and attains the optimum, else why not."""
        if x.shape != (len(self.var_names),) or not np.all(np.isfinite(x)):
            return "solution has the wrong shape or non-finite values"
        lb, ub = self.col_lb.copy(), self.col_ub.copy()
        binary = np.array([t == "binary" for t in self.var_types], dtype=bool)
        lb[binary], ub[binary] = np.maximum(lb[binary], 0.0), np.minimum(ub[binary], 1.0)
        if np.any(x < lb - tol * np.maximum(1, abs(lb))) or np.any(
            x > ub + tol * np.maximum(1, abs(ub))
        ):
            return "a variable bound is violated"
        integral = np.array([t != "continuous" for t in self.var_types], dtype=bool)
        if np.any(np.abs(x[integral] - np.round(x[integral])) > tol):
            return "an integer variable is fractional"
        act = self.a @ x
        if np.any((self.row_lb > -INF) & (act < self.row_lb - tol * np.maximum(1, abs(self.row_lb)))) or np.any(
            (self.row_ub < INF) & (act > self.row_ub + tol * np.maximum(1, abs(self.row_ub)))
        ):
            return "a constraint is violated"
        obj = float(self.cost @ x)
        if abs(obj - self.objective) > tol * max(1.0, abs(self.objective)):
            return f"objective {obj!r} != known optimum {self.objective!r}"
        return None


def _quarters(rng: np.random.Generator, lo: float, hi: float, size=None):
    return rng.integers(int(lo * 4), int(hi * 4) + 1, size) / 4.0


def planted_lp(rng: np.random.Generator, name: str, n: int, m: int) -> Model:
    """A feasible, bounded LP with n vars and m rows whose optimum is planted."""
    a = np.zeros((m, n))
    density = min(1.0, max(0.3, 4.0 / n))
    for i in range(m):
        mask = rng.random(n) < density
        mask[rng.integers(0, n)] = True
        a[i, mask] = rng.integers(-5, 6, int(mask.sum()))
        a[i, mask & (a[i] == 0)] = 1.0
    col_lb = np.zeros(n)
    col_ub = rng.integers(5, 21, n).astype(float)
    # column status: 0 at lower bound, 1 at upper bound, 2 strictly between
    cstat = rng.choice(3, size=n, p=[0.35, 0.2, 0.45])
    x = np.where(cstat == 0, col_lb, col_ub)
    between = cstat == 2
    x[between] = np.round(rng.uniform(col_lb[between] + 0.5, col_ub[between] - 0.5), 2)
    d = np.zeros(n)
    d[cstat == 0] = _quarters(rng, 0.25, 3.0, int((cstat == 0).sum()))
    d[cstat == 1] = -_quarters(rng, 0.25, 3.0, int((cstat == 1).sum()))
    # row status: 0 active at lower, 1 active at upper, 2 equality, 3 inactive
    rstat = rng.choice(4, size=m, p=[0.3, 0.3, 0.1, 0.3])
    act = a @ x
    slack = rng.integers(1, 10, m).astype(float)
    row_lb = np.where(rstat == 1, np.where(rng.random(m) < 0.5, -INF, act - slack), act)
    row_ub = np.where(rstat == 0, np.where(rng.random(m) < 0.5, INF, act + slack), act)
    inactive = rstat == 3
    row_lb[inactive] = act[inactive] - slack[inactive]
    row_ub[inactive] = act[inactive] + rng.integers(1, 10, int(inactive.sum()))
    y = np.zeros(m)
    y[rstat == 0] = _quarters(rng, 0.25, 3.0, int((rstat == 0).sum()))
    y[rstat == 1] = -_quarters(rng, 0.25, 3.0, int((rstat == 1).sum()))
    y[rstat == 2] = _quarters(rng, -3.0, 3.0, int((rstat == 2).sum()))
    cost = a.T @ y + d
    return Model(
        name=name,
        var_names=[f"x{j}" for j in range(n)],
        var_types=["continuous"] * n,
        col_lb=col_lb, col_ub=col_ub, cost=cost,
        con_names=[f"r{i}" for i in range(m)],
        row_lb=row_lb, row_ub=row_ub, a=a,
        objective=float(cost @ x),
    )


def _binary_points(n: int) -> np.ndarray:
    return ((np.arange(1 << n)[:, None] >> np.arange(n)) & 1).astype(float)


def brute_mip(rng: np.random.Generator, name: str, n: int, m: int) -> Model:
    """A pure-binary MIP around a planted feasible point, solved by enumeration."""
    a = rng.integers(-2, 6, (m, n)).astype(float)
    z = (rng.random(n) < 0.5).astype(float)
    act = a @ z
    upper = rng.random(m) < 0.7
    row_lb = np.where(upper, -INF, act - rng.integers(0, 3, m))
    row_ub = np.where(upper, act + rng.integers(0, 3, m), INF)
    cost = rng.integers(-10, 11, n).astype(float)
    pts = _binary_points(n)
    acts = pts @ a.T
    feasible = np.all((acts >= row_lb) & (acts <= row_ub), axis=1)
    return Model(
        name=name,
        var_names=[f"b{j}" for j in range(n)],
        var_types=["binary"] * n,
        col_lb=np.zeros(n), col_ub=np.ones(n), cost=cost,
        con_names=[f"r{i}" for i in range(m)],
        row_lb=row_lb, row_ub=row_ub, a=a,
        objective=float((pts[feasible] @ cost).min()),
    )


def _from_rows(name, var_names, var_types, col_lb, col_ub, cost, constraints, objective):
    idx = {v: j for j, v in enumerate(var_names)}
    a = np.zeros((len(constraints), len(var_names)))
    for i, (_, _, _, coeffs) in enumerate(constraints):
        for v, c in coeffs.items():
            a[i, idx[v]] += c
    return Model(
        name=name, var_names=list(var_names), var_types=list(var_types),
        col_lb=np.asarray(col_lb, float), col_ub=np.asarray(col_ub, float),
        cost=np.asarray(cost, float),
        con_names=[c[0] for c in constraints],
        row_lb=np.array([c[1] for c in constraints], float),
        row_ub=np.array([c[2] for c in constraints], float),
        a=a, objective=objective,
    )


def network_flow(rng: np.random.Generator | None, name: str) -> Model:
    """The reference min-cost-flow assignment; with ``rng``, worker→task costs
    move by up to ±15 and each team's capacity is 2 or 3."""
    from highs_duckdb_spark.optim.scenarios import NETWORK_FLOW_ARCS, NETWORK_FLOW_CONSTRAINTS

    names = [a[0] for a in NETWORK_FLOW_ARCS]
    lb = [float(a[1]) for a in NETWORK_FLOW_ARCS]
    ub = [float(a[2]) for a in NETWORK_FLOW_ARCS]
    cost = [float(a[3]) for a in NETWORK_FLOW_ARCS]
    if rng is not None:
        for j, v in enumerate(names):
            if cost[j] > 0:
                cost[j] = float(max(1, cost[j] + int(rng.integers(-15, 16))))
            elif v in ("x_0_11", "x_0_12"):
                ub[j] = float(rng.integers(2, 4))
    c = dict(zip(names, cost))
    u = dict(zip(names, ub))
    teams = {w: 11 if w % 2 else 12 for w in range(1, 7)}
    # the constraint matrix is a network matrix, so the LP optimum is the best
    # integral flow: 4 tasks to distinct workers, at most cap(team) per team
    best = min(
        sum(c[f"x_{w}_{t}"] for w, t in zip(ws, (7, 8, 9, 10)))
        for ws in itertools.permutations(range(1, 7), 4)
        if all(sum(teams[w] == tm for w in ws) <= u[f"x_0_{tm}"] for tm in (11, 12))
    )
    model = _from_rows(name, names, ["continuous"] * len(names), lb, ub, cost,
                       NETWORK_FLOW_CONSTRAINTS, float(best))
    if rng is None and best != NETWORK_FLOW_GOLDEN:
        raise AssertionError(f"network flow optimum {best} != golden {NETWORK_FLOW_GOLDEN}")
    return model


def datacenter(rng: np.random.Generator | None, name: str) -> Model:
    """The reference site-selection MIP; with ``rng``, costs move (±5 per
    assignment, ±20 per site) and at most 2 or 3 sites may open."""
    from highs_duckdb_spark.optim.scenarios import DATACENTER_CONSTRAINTS, DATACENTER_VARS

    names = [v[0] for v in DATACENTER_VARS]
    cost = np.array([v[1] for v in DATACENTER_VARS], float)
    cons = [list(c) for c in DATACENTER_CONSTRAINTS]
    if rng is not None:
        site = np.array([n.startswith("z_") for n in names])
        cost = cost + np.where(site, rng.integers(-20, 21, len(names)), rng.integers(-5, 6, len(names)))
        for con in cons:
            if con[0] == "max_datacenters":
                con[2] = float(rng.integers(2, 4))
    model = _from_rows(name, names, ["binary"] * len(names), np.zeros(len(names)),
                       np.ones(len(names)), cost, [tuple(c) for c in cons], 0.0)
    pts = _binary_points(len(names))
    acts = pts @ model.a.T
    ok = np.all((acts >= model.row_lb) & (acts <= model.row_ub), axis=1)
    model.objective = float((pts[ok] @ model.cost).min())
    if rng is None and model.objective != DATACENTER_GOLDEN:
        raise AssertionError(f"datacenter optimum {model.objective} != golden {DATACENTER_GOLDEN}")
    return model


def bulk_batch(rng: np.random.Generator, prefix: str, n_small: int, n_large: int, n_mip: int) -> list[Model]:
    """One lp_bulk op's models: reference-sized LPs whose sizes step evenly
    from 2 to 34 vars (rows: a third of the vars), ``n_large`` 60-var ×
    30-row LPs and ``n_mip`` MIPs of 12 binaries × 4 rows. Sizes are fixed so
    every op carries the same work; the seed draws the coefficients."""
    out = []
    for k in range(n_small):
        n = 2 + (32 * k) // max(1, n_small - 1)
        out.append(planted_lp(rng, f"{prefix}_s{k}", n, max(1, n // 3)))
    for k in range(n_large):
        out.append(planted_lp(rng, f"{prefix}_l{k}", 60, 30))
    for k in range(n_mip):
        out.append(brute_mip(rng, f"{prefix}_m{k}", 12, 4))
    return out


def model_tables(models: list[Model]):
    """The three relational model tables (FIXTURES.md §A schemas) as pandas."""
    import pandas as pd

    v, c, k = [], [], []
    for md in models:
        for j, vn in enumerate(md.var_names):
            v.append((md.name, vn, float(md.col_lb[j]), float(md.col_ub[j]),
                      float(md.cost[j]), md.var_types[j], j))
        for i, cn in enumerate(md.con_names):
            c.append((md.name, cn, float(md.row_lb[i]), float(md.row_ub[i]), i))
        k.extend((md.name, cn, vn, coef) for cn, vn, coef in md.coefficients())
    return (
        pd.DataFrame(v, columns=["model_name", "variable_name", "lower_bound", "upper_bound",
                                 "obj_coefficient", "var_type", "ord"]),
        pd.DataFrame(c, columns=["model_name", "constraint_name", "lower_bound", "upper_bound", "ord"]),
        pd.DataFrame(k, columns=["model_name", "constraint_name", "variable_name", "coefficient"]),
    )


def _lit(v: float) -> str:
    return "1e30" if v >= INF else "-1e30" if v <= -INF else repr(float(v))


def sql_script(model: Model) -> list[tuple[str, str, str]]:
    """The statements that build and solve ``model`` one at a time, as
    (kind, sql, expected index string or ''). Each constraint is preceded by
    the variables it is the first to use and followed by its coefficients,
    so every statement kind shows up early in a script."""
    out: list[tuple[str, str, str]] = []
    made: dict[str, int] = {}
    m = model.name
    for i, cn in enumerate(model.con_names):
        for j in np.nonzero(model.a[i])[0]:
            vn = model.var_names[j]
            if vn not in made:
                made[vn] = len(made)
                out.append(("create_variables",
                            f"SELECT * FROM highs_create_variables('{m}', '{vn}', "
                            f"{_lit(model.col_lb[j])}, {_lit(model.col_ub[j])}, "
                            f"{_lit(model.cost[j])}, '{model.var_types[j]}')",
                            f"{vn}_{made[vn]}"))
        out.append(("create_constraints",
                    f"SELECT * FROM highs_create_constraints('{m}', '{cn}', "
                    f"{_lit(model.row_lb[i])}, {_lit(model.row_ub[i])})", f"{cn}_{i}"))
        for j in np.nonzero(model.a[i])[0]:
            out.append(("set_coefficients",
                        f"SELECT * FROM highs_set_coefficients('{m}', '{cn}', "
                        f"'{model.var_names[j]}', {_lit(model.a[i, j])})", ""))
    for j, vn in enumerate(model.var_names):
        if vn not in made:
            made[vn] = len(made)
            out.append(("create_variables",
                        f"SELECT * FROM highs_create_variables('{m}', '{vn}', "
                        f"{_lit(model.col_lb[j])}, {_lit(model.col_ub[j])}, "
                        f"{_lit(model.cost[j])}, '{model.var_types[j]}')", f"{vn}_{made[vn]}"))
    out.append(("solve", f"SELECT * FROM highs_solve('{m}')", ""))
    return out
