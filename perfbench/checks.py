"""Output checks for the benchmark, computed apart from the program.

Every check reads the generated parquet inputs with DuckDB (or the
program's written outputs) and tests the program's results against
recounts or against properties the method must have. None compares with
a stored copy of earlier output. Each check returns (name, ok, detail).
"""

import itertools
import math

import duckdb
import numpy as np

COUNT_TOL = 1e-6      # counts are whole numbers carried as doubles
REL_TOL = 1e-9        # WoE / IV / PSI recomputed from the same counts
RATE_TOL = 1e-6       # the solver compares event rates scaled by 1e6
OBJ_TOL = 1e-5        # ... and truncates each bin's IV at 1e-6


GRID_BUCKETS = 10000  # the fits' default histogram / grid size


def _d(v):
    """A double literal DuckDB parses exactly (a bare decimal literal would
    go through DECIMAL first)."""
    return f"'{float(v)!r}'::DOUBLE"


def _sql_list(values):
    return "[" + ",".join(_d(v) for v in values) + "]"


def _q(s):
    return "'" + str(s).replace("'", "''") + "'"


def _layout(fit):
    """Row indices of the fitted table: data bins, others, specials,
    missing (in that order)."""
    n_rows = len(fit["n_event"])
    others = 1 if fit.get("cat_others") else 0
    special = fit["n_data_bins"] + others
    return n_rows, special, n_rows - 1


def _clean(col, specials):
    cond = f"{col} IS NOT NULL AND NOT isnan({col})"
    if specials:
        cond += f" AND {col} NOT IN ({','.join(_d(c) for c in specials)})"
    return cond


def grid_of(con, source, x, specials):
    """The uniform grid the fits snap a numeric variable onto when it has
    more distinct clean values than the grid has buckets (the documented
    compression of `Histograms.gridCompress` and the batch data plane:
    each value is replaced by the largest grid edge <= it). None when the
    variable is binned on its raw values."""
    col = f'"{x}"'
    ndv, mn, mx = con.execute(
        f"SELECT count(DISTINCT {col}), min({col}), max({col}) FROM {source} "
        f"WHERE {_clean(col, specials)}").fetchone()
    if ndv <= GRID_BUCKETS or mx <= mn:
        return None
    return mn, (mx - mn) / GRID_BUCKETS


def value_expr(col, grid):
    if grid is None:
        return col
    mn, width = grid
    return f"({_d(mn)} + floor(({col} - {_d(mn)}) / {_d(width)}) * {_d(width)})"


def bin_expr(fit, x, grid=None):
    """SQL expression giving each row's table-row index under `fit`,
    written from the fitted splits/categories alone (numeric values first
    snapped onto `grid`, if given). -1 marks a value the fit has no bin
    for (an unseen category)."""
    n_rows, special, missing = _layout(fit)
    col = f'"{x}"'
    if fit["dtype"] == "numerical":
        parts = [f"WHEN {col} IS NULL OR isnan({col}) THEN {missing}"]
        if fit["special_codes"]:
            codes = ",".join(_d(c) for c in fit["special_codes"])
            parts.append(f"WHEN {col} IN ({codes}) THEN {special}")
        if fit["splits"]:
            other = (f"len(list_filter({_sql_list(fit['splits'])}, "
                     f"s -> s <= {value_expr(col, grid)}))")
        else:
            other = "0"
        return "CASE " + " ".join(parts) + f" ELSE {other} END"
    parts = [f"WHEN {col} IS NULL THEN {missing}"]
    for i, cats in enumerate(fit["cat_bins"] or []):
        if cats:
            parts.append(f"WHEN {col} IN ({','.join(map(_q, cats))}) THEN {i}")
    others = fit.get("cat_others") or []
    n_data = fit["n_data_bins"]
    if others and fit.get("others_catch_all"):
        tail = str(n_data)
    else:
        if others:
            parts.append(
                f"WHEN {col} IN ({','.join(map(_q, others))}) THEN {n_data}")
        tail = "-1"
    return "CASE " + " ".join(parts) + f" ELSE {tail} END"


def fit_grid(con, fit, source):
    if fit["dtype"] != "numerical" or fit.get("user_splits"):
        return None
    return grid_of(con, source, fit["name"], fit["special_codes"])


def recount(con, fit, source, x, y="target", grid=None):
    """Records and events per table row of `fit`, recounted by DuckDB."""
    n_rows = len(fit["n_event"])
    rows = con.execute(
        f"SELECT {bin_expr(fit, x, grid)} AS b, count(*), sum({y}) "
        f"FROM {source} GROUP BY b").fetchall()
    n = np.zeros(n_rows)
    e = np.zeros(n_rows)
    unknown = 0
    for b, cnt, ev in rows:
        if b < 0 or b >= n_rows:
            unknown += cnt
        else:
            n[b] += cnt
            e[b] += ev
    return n, e, unknown


def woe_iv(n, e):
    ne = n - e
    te, tne = e.sum(), ne.sum()
    woe = np.zeros(len(n))
    iv = 0.0
    for i in range(len(n)):
        if e[i] > 0 and ne[i] > 0:
            pe, pne = e[i] / te, ne[i] / tne
            woe[i] = math.log(pne / pe)
            if pe != pne:
                iv += (pe - pne) * math.log(pe / pne)
    return woe, iv


def check_table(con, fit, source, label):
    """Recount every bin's records and events, recompute WoE and IV. On a
    grid-compressed variable the recount bins the snapped values, as the
    fit does; the detail then reports how many records the raw values
    would place in another bin (what the transform does with them)."""
    grid = fit_grid(con, fit, source)
    n, e, unknown = recount(con, fit, source, fit["name"], grid=grid)
    got_e = np.array(fit["n_event"])
    got_n = got_e + np.array(fit["n_nonevent"])
    problems = []
    if unknown:
        problems.append(f"{unknown} rows fall in no bin")
    if np.abs(got_n - n).max() > COUNT_TOL:
        problems.append(f"records {got_n.tolist()} != recount {n.tolist()}")
    if np.abs(got_e - e).max() > COUNT_TOL:
        problems.append(f"events {got_e.tolist()} != recount {e.tolist()}")
    woe, iv = woe_iv(n, e)
    if np.abs(np.array(fit["woe"]) - woe).max() > REL_TOL * max(
            1.0, np.abs(woe).max()):
        problems.append("WoE differs from the recount")
    if abs(fit["iv"] - iv) > REL_TOL * max(1.0, iv):
        problems.append(f"IV {fit['iv']} != recomputed {iv}")
    detail = "exact"
    if grid is not None and not problems:
        moved = con.execute(
            f"SELECT count(*) FROM {source} WHERE "
            f"{bin_expr(fit, fit['name'], grid)} <> "
            f"{bin_expr(fit, fit['name'])}").fetchone()[0]
        detail = f"exact on the grid; {moved} records change bin on raw values"
    return (f"table:{label}", not problems, "; ".join(problems) or detail)


def _monotone(r, up):
    d = np.diff(r)
    return bool(np.all(d >= -RATE_TOL) if up else np.all(d <= RATE_TOL))


def trend_ok(rates, trend):
    r = np.asarray(rates)
    if len(r) <= 1 or trend in (None, "none"):
        return True
    if trend == "ascending":
        return _monotone(r, True)
    if trend == "descending":
        return _monotone(r, False)
    peak = any(_monotone(r[:t + 1], True) and _monotone(r[t:], False)
               for t in range(len(r)))
    valley = any(_monotone(r[:t + 1], False) and _monotone(r[t:], True)
                 for t in range(len(r)))
    if trend == "peak":
        return peak
    if trend == "valley":
        return valley
    if trend == "auto":
        return peak or valley
    raise ValueError(f"unchecked trend {trend}")


def two_sided_pvalue(e1, n1, e2, n2):
    p1, p2, p = e1 / n1, e2 / n2, (e1 + e2) / (n1 + n2)
    z = abs(p1 - p2) / math.sqrt(p * (1 - p) * (1 / n1 + 1 / n2))
    return math.erfc(z / math.sqrt(2.0))


def check_constraints(con, fit, source, label):
    """The requested trend, bin-count, bin-size and p-value constraints,
    on recounted data bins."""
    n, e, _ = recount(con, fit, source, fit["name"],
                      grid=fit_grid(con, fit, source))
    k = fit["n_data_bins"]
    dn, de = n[:k], e[:k]
    problems = []
    if fit["status"] != "OPTIMAL":
        problems.append(f"status {fit['status']}")
    with np.errstate(invalid="ignore", divide="ignore"):
        rates = de / dn  # an empty bin (NaN) fails the bin-size test
    if not trend_ok(rates, fit["trend"]):
        problems.append(f"event rates {np.round(rates, 5).tolist()} "
                        f"break trend {fit['trend']}")
    if fit["max_n_bins"] is not None and k > fit["max_n_bins"]:
        problems.append(f"{k} bins > max_n_bins {fit['max_n_bins']}")
    if fit["min_bin_size"] is not None:
        floor = math.ceil(fit["min_bin_size"] * n.sum())
        if dn.min() < floor:
            problems.append(f"bin of {dn.min()} records < {floor}")
    if fit["max_pvalue"] is not None:
        for i in range(k - 1):
            p = two_sided_pvalue(de[i], dn[i], de[i + 1], dn[i + 1])
            if p > fit["max_pvalue"] + 1e-12:
                problems.append(f"bins {i},{i + 1} p-value {p:.4g}")
    return (f"constraints:{label}", not problems, "; ".join(problems) or "ok")


def check_pinned_optimum(con, fit, source, label):
    """Enumerate every merge of the pinned prebins: the solver's binning
    must be feasible and no feasible merge may have a larger IV."""
    pinned = fit["user_splits"]
    x = fit["name"]
    rows = con.execute(
        f'SELECT len(list_filter({_sql_list(pinned)}, s -> s <= "{x}")) AS b, '
        f'count(*), sum(target) FROM {source} WHERE "{x}" IS NOT NULL '
        f'AND NOT isnan("{x}") GROUP BY b ORDER BY b').fetchall()
    pn = np.zeros(len(pinned) + 1)
    pe = np.zeros(len(pinned) + 1)
    for b, cnt, ev in rows:
        pn[b], pe[b] = cnt, ev
    n_total = float(np.sum(np.array(fit["n_event"])) +
                    np.sum(np.array(fit["n_nonevent"])))
    floor = math.ceil(fit["min_bin_size"] * n_total)
    te, tne = pe.sum(), (pn - pe).sum()

    def evaluate(keep):
        cuts = [0] + [i + 1 for i, kflag in enumerate(keep) if kflag] + [len(pn)]
        bn = np.array([pn[a:b].sum() for a, b in zip(cuts, cuts[1:])])
        be = np.array([pe[a:b].sum() for a, b in zip(cuts, cuts[1:])])
        feasible = (len(bn) <= fit["max_n_bins"] and bn.min() >= floor and
                    trend_ok(be / bn, fit["trend"]))
        q, p = (bn - be) / tne, be / te
        iv = float(np.sum(np.where(p != q, (p - q) * np.log(p / q), 0.0)))
        return feasible, iv

    best = max((evaluate(keep)[1], keep) for keep in
               itertools.product([False, True], repeat=len(pinned))
               if evaluate(keep)[0])
    chosen = [s in fit["splits"] for s in pinned]
    problems = []
    if not set(fit["splits"]) <= set(pinned):
        problems.append("splits are not a subset of the pinned prebins")
    feasible, iv = evaluate(chosen)
    if not feasible:
        problems.append("the solver's binning is infeasible")
    if best[0] - iv > OBJ_TOL:
        problems.append(f"IV {iv:.8f} < best feasible {best[0]:.8f}")
    return (f"exhaustive:{label}", not problems,
            "; ".join(problems) or f"optimal among {2 ** len(pinned)} merges")


def check_multiclass(con, mc, source, x, y):
    splits = mc["splits"]
    v = value_expr(f'"{x}"', grid_of(con, source, x, []))
    rows = con.execute(
        f'SELECT len(list_filter({_sql_list(splits)}, s -> s <= {v})), '
        f'{y}, count(*) FROM {source} WHERE "{x}" IS NOT NULL GROUP BY ALL'
    ).fetchall()
    classes = list(mc["classes"])
    got = np.array(mc["n_event"])[:len(splits) + 1]
    want = np.zeros_like(got)
    for b, c, cnt in rows:
        want[b, classes.index(float(c))] += cnt
    ok = mc["status"] == "OPTIMAL" and np.abs(got - want).max() <= COUNT_TOL
    return ("table:multiclass", ok, "ok" if ok else
            f"status {mc['status']}; counts {got.tolist()} vs {want.tolist()}")


def check_continuous(con, cf, source, x, y):
    splits = cf["splits"]
    v = value_expr(f'"{x}"', grid_of(con, source, x, []))
    rows = con.execute(
        f'SELECT len(list_filter({_sql_list(splits)}, s -> s <= {v})) AS b, '
        f'count(*), sum({y}) FROM {source} WHERE "{x}" IS NOT NULL '
        f'GROUP BY b').fetchall()
    k = len(splits) + 1
    n, s = np.zeros(k), np.zeros(k)
    for b, cnt, sm in rows:
        n[b], s[b] = cnt, sm
    got_n = np.array(cf["n_records"])[:k]
    got_s = np.array(cf["sums"])[:k]
    ok = (cf["status"] == "OPTIMAL" and np.abs(got_n - n).max() <= COUNT_TOL
          and np.abs(got_s - s).max() <= 1e-6 * max(1.0, np.abs(s).max()))
    return ("table:continuous", ok, "ok" if ok else
            f"status {cf['status']}; records {got_n.tolist()} vs {n.tolist()}")


def check_2d(con, td, source, x, y):
    """Each rectangle's records and events, recounted over the prebin
    grid cells it covers (rectangle bounds are inclusive cell indices)."""
    sx, sy = td["splits_x"], td["splits_y"]
    rows = con.execute(
        f'SELECT len(list_filter({_sql_list(sx)}, s -> s <= "{x}")), '
        f'len(list_filter({_sql_list(sy)}, s -> s <= "{y}")), count(*), '
        f'sum(target) FROM {source} WHERE "{x}" IS NOT NULL AND '
        f'"{y}" IS NOT NULL GROUP BY ALL').fetchall()
    n = np.zeros((len(sx) + 1, len(sy) + 1))
    e = np.zeros_like(n)
    for i, j, cnt, ev in rows:
        n[i, j], e[i, j] = cnt, ev
    problems = [] if td["status"] == "OPTIMAL" else [f"status {td['status']}"]
    cover = np.zeros_like(n)
    for r in td["rects"]:
        sl = (slice(r["x1"], r["x2"] + 1), slice(r["y1"], r["y2"] + 1))
        cover[sl] += 1
        if (abs(n[sl].sum() - r["event"] - r["nonevent"]) > COUNT_TOL or
                abs(e[sl].sum() - r["event"]) > COUNT_TOL):
            problems.append(f"rect {r} recount {n[sl].sum()}/{e[sl].sum()}")
    if not np.all(cover == 1):
        problems.append("rectangles do not tile the grid exactly once")
    return ("table:2d", not problems, "; ".join(problems[:3]) or "ok")


def bins_of(fit, values):
    """Table-row index of each value under `fit` (numpy), from the fitted
    splits/categories alone; -1 where the fit has no bin (an unseen
    category)."""
    n_rows, special, missing = _layout(fit)
    if fit["dtype"] == "numerical":
        x = np.asarray(values, dtype=float)
        out = np.searchsorted(np.asarray(fit["splits"], dtype=float), x,
                              side="right")
        out[np.isin(x, fit["special_codes"])] = special
        out[np.isnan(x)] = missing
        return out
    lookup = {c: i for i, cats in enumerate(fit["cat_bins"] or [])
              for c in cats}
    others = fit.get("cat_others") or []
    n_data = fit["n_data_bins"]
    lookup.update({c: n_data for c in others})
    tail = n_data if others and fit.get("others_catch_all") else -1
    return np.array([missing if v is None else lookup.get(v, tail)
                     for v in values])


def scores_of(con, scorecard, source):
    """(ids, scores): each row's score as the sum of its bins' points plus
    the base intercept; NaN where a variable's value has no bin."""
    names = [v["name"] for v in scorecard["variables"]]
    cols = con.execute(
        f"SELECT id, {', '.join(f'{chr(34)}{n}{chr(34)}' for n in names)} "
        f"FROM {source}").fetchnumpy()
    score = np.full(len(cols["id"]), float(scorecard["base_intercept"]))
    for v in scorecard["variables"]:
        raw = cols[v["name"]]
        if v["dtype"] == "numerical":
            raw = np.ma.filled(np.ma.asarray(raw, dtype=float), np.nan)
        else:
            raw = [None if np.ma.is_masked(x) else x for x in raw]
        b = bins_of(v, raw)
        pts = np.append(np.asarray(v["points"], dtype=float), np.nan)
        score += pts[b]  # b = -1 picks the appended NaN
    return np.asarray(cols["id"]), score


def check_scores(con, out, batch_src):
    ids, want = scores_of(con, out["scorecard"], batch_src)
    got = con.execute(
        f"SELECT id, score FROM read_parquet('{out['scores_path']}/*.parquet') "
        f"ORDER BY id").fetchnumpy()
    order = np.argsort(ids)
    ids, want = ids[order], want[order]
    gscore = np.ma.filled(np.ma.asarray(got["score"], dtype=float), np.nan)
    problems = []
    unbinned = int(np.isnan(want).sum())
    if len(got["id"]) != len(ids) or np.any(np.asarray(got["id"]) != ids):
        problems.append(f"{len(got['id'])} scores written for {len(ids)} rows")
    else:
        # a row whose value has no bin (an unseen category) has no points
        # sum: its score must be NaN, not a number made up elsewhere
        ok = np.where(np.isnan(want), np.isnan(gscore),
                      np.abs(gscore - want) <=
                      1e-9 * np.maximum(1.0, np.abs(want)))
        if not ok.all():
            problems.append(f"{int((~ok).sum())} scores differ from their "
                            f"points sum")
    return ("scores", not problems, "; ".join(problems) or
            f"{len(ids)} rows; {unbinned} with an unseen category score NaN")


def _psi(ce, ca):
    te, ta = ce.sum(), ca.sum()
    total = 0.0
    for a, b in zip(ce, ca):
        pe, pa = a / te, b / ta
        if pe > 0 and pa > 0:
            total += (pa - pe) * math.log(pa / pe)
    return total


def check_psi(con, out, train_src):
    """PSI recomputed from the written scores against the expected
    cohort's points-sum scores, over the monitor's score bins; and
    PSI(expected, expected) = 0. A NaN score (a row with an unseen
    category) is counted in the top bin, where the program's comparison
    chain puts it; that no such row should be in a score bin at all is
    checked on the probe's fixed cohort (check_probe_psi)."""
    splits = out["psi_splits"]
    sc = out["scorecard"]

    def hist(scores):
        # NaN sorts after every number here, as in Spark: the top bin
        b = np.searchsorted(np.asarray(splits, dtype=float), scores,
                            side="right")
        return np.bincount(b, minlength=len(splits) + 1).astype(float)

    ce = hist(scores_of(con, sc, train_src)[1])
    ca = hist(np.ma.filled(np.ma.asarray(con.execute(
        f"SELECT score FROM read_parquet('{out['scores_path']}/*.parquet')"
    ).fetchnumpy()["score"], dtype=float), np.nan))
    psi = _psi(ce, ca)
    got = {int(r["bin"]): r for r in out["psi_rows"]}
    problems = []
    for b in range(len(splits) + 1):
        r = got.get(b, {"count_e": 0.0, "count_a": 0.0})
        if abs(r["count_e"] - ce[b]) > COUNT_TOL or \
                abs(r["count_a"] - ca[b]) > COUNT_TOL:
            problems.append(f"bin {b} counts {r['count_e']}/{r['count_a']} "
                            f"vs {ce[b]}/{ca[b]}")
    if abs(out["psi_total"] - psi) > REL_TOL * max(1.0, psi):
        problems.append(f"PSI {out['psi_total']} != recomputed {psi}")
    if abs(out["psi_self"]) > 1e-12:
        problems.append(f"PSI(expected, expected) = {out['psi_self']}")
    if psi <= 0:
        problems.append("no drift measured on a drifted batch")
    return ("psi", not problems, "; ".join(problems[:3]) or f"psi={psi:.6f}")


def check_sketch(con, out, sources):
    """Sketch totals exact (clean, missing and special records and events
    per variable, over both cohorts) and every solve OPTIMAL. The splits'
    rank guarantee is checked on the probe's fixed cohort
    (check_probe_sketch)."""
    sk = out["sketch"]
    union = " UNION ALL ".join(f"SELECT * FROM {s}" for s in sources)
    problems = []
    for v in sk["numeric"]:
        x = f'"{v["name"]}"'
        clean = _clean(x, [-999.0])
        missing = f"({x} IS NULL OR isnan({x}))"
        special = f"{x} = {_d(-999.0)}"
        want = con.execute(
            f"SELECT count(*) FILTER (WHERE {clean}), "
            f"count(*) FILTER (WHERE {clean} AND target = 1), "
            f"count(*) FILTER (WHERE {missing} AND target = 1), "
            f"count(*) FILTER (WHERE {missing} AND target = 0), "
            f"count(*) FILTER (WHERE {special} AND target = 1), "
            f"count(*) FILTER (WHERE {special} AND target = 0) "
            f"FROM ({union})").fetchone()
        got = (v["n"], v["n_event"], v["missing_e"], v["missing_ne"],
               v["special_e"], v["special_ne"])
        if tuple(got) != tuple(want):
            problems.append(f"{v['name']} totals {got} != {want}")
        if v["fit"]["status"] != "OPTIMAL":
            problems.append(f"{v['name']} status {v['fit']['status']}")
    for v in sk["categorical"]:
        t, te = con.execute(f"SELECT count(*), sum(target) FROM ({union})"
                            ).fetchone()
        if (v["t_records"], v["t_event"]) != (t, te):
            problems.append(f"{v['name']} totals {v['t_records']},"
                            f"{v['t_event']} != {t},{te}")
        if v["status"] != "OPTIMAL":
            problems.append(f"{v['name']} status {v['status']}")
    return ("sketch", not problems, "; ".join(problems[:3]) or "totals exact")


def split_rank_errors(con, source, name, splits, n, n_prebins):
    """Each split's rank error, in records, against the nearest candidate
    quantile i/n_prebins of the clean values of `name` in `source`: the
    distance from the quantile's rank to the split's 1-based rank range
    [#values < split + 1, #values <= split]."""
    x = f'"{name}"'
    errors = []
    for s in splits:
        lo, hi = con.execute(
            f"SELECT count(*) FILTER (WHERE {x} < {_d(s)}), "
            f"count(*) FILTER (WHERE {x} <= {_d(s)}) "
            f"FROM {source} WHERE {_clean(x, [-999.0])}").fetchone()
        errors.append(min(max(0.0, i / n_prebins * n - hi,
                              lo + 1 - i / n_prebins * n)
                          for i in range(1, n_prebins)))
    return errors


def check_probe_sketch(con, probe, sources):
    """The sketch's quantile guarantee: every solved split lies within
    eps·n records of the rank of its candidate quantile (the program
    states that its merged GK sketches keep quantiles within eps,
    `OptimalBinningSketch.addGrouped`)."""
    union = "(" + " UNION ALL ".join(f"SELECT * FROM {s}" for s in sources) + ")"
    eps, p = probe["eps"], probe["max_n_prebins"]
    problems = []
    worst, worst_name = 0.0, ""
    for v in probe["sketch"]:
        if v["status"] != "OPTIMAL":
            problems.append(f"{v['name']} status {v['status']}")
        errs = split_rank_errors(con, union, v["name"], v["splits"], v["n"], p)
        for s, err in zip(v["splits"], errs):
            if err > eps * v["n"]:
                problems.append(f"{v['name']} split {s} is {err:.2f} records "
                                f"from its quantile's rank "
                                f"({err / (eps * v['n']):.2f} eps·n)")
            if err / (eps * v["n"]) > worst:
                worst, worst_name = err / (eps * v["n"]), v["name"]
    return ("probe:sketch_eps", not problems, "; ".join(problems[:3]) or
            f"worst split {worst:.2f} eps·n ({worst_name})")


def check_probe_psi(probe):
    """A row without a score (NaN) belongs to no score bin: the actual
    cohort's counts over the PSI table's bins must add up to the number of
    scored rows."""
    binned = sum(r["count_a"] for r in probe["psi_rows"])
    ok = abs(binned - probe["scored"]) <= COUNT_TOL
    return ("probe:psi_unscored", ok,
            f"{binned:.0f} rows in score bins, {probe['scored']} scored, "
            f"{probe['unscored']} unscored")


def run_probe_checks(result, data_dir):
    """Checks of the score_monitor probe (a fixed cohort); [] elsewhere."""
    out = result["outputs"]
    if result["workload"] != "score_monitor" or "error" in out:
        return []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    srcs = [f"read_parquet('{data_dir}/probe/{t}.parquet')"
            for t in ("train", "batch")]
    checks = [check_probe_psi(out["probe"]),
              check_probe_sketch(con, out["probe"], srcs)]
    con.close()
    return checks


def run_checks(result, data_dir):
    """All checks for one run's result."""
    out = result["outputs"]
    if "error" in out:
        return [("outputs", False, out["error"])]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    train = f"read_parquet('{data_dir}/train.parquet')"
    checks = [("deterministic", bool(result["fingerprints_equal"]),
               "every round returned the same results")]
    if result["workload"] == "batch_fit":
        for fit in out["process"]:
            checks.append(check_table(con, fit, train, f"process.{fit['name']}"))
        statuses = {f["status"] for f in out["process"]}
        checks.append(("process_status", statuses == {"OPTIMAL"},
                       f"statuses {sorted(statuses)}"))
        for op, fit in out["binary_fits"].items():
            checks.append(check_table(con, fit, train, op))
            checks.append(check_constraints(con, fit, train, op))
        checks.append(check_pinned_optimum(
            con, out["binary_fits"]["fit_pinned"], train, "fit_pinned"))
        checks.append(check_multiclass(con, out["multiclass"], train, "h4", "y3"))
        checks.append(check_continuous(con, out["continuous"], train, "h7", "yc"))
        checks.append(check_2d(con, out["two_d"], train, "h0", "h2"))
        pw = out["pw"]["binning"]
        checks.append(check_table(con, pw, train, "fit_pw"))
        checks.append(check_constraints(con, pw, train, "fit_pw"))
    else:
        batch = f"read_parquet('{data_dir}/batch.parquet')"
        checks.append(check_scores(con, out, batch))
        checks.append(check_psi(con, out, train))
        checks.append(check_sketch(con, out, [train, batch]))
    con.close()
    return checks
