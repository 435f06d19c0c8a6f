#!/usr/bin/env python3
"""Self-test of the output checks: each check must pass on a real run's
results and fail on a deliberately corrupted copy of them.

    python3 perfbench/selftest.py

Uses the artifacts of the last run of each workload under perfbench/out/
(running the workload with seed 1 first where there is none).
"""

import copy
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402


def artifacts(workload):
    out = BENCH / "out" / workload
    if not (out / "result.json").is_file():
        subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload",
                        workload, "--seed", "1", "--seconds", "1"],
                       check=True, stdout=subprocess.DEVNULL)
    return json.loads((out / "result.json").read_text()), out / "data"


def insert_split(fit, value, at):
    """Add a split (and an empty table row for the new bin)."""
    fit["splits"] = sorted(fit["splits"] + [value])
    for k in ("n_event", "n_nonevent", "woe"):
        fit[k] = fit[k][:at] + [0.0] + fit[k][at:]
    fit["n_data_bins"] += 1


def median_inside(con, src, fit, b):
    """Median raw value of data bin b of a numeric fit."""
    x = f'"{fit["name"]}"'
    splits = fit["splits"]
    lo = f"{x} >= {splits[b - 1]!r}" if b > 0 else "TRUE"
    hi = f"{x} < {splits[b]!r}" if b < len(splits) else "TRUE"
    return con.execute(f"SELECT median({x}) FROM {src} WHERE {lo} AND {hi} "
                       f"AND {x} <> -999").fetchone()[0]


def bump(path):
    """Return a setter that adds 1 to the number at `path` in a result."""
    def corrupt(r, _):
        node = r["outputs"]
        for k in path[:-1]:
            node = node[k]
        node[path[-1]] += 1
    return corrupt


def probe_cases(sm, data):
    """The probe's checks fail on the program's outputs (its known
    faults). Each must pass once the outputs are repaired to the property
    it checks, and fail again on a corruption of the repaired outputs."""
    con = duckdb.connect()
    union = " UNION ALL ".join(
        f"SELECT * FROM read_parquet('{data}/probe/{t}.parquet')"
        for t in ("train", "batch"))
    probe = sm["outputs"]["probe"]
    p = probe["max_n_prebins"]

    def psi_repaired(r):
        rows = r["outputs"]["probe"]["psi_rows"]
        top = max(rows, key=lambda row: row["bin"])
        top["count_a"] -= r["outputs"]["probe"]["unscored"]

    def psi_broken(r):
        psi_repaired(r)
        r["outputs"]["probe"]["psi_rows"][0]["count_a"] += 1

    def sketch_repaired(r):
        # each split replaced by the exact order statistic at the rank of
        # its nearest candidate quantile
        for v in r["outputs"]["probe"]["sketch"]:
            x = f'"{v["name"]}"'
            vals = np.sort(con.execute(
                f"SELECT {x} FROM ({union}) WHERE {checks._clean(x, [-999.0])}"
            ).fetchnumpy()[v["name"]])
            n = len(vals)
            fixed = []
            for s in v["splits"]:
                lo = np.searchsorted(vals, s, side="left")
                hi = np.searchsorted(vals, s, side="right")
                i = min(range(1, p), key=lambda i: max(
                    0.0, i / p * n - hi, lo + 1 - i / p * n))
                fixed.append(float(vals[min(n, max(1, round(i / p * n))) - 1]))
            v["splits"] = sorted(set(fixed))

    def sketch_broken(r):
        # one split moved 10 records past its quantile's rank
        sketch_repaired(r)
        v = r["outputs"]["probe"]["sketch"][0]
        x = f'"{v["name"]}"'
        vals = np.sort(con.execute(
            f"SELECT {x} FROM ({union}) WHERE {checks._clean(x, [-999.0])}"
        ).fetchnumpy()[v["name"]])
        v["splits"][0] = float(
            vals[np.searchsorted(vals, v["splits"][0], side="right") + 9])

    def verdict(result, name):
        return next(ok for n, ok, _ in checks.run_probe_checks(
            result, str(data)) if n == name)

    failures = 0
    for name, repair, corrupt in (
            ("probe:psi_unscored", psi_repaired, psi_broken),
            ("probe:sketch_eps", sketch_repaired, sketch_broken)):
        fails_program = not verdict(sm, name)
        fixed, broken = copy.deepcopy(sm), copy.deepcopy(sm)
        repair(fixed)
        corrupt(broken)
        passes_fixed = verdict(fixed, name)
        rejects = not verdict(broken, name)
        good = passes_fixed and rejects
        failures += not good
        print(f"{'ok  ' if good else 'FAIL'} {name:26} fails on the program: "
              f"{fails_program}; passes repaired: {passes_fixed}; rejects "
              f"the corruption: {rejects}")
    con.close()
    return failures


def main():
    bf, bf_data = artifacts("batch_fit")
    sm, sm_data = artifacts("score_monitor")
    con = duckdb.connect()
    train_bf = f"read_parquet('{bf_data}/train.parquet')"
    scratch = BENCH / "out" / "selftest"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)

    def first(r, name):
        return next(f for f in r["outputs"]["process"] if f["name"] == name)

    def peak_tiny_bin(r, _):
        fit = r["outputs"]["binary_fits"]["fit_peak"]
        insert_split(fit, fit["splits"][0] + 1e-4, 1)

    def pvalue_halves(r, _):
        fit = r["outputs"]["binary_fits"]["fit_pvalue"]
        b = max(range(fit["n_data_bins"]), key=lambda i:
                fit["n_event"][i] + fit["n_nonevent"][i])
        insert_split(fit, median_inside(con, train_bf, fit, b), b + 1)

    def pinned_suboptimal(r, _):
        fit = r["outputs"]["binary_fits"]["fit_pinned"]
        fit["splits"] = fit["splits"][1:]

    def scores_plus_one(r, _):
        path = Path(r["outputs"]["scores_path"])
        table = pq.read_table(str(path))
        col = table.column("score").to_pylist()
        i = next(i for i, v in enumerate(col) if v == v)  # not NaN
        col[i] += 1.0
        out = scratch / "scores.parquet"
        out.mkdir()
        pq.write_table(table.set_column(
            table.schema.get_field_index("score"), "score", [col]),
            str(out / "part-0.parquet"))
        r["outputs"]["scores_path"] = str(out)

    cases = [
        # (workload result, data, check name, corruption)
        (bf, bf_data, "table:process.h0",
         lambda r, _: first(r, "h0")["n_event"].__setitem__(
             0, first(r, "h0")["n_event"][0] + 1)),
        (bf, bf_data, "table:process.c500_0",
         lambda r, _: first(r, "c500_0")["woe"].__setitem__(
             0, first(r, "c500_0")["woe"][0] + 0.01)),
        (bf, bf_data, "table:process.l0",
         lambda r, _: first(r, "l0").__setitem__("iv", first(r, "l0")["iv"] * 1.01)),
        (bf, bf_data, "process_status",
         lambda r, _: first(r, "h3").__setitem__("status", "INFEASIBLE")),
        (bf, bf_data, "constraints:fit_peak", peak_tiny_bin),
        (bf, bf_data, "constraints:fit_pvalue", pvalue_halves),
        (bf, bf_data, "exhaustive:fit_pinned", pinned_suboptimal),
        (bf, bf_data, "table:multiclass", bump(["multiclass", "n_event", 0, 0])),
        (bf, bf_data, "table:continuous", bump(["continuous", "sums", 0])),
        (bf, bf_data, "table:2d", bump(["two_d", "rects", 0, "event"])),
        (bf, bf_data, "deterministic",
         lambda r, _: r.__setitem__("fingerprints_equal", False)),
        (sm, sm_data, "scores", scores_plus_one),
        (sm, sm_data, "psi", bump(["psi_total"])),
        (sm, sm_data, "psi",
         lambda r, _: r["outputs"].__setitem__("psi_self", 1e-3)),
        (sm, sm_data, "sketch", bump(["sketch", "numeric", 0, "n"])),
        (sm, sm_data, "sketch", bump(["sketch", "numeric", 1, "special_ne"])),
        (sm, sm_data, "sketch", bump(["sketch", "categorical", 0, "t_event"])),
    ]

    def verdict(result, data, name):
        found = [ok for n, ok, _ in checks.run_checks(result, str(data))
                 if n == name]
        if not found:
            raise SystemExit(f"no check named {name}")
        return found[0]

    clean = {id(bf): {n: ok for n, ok, _ in checks.run_checks(bf, str(bf_data))},
             id(sm): {n: ok for n, ok, _ in checks.run_checks(sm, str(sm_data))}}
    failures = 0
    for result, data, name, corrupt in cases:
        bad = copy.deepcopy(result)
        corrupt(bad, data)
        passes_clean = clean[id(result)].get(name, False)
        rejects = not verdict(bad, data, name)
        good = passes_clean and rejects
        failures += not good
        print(f"{'ok  ' if good else 'FAIL'} {name:26} passes on the run: "
              f"{passes_clean}; rejects the corruption: {rejects}")
    failures += probe_cases(sm, sm_data)
    shutil.rmtree(scratch, ignore_errors=True)
    if failures:
        raise SystemExit(f"{failures} self-test case(s) failed")
    print(f"all {len(cases) + 2} corruptions rejected")


if __name__ == "__main__":
    main()
