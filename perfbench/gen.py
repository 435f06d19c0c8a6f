"""Input generator for the benchmark: a wide synthetic credit table and a
drifted production batch, written as parquet.

The data-generating process (which variables drive the target, the level
effects of the categorical drivers) is fixed; the seed only draws the
sample, so every seed gives a table of the same make-up. README.md lists
the columns.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SPECIAL = -999.0
# the score_monitor probe's cohort is drawn from this seed on every run
PROBE_SEED = 0
PROBE_SIZES = (10_000, 5_000)
# seed-independent structure
_FIXED = np.random.default_rng(20240611)
CAT_LEVELS = {"c5": 5, "c50": 50, "c500": 500}
CAT_COUNT = {"c5": 3, "c50": 4, "c500": 3}   # variables per cardinality
N_HIGH = 8
CAT_EFFECTS = {
    "c5_0": np.array([-0.5, 0.0, 0.3, 0.6, -0.2]),
    "c50_0": _FIXED.normal(0.0, 0.4, 50),
    "c500_0": _FIXED.normal(0.0, 0.5, 500),
}
# Zipf-like level frequencies, fixed per cardinality
CAT_PROBS = {k: (lambda w: w / w.sum())(1.0 / np.arange(1, n + 1) ** 0.8)
             for k, n in CAT_LEVELS.items()}
LOW_CARD = [10, 31, 3, 5, 8, 12]  # levels of l0..l5


def _with_nulls(rng, x, share):
    mask = rng.random(x.shape[0]) < share
    return np.where(mask, np.nan, x), mask


def _with_special(rng, x, share):
    mask = rng.random(x.shape[0]) < share
    return np.where(mask, SPECIAL, x), mask


def make_table(rng, n, drift=False):
    cols = {"id": np.arange(n, dtype=np.int64)}
    z = rng.normal(size=(N_HIGH, n))
    h = {}
    h[0] = z[0] + (0.4 if drift else 0.0)            # ascending driver
    h[1] = np.exp(0.6 * z[1])                         # descending driver
    h[2] = rng.uniform(0.0, 10.0, n)                  # peak-shaped driver
    h[3] = z[3]                                       # valley-shaped driver
    h[4] = z[4]                                       # multiclass driver
    h[5] = 50.0 + 10.0 * z[5]
    h[6] = rng.gamma(2.0, 2.0, n)
    h[7] = z[7]                                       # continuous driver
    for i in range(N_HIGH):
        h[i] = np.round(h[i], 4)
    l = {}
    for i, k in enumerate(LOW_CARD):
        p = np.linspace(1.0, 2.0, k)
        if drift and i == 0:
            p = p ** 3                                # more mass up high
        l[i] = rng.choice(k, size=n, p=p / p.sum()).astype(np.float64)

    logit = (-2.3 + 0.8 * h[0] - 0.6 * np.log(h[1])
             + 1.2 * np.exp(-((h[2] - 5.0) ** 2) / 4.0)
             + 0.35 * h[3] ** 2 + 0.12 * l[0] + 0.02 * l[1])
    cats = {}
    for kind, nlev in CAT_LEVELS.items():
        for j in range(CAT_COUNT[kind]):
            name = f"{kind}_{j}"
            idx = rng.choice(nlev, size=n, p=CAT_PROBS[kind])
            if name in CAT_EFFECTS:
                logit = logit + CAT_EFFECTS[name][idx]
            vals = np.array([f"{kind.upper()}_{v:03d}" for v in range(nlev)],
                            dtype=object)[idx]
            if drift and j == 1:
                unseen = rng.random(n) < 0.05
                vals = np.where(unseen, f"{kind.upper()}_NEW", vals)
            cats[name] = vals
    p = 1.0 / (1.0 + np.exp(-logit))
    target = (rng.random(n) < p).astype(np.int32)

    # nulls and special codes, drawn after the target so they carry none
    h[1], _ = _with_nulls(rng, h[1], 0.05)
    h[1], _ = _with_special(rng, h[1], 0.02)
    h[5], _ = _with_nulls(rng, h[5], 0.10)
    h[6], _ = _with_special(rng, h[6], 0.03)
    l[3], _ = _with_nulls(rng, l[3], 0.05)
    l[4], _ = _with_special(rng, l[4], 0.02)
    null_c50_2 = rng.random(n) < 0.04
    cats["c50_2"] = np.where(null_c50_2, None, cats["c50_2"])

    for i in range(N_HIGH):
        cols[f"h{i}"] = h[i]
    for i in range(len(LOW_CARD)):
        cols[f"l{i}"] = l[i]
    cols.update(cats)
    cols["target"] = target
    # secondary targets for the multiclass and continuous fits
    cols["y3"] = np.digitize(h[4] + rng.normal(0.0, 0.8, n),
                             [-0.5, 0.5]).astype(np.int32)
    cols["yc"] = 2.0 * h[7] + rng.normal(0.0, 1.0, n)
    return cols


def _to_arrow(cols):
    arrays = {}
    for k, v in cols.items():
        if v.dtype == object:
            arrays[k] = pa.array(list(v), type=pa.string())
        elif v.dtype == np.float64:
            arrays[k] = pa.array(v, mask=np.isnan(v), type=pa.float64())
        else:
            arrays[k] = pa.array(v)
    return pa.table(arrays)


def generate(seed, out_dir, n_train, n_batch):
    rng = np.random.default_rng([seed, 0])
    pq.write_table(_to_arrow(make_table(rng, n_train)),
                   f"{out_dir}/train.parquet", row_group_size=1 << 20)
    if n_batch == 0:
        return
    rng = np.random.default_rng([seed, 1])
    pq.write_table(_to_arrow(make_table(rng, n_batch, drift=True)),
                   f"{out_dir}/batch.parquet", row_group_size=1 << 20)
