"""Wave-47: distributed PCA (vs numpy full PCA, sign convention,
projection laws) and exact calibration bins (vs python reference)."""

from __future__ import annotations

import numpy as np

from pbf2json_spark import ann, stats


# --- PCA -------------------------------------------------------------------------


def _mk_vecs(n=300, d=12, seed=47):
    rng = np.random.default_rng(seed)
    # anisotropic cloud: a few dominant directions
    basis = rng.normal(size=(d, d))
    scales = np.linspace(4.0, 0.1, d)
    return rng.normal(size=(n, d)) @ (basis * scales) + rng.normal(size=d)


def test_pca_vs_numpy(spark):
    x = _mk_vecs()
    rows = [(i, v.tolist()) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean, comps, evs = ann.pca_train(df, k=4)
    np.testing.assert_allclose(np.asarray(mean), x.mean(axis=0), rtol=1e-9)
    cov = np.cov(x, rowvar=False, bias=True)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    for i, idx in enumerate(order):
        assert abs(evs[i] - w[idx]) < 1e-6 * max(1.0, w[idx])
        cosine = abs(float(np.asarray(comps[i]) @ v[:, idx]))
        assert cosine > 1.0 - 1e-8, i
        # sign convention: the largest-|coordinate| entry is positive
        c = np.asarray(comps[i])
        assert c[int(np.argmax(np.abs(c)))] > 0
    # eigenvalues descending
    assert all(a >= b for a, b in zip(evs, evs[1:]))


def test_pca_projection_variances(spark):
    x = _mk_vecs(seed=7)
    rows = [(i, v.tolist()) for i, v in enumerate(x)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    mean, comps, evs = ann.pca_train(df, k=3)
    proj = ann.pca_project(df, mean, comps).collect()
    p = np.asarray([r["pca"] for r in proj])
    # projected variance per axis matches the eigenvalue, descending
    var = p.var(axis=0)
    np.testing.assert_allclose(var, evs, rtol=1e-6)
    assert var[0] >= var[1] >= var[2]
    # centered projection: means ~ 0
    np.testing.assert_allclose(p.mean(axis=0), 0.0, atol=1e-9)


# --- calibration -----------------------------------------------------------------


def test_calibration_vs_reference(spark):
    rows = []
    for i in range(1000):
        score = (i * 37 % 101) / 101.0
        label = 1 if (i * 53 % 97) < 40 * score + 10 else 0
        rows.append((score, label))
    df = spark.createDataFrame(rows, "score double, label int")
    got = {
        r["bin"]: (r["n"], r["n_pos"], r["pos_rate"], r["score_sum_e6"])
        for r in stats.calibration_bins(df, "score", "label", 10).collect()
    }
    exp: dict[int, list] = {}
    for s, y in rows:
        b = min(9, int(s * 10))
        e = exp.setdefault(b, [0, 0, 0])
        e[0] += 1
        e[1] += y
        e[2] += round(s * 1_000_000)
    for b, (n, npos, se6) in exp.items():
        assert got[b][0] == n and got[b][1] == npos, b
        assert got[b][2] == npos / n, b
        assert got[b][3] == se6, b
    # score 1.0 lands in the top bin, never bin n_bins
    df2 = spark.createDataFrame([(1.0, 1)], "score double, label int")
    g2 = stats.calibration_bins(df2, "score", "label", 10).collect()[0]
    assert g2["bin"] == 9
