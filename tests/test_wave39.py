"""Wave-39: discrete Hausdorff (vs brute max-min; metric laws) and the
deterministic train/val/test split (partition, leak-proofing, proportions)."""

from __future__ import annotations

import hashlib
import random
from collections import Counter

from pbf2json_spark import sampling, trajectory


# --- hausdorff ---------------------------------------------------------------


def _brute_h(A, B):
    def h(X, Y):
        return max(min((px - qx) ** 2 + (py - qy) ** 2 for qy, qx in Y) for py, px in X)

    return h(A, B), h(B, A)


def test_hausdorff_vs_brute(spark):
    rnd = random.Random(39)
    trajs = {
        u: [(rnd.uniform(-50, 50), rnd.uniform(-50, 50)) for _ in range(rnd.randrange(3, 12))]
        for u in range(6)
    }
    rows = [(u, la, lo) for u, pts in trajs.items() for la, lo in pts]
    t = spark.createDataFrame(rows, "user_id long, lat double, lon double")
    pairs = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a < b], "a long, b long"
    )
    got = {
        (r["a"], r["b"]): (r["h_ab"], r["h_ba"], r["hausdorff_sq"])
        for r in trajectory.hausdorff_pairs(t, pairs).collect()
    }
    for (a, b), (hab, hba, hs) in got.items():
        eab, eba = _brute_h(trajs[a], trajs[b])
        assert (hab, hba) == (eab, eba), (a, b)
        assert hs == max(eab, eba)
    assert len(got) == 15


def test_hausdorff_identity_and_subset(spark):
    # identical sets -> 0; subset A of B -> h(A,B) = 0 but h(B,A) > 0
    A = [(0.0, 0.0), (1.0, 1.0)]
    B = A + [(5.0, 5.0)]
    rows = [(1, la, lo) for la, lo in A] + [(2, la, lo) for la, lo in B] + [
        (3, la, lo) for la, lo in A
    ]
    t = spark.createDataFrame(rows, "user_id long, lat double, lon double")
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a long, b long")
    got = {
        (r["a"], r["b"]): (r["h_ab"], r["h_ba"], r["hausdorff_sq"])
        for r in trajectory.hausdorff_pairs(t, pairs).collect()
    }
    assert got[(1, 3)] == (0.0, 0.0, 0.0)
    assert got[(1, 2)][0] == 0.0 and got[(1, 2)][1] == 32.0
    assert got[(1, 2)][2] == 32.0


# --- split -------------------------------------------------------------------


def _exp_split(doc_id, seed=0):
    h = int(hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:8], 16)
    t1 = int(0.8 * (1 << 32))
    t2 = t1 + int(0.1 * (1 << 32))
    return "train" if h < t1 else ("val" if h < t2 else "test")


def test_split_matches_reference_and_partitions(spark):
    df = spark.range(2000).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(df, "doc_id").collect()
    }
    assert len(got) == 2000  # exactly one label per row
    for i in (0, 1, 7, 99, 1234, 1999):
        assert got[i] == _exp_split(i), i
    c = Counter(got.values())
    assert 0.75 * 2000 < c["train"] < 0.85 * 2000
    assert c["val"] > 100 and c["test"] > 100


def test_split_leak_proof_under_resharding(spark):
    df = spark.range(500).withColumnRenamed("id", "doc_id")
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(df.repartition(1), "doc_id").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(
            df.repartition(17, "doc_id"), "doc_id"
        ).collect()
    }
    assert a == b
    # subset invariance: a smaller corpus assigns the shared ids identically
    c = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(
            df.filter("doc_id < 100"), "doc_id"
        ).collect()
    }
    assert all(a[k] == v for k, v in c.items())


def test_split_rejects_bad_weights(spark):
    df = spark.range(3).withColumnRenamed("id", "doc_id")
    import pytest

    with pytest.raises(ValueError):
        sampling.train_val_test_split(df, "doc_id", weights=(0.5, 0.2, 0.2))
