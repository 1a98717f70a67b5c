"""Similarity search over embedding columns (array<float>).

  * `cosine_topk` — exact baseline: broadcast the query set, JVM-side dot
    product via zip_with/aggregate (no Python), window top-k. The points
    side streams once; the only shuffle is the per-query top-k.
  * `lsh_cosine_topk` — the scale path: deterministic random-hyperplane
    signatures, multi-table bucket join, exact cosine re-rank of
    candidates. Sub-linear candidate sets at 10^12 rows; recall governed
    by (n_tables, bits) — verified in tests against the exact baseline.
  * `embedding_near_dup_pairs` — near-duplicate pairs (cosine ≥ threshold)
    via the same LSH bucketing, self-join flavor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    query_id: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query. Queries are broadcast — correct
    shape when |queries| ≪ |points| (the usual ANN asymmetry)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id),
            F.col("embedding").cast("array<double>").alias("_qv"),
        )
    )
    p = points.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_pv")
    )
    scored = p.crossJoin(q).withColumn("cos", cosine(F.col("_pv"), F.col("_qv")))
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id).orderBy(F.desc("cos"), F.col("vec_id"))
        ),
    ).filter(F.col("rank") <= k)
    return ranked.select(query_id, "vec_id", "cos", "rank")


def _hyperplanes(dim: int, bits: int, table: int) -> list[list[float]]:
    rng = np.random.default_rng(7 + 1009 * table)
    return rng.standard_normal((bits, dim)).tolist()


def _signatures_udf(dim: int, bits: int, n_tables: int):
    """One Arrow-batched pandas UDF computing ALL tables' sign signatures
    per vector: a single (batch × dim) @ (dim × bits·tables) numpy matmul,
    bit-packed per table. Orders of magnitude less codegen than unrolled
    Column dot products (the previous shape) and no per-row Python."""
    planes = np.concatenate(
        [np.asarray(_hyperplanes(dim, bits, t)).T for t in range(n_tables)],
        axis=1,
    )  # (dim, bits*n_tables)
    weights = (1 << np.arange(bits, dtype=np.int64))

    @F.pandas_udf("array<long>")
    def sigs(vec: pd.Series) -> pd.Series:
        mat = np.asarray(vec.tolist(), dtype=np.float64)  # (n, dim)
        bitsm = (mat @ planes) >= 0  # (n, bits*n_tables)
        out = np.empty((mat.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            out[:, t] = bitsm[:, t * bits : (t + 1) * bits] @ weights
        return pd.Series(list(out))

    return sigs


def lsh_cosine_topk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    bits: int = 10,
    n_tables: int = 8,
    query_id: str = "query_id",
    probes: int = 0,
) -> DataFrame:
    """Approximate top-k: one signature pass (numpy matmul over Arrow
    batches), bucket equi-join on (table, signature), exact cosine re-rank.
    Deterministic hyperplanes (fixed seed).

    `probes` > 0 enables MULTI-PROBE (Lv et al. 2007): each query also
    probes the buckets at Hamming distance 1 on its first `probes` sign
    bits — the near-miss buckets a borderline hyperplane projection
    lands in. Recall rises without more tables (probe fan-out is
    query-side only: the big points table is untouched, the broadcast
    query-bucket list grows ×(probes+1))."""
    if not 0 <= probes <= bits:
        raise ValueError("probes must be in [0, bits]")
    sig = _signatures_udf(dim, bits, n_tables)
    p = points.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_pv")
    )
    q = queries.select(
        F.col(query_id), F.col("embedding").cast("array<double>").alias("_qv")
    )
    # ids-only through the ×n_tables explode and the bucket join — the
    # embedding vectors never ride the fan-out; they are hash-joined back
    # onto the DEDUPLICATED candidate set (mirrors minhash_lsh_pairs'
    # shuffle discipline, dedup.py).
    pb = p.select("vec_id", F.posexplode(sig(F.col("_pv"))).alias("_t", "_b"))
    qsig = q.select(query_id, F.posexplode(sig(F.col("_qv"))).alias("_t", "_b"))
    if probes:
        flips = F.array(
            F.col("_b"),
            *[F.col("_b").bitwiseXOR(F.lit(1 << i)) for i in range(probes)],
        )
        qsig = qsig.select(
            query_id, "_t", F.explode(flips).alias("_b")
        ).dropDuplicates([query_id, "_t", "_b"])
    qb = F.broadcast(qsig)
    cands = (
        pb.join(qb, ["_t", "_b"])
        .select(query_id, "vec_id")
        .dropDuplicates([query_id, "vec_id"])
        .join(p, "vec_id")
        .join(F.broadcast(q), query_id)
    )
    ranked = cands.withColumn("cos", cosine(F.col("_pv"), F.col("_qv"))).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id).orderBy(F.desc("cos"), F.col("vec_id"))
        ),
    ).filter(F.col("rank") <= k)
    return ranked.select(query_id, "vec_id", "cos", "rank")


def ivf_cosine_topk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 64,
    n_probe: int = 8,
    query_id: str = "query_id",
) -> DataFrame:
    """IVF-flat approximate top-k: partition vectors into `n_centroids`
    Voronoi cells (k-means on a bounded driver-side sample — the classic
    IVF train step; the sample is metadata-scale no matter the table size),
    probe the `n_probe` nearest cells per query, exact cosine re-rank.

    Scale shape: assignment is one Arrow-batched numpy matmul per batch;
    the probe is an equi-join on the centroid id — hash-partitionable, and
    the per-cell point lists are exactly the inverted lists of a real IVF
    index. Recall rises with n_probe (n_probe == n_centroids ⇒ exact)."""
    p = points.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_pv")
    )
    q = queries.select(
        F.col(query_id), F.col("embedding").cast("array<double>").alias("_qv")
    )

    # --- train: bounded sample → numpy mini k-means (deterministic) -------
    # orderBy().limit() plans as TakeOrdered (per-partition top-n + merge,
    # no full sort) and is deterministic across partition layouts — a bare
    # limit() is not (it grabs whatever partitions answer first).
    sample_rows = p.orderBy("vec_id").limit(4096).collect()
    if not sample_rows:
        raise ValueError(
            "ivf_cosine_topk: points frame is empty — nothing to train the "
            "IVF centroids on"
        )
    sample = np.asarray([r["_pv"] for r in sample_rows], dtype=np.float64)
    sample /= np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(7)
    k_eff = min(n_centroids, len(sample))
    cents = sample[rng.choice(len(sample), size=k_eff, replace=False)]
    for _ in range(10):
        assign = np.argmax(sample @ cents.T, axis=1)
        for c in range(k_eff):
            m = assign == c
            if m.any():
                v = sample[m].mean(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
    cents_T = cents.T.copy()

    @F.pandas_udf("int")
    def assign_udf(vec: pd.Series) -> pd.Series:
        mat = np.asarray(vec.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ cents_T, axis=1).astype(np.int32))

    @F.pandas_udf("array<int>")
    def probe_udf(vec: pd.Series) -> pd.Series:
        mat = np.asarray(vec.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ cents_T), axis=1)[:, : min(n_probe, k_eff)]
        return pd.Series(list(order.astype(np.int32)))

    pb = p.withColumn("_c", assign_udf(F.col("_pv")))
    qb = F.broadcast(
        q.withColumn("_c", F.explode(probe_udf(F.col("_qv"))))
    )
    cands = pb.join(qb, "_c").select(query_id, "vec_id", "_pv", "_qv")
    ranked = (
        cands.withColumn("cos", cosine(F.col("_pv"), F.col("_qv")))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(query_id).orderBy(F.desc("cos"), F.col("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(query_id, "vec_id", "cos", "rank")


def embedding_near_dup_pairs_exact(points: DataFrame, threshold: float) -> DataFrame:
    """Brute-force near-dup pairs (a<b, cosine ≥ threshold) — the exactness
    baseline for embedding_near_dup_pairs. Quadratic by construction: run
    it only on bounded corpora (tests, the capped driver query, recall
    audits of the LSH path); the LSH variant is the scale path."""
    a = points.select(
        F.col("vec_id").alias("a"),
        F.col("embedding").cast("array<double>").alias("_va"),
    )
    b = points.select(
        F.col("vec_id").alias("b"),
        F.col("embedding").cast("array<double>").alias("_vb"),
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select("a", "b")
    )


def semantic_dedup(points: DataFrame, centroids, threshold: float) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then prune
    near-duplicates WITHIN each cluster — candidate generation is an
    equi-join on the cluster id, never corpus-quadratic; the within-
    cluster pairing is quadratic in CLUSTER size by design (the paper's
    trade: pick k large enough that clusters stay small — k ~ sqrt(N)
    keeps total pair work ~N^1.5 instead of N²).

    Keep rule: a vector is dropped iff a LOWER-id vector in the same
    cluster has cosine ≥ threshold with it (deterministic keep-first-id —
    the paper keeps the vector with lowest distance to the centroid;
    id-priority is the order-free, engine-exact variant of the same
    one-per-duplicate-group semantics, and what makes the result
    oracle-checkable).

    `centroids` is cluster.kmeans_fit output (numpy (k, d)). Output:
    (id, cluster) survivor rows.
    """
    from pbf2json_spark import cluster as _cluster

    assigned = _cluster.kmeans_assign(points, centroids).select(
        F.col("vec_id"), "cluster"
    )
    v = points.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")
    )
    # av feeds BOTH self-join sides and `assigned` the final anti-join —
    # pin them or the Arrow assignment UDF + scan run three times
    av = assigned.join(v, "vec_id").localCheckpoint(eager=False)
    assigned = av.select(F.col("vec_id"), "cluster")
    a = av.select(
        F.col("vec_id").alias("a"), "cluster", F.col("_v").alias("_va")
    )
    b = av.select(
        F.col("vec_id").alias("b"), "cluster", F.col("_v").alias("_vb")
    )
    dup_ids = (
        a.join(b, "cluster")
        .filter(F.col("a") < F.col("b"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .select(F.col("b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dup_ids, "vec_id", "left_anti")


def embedding_near_dup_pairs(
    points: DataFrame,
    threshold: float,
    dim: int,
    bits: int = 12,
    n_tables: int = 6,
) -> DataFrame:
    """Pairs (a<b) with cosine ≥ threshold, LSH-bucketed self-join + exact
    verify (no false positives)."""
    sig = _signatures_udf(dim, bits, n_tables)
    p = points.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("_v"),
    )
    # ids-only banded self-join: 8-byte ids cross the ×n_tables explode and
    # the candidate shuffle; the full vectors are joined back onto the
    # deduplicated pairs only (minhash_lsh_pairs shuffle discipline) — the
    # previous shape replicated every embedding n_tables× on BOTH sides.
    pb = p.select("_id", F.posexplode(sig(F.col("_v"))).alias("_t", "_b"))
    left = pb.select(F.col("_id").alias("a"), "_t", "_b")
    right = pb.select(F.col("_id").alias("b"), "_t", "_b")
    cands = (
        left.join(right, ["_t", "_b"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    va = p.select(F.col("_id").alias("a"), F.col("_v").alias("_va"))
    vb = p.select(F.col("_id").alias("b"), F.col("_v").alias("_vb"))
    return (
        cands.join(va, "a")
        .join(vb, "b")
        .withColumn("cos", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cos") >= threshold)
        .select("a", "b", "cos")
    )


def pq_train(
    points: DataFrame,
    m: int = 4,
    ksub: int = 16,
    n_iter: int = 10,
    train_sample: int = 4096,
) -> np.ndarray:
    """Product-quantization codebooks: split the (unit-normalized) vector
    into `m` contiguous subspaces and k-means each to `ksub` centroids —
    the memory side of the classic IVF+PQ index (IVF prunes WHICH vectors
    to score, PQ shrinks WHAT is stored per vector: m bytes of codes
    instead of 4·d floats — at 10^12 vectors the difference between an
    index that fits executor memory and one that doesn't).

    Training mirrors ivf_cosine_topk: a bounded deterministic sample
    (orderBy(id).limit — TakeOrdered, partition-layout independent) k-means
    on the driver per subspace; metadata-scale regardless of table size.
    Returns (m, ksub, d//m) float64 — d must divide evenly by m.
    """
    sample_rows = points.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")
    ).orderBy("vec_id").limit(train_sample).collect()
    if not sample_rows:
        raise ValueError("pq_train: points frame is empty")
    mat = np.asarray([r["_v"] for r in sample_rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"pq_train: dim {d} not divisible by m={m}")
    dsub = d // m
    rng = np.random.default_rng(11)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for s in range(m):
        sub = mat[:, s * dsub:(s + 1) * dsub]
        k_eff = min(ksub, len(sub))
        cents = sub[rng.choice(len(sub), size=k_eff, replace=False)].copy()
        for _ in range(n_iter):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k_eff):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(axis=0)
        if k_eff < ksub:                 # degenerate tiny corpus: pad
            cents = np.vstack([cents] + [cents[:1]] * (ksub - k_eff))
        books[s] = cents
    return books


def pq_encode(points: DataFrame, codebooks: np.ndarray) -> DataFrame:
    """Encode each vector to `m` small codes (nearest sub-centroid per
    subspace) — one Arrow-batched numpy pass; the codes array (m ints,
    m bytes in a real uint8 layout) is all that an ADC scorer needs.
    Output: (vec_id, codes array<int>)."""
    books = codebooks

    @F.pandas_udf("array<int>")
    def enc(vec: pd.Series) -> pd.Series:
        mat = np.asarray(vec.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        m, ksub, dsub = books.shape
        out = np.empty((len(mat), m), dtype=np.int32)
        for s in range(m):
            sub = mat[:, s * dsub:(s + 1) * dsub]
            d2 = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    return points.select(
        F.col("vec_id"), enc(F.col("embedding").cast("array<double>")).alias("codes")
    )


def pq_topk(
    points: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int,
    query_id: str = "query_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes: per
    query, a lookup table LUT[s][c] = dot(q_s, codebook[s][c]) scores any
    code vector with m table reads + a sum — the query never touches the
    raw vectors. Approximates cosine of unit-normalized inputs; recall
    rises with m and ksub (pytest measures it vs exact top-k).

    Scale shape: the LUT per query is m·ksub doubles (driver/broadcast
    scale); scoring is one Arrow-batched numpy gather over the CODES
    table — the raw embedding column is read once at encode time and
    never shuffled. This is FLAT PQ (every code row scored, like every
    real PQ scan); at 10^12 vectors compose with ivf_cosine_topk's cell
    probe to bound the candidate set first. The final top-k is the
    standard per-query ranking window over (query, id, score).

    Output: (query_id, vec_id, adc_score, rank) — rank ≤ k, ties by id.
    """
    codes = pq_encode(points, codebooks)
    books = codebooks
    qrows = queries.select(
        F.col(query_id), F.col("embedding").cast("array<double>").alias("_qv")
    ).collect()
    if not qrows:
        raise ValueError("pq_topk: queries frame is empty")
    m, ksub, dsub = books.shape
    qids = [r[query_id] for r in qrows]
    qmat = np.asarray([r["_qv"] for r in qrows], dtype=np.float64)
    qmat /= np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # LUT[qi, s, c] = dot(q_s, books[s, c])
    lut = np.einsum(
        "qsd,scd->qsc", qmat.reshape(len(qmat), m, dsub), books
    )

    @F.pandas_udf("array<double>")
    def adc(codes_s: pd.Series) -> pd.Series:
        cm = np.asarray(codes_s.tolist(), dtype=np.int64)      # (n, m)
        n = len(cm)
        scores = np.zeros((n, len(qids)), dtype=np.float64)
        for s in range(m):
            # gather LUT[:, s, code] for every row — (n, nq)
            scores += lut[:, s, :][:, cm[:, s]].T
        return pd.Series(list(scores))

    scored = codes.select(
        F.col("vec_id"), F.posexplode(adc(F.col("codes"))).alias("_qi", "adc_score")
    )
    qmap = codes.sparkSession.createDataFrame(
        list(enumerate(qids)), f"_qi int, {query_id} long"
    )
    ranked = (
        scored.join(F.broadcast(qmap), "_qi")
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy(query_id)
                .orderBy(F.desc("adc_score"), F.col("vec_id"))
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.select(query_id, "vec_id", "adc_score", "rank")


def mmr_select(
    df: DataFrame,
    k: int,
    lam: float = 0.7,
    group_cols: list[str] | None = None,
    cap: int = 512,
) -> DataFrame:
    """Diversity-aware top-k per group by greedy Maximal Marginal
    Relevance (Carbonell & Goldstein 1998): repeatedly pick
    argmax λ·score − (1−λ)·max cos(candidate, already-selected) — the
    training-data selection step that plain score top-k gets wrong
    (score top-k returns k near-duplicates of the best document; MMR
    trades score for coverage).

    Shape: candidates are pre-capped to the top-`cap` by (score, id)
    with one window (the standard MMR practice — greedy over the whole
    corpus is never the intent), so the greedy kernel is ONE bounded
    applyInPandas per group (numpy matmul per round over ≤ cap rows).
    Sequential by nature (pick r+1 depends on picks 1..r) ⇒ NO SQL
    oracle — the isotonic/bpe_train precedent; pytest proves it against
    a brute reference and the diversity law.

    Ties break on (value desc, id asc) — deterministic in any engine.
    Output: (*group_cols, id, score, mmr_value, pick_rank).
    """
    import pandas as pd
    import pyspark.sql.types as _T
    from pyspark.sql.window import Window

    gs = list(group_cols or [])
    w = Window.partitionBy(*[F.col(c) for c in gs] or [F.lit(1)]).orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    capped = (
        df.select(*gs, "vec_id", "score", "embedding")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .drop("_rk")
    )
    schema = _T.StructType(
        [f for f in df.select(*gs).schema.fields]
        + [
            df.schema["vec_id"],
            _T.StructField("score", _T.DoubleType()),
            _T.StructField("mmr_value", _T.DoubleType()),
            _T.StructField("pick_rank", _T.LongType()),
        ]
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        keys = list(pdf.iloc[0][gs]) if gs else []
        ids = pdf["vec_id"].to_numpy()
        scores = pdf["score"].to_numpy(dtype=np.float64)
        mat = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(mat, axis=1)
        nrm[nrm == 0] = 1.0
        mat = mat / nrm[:, None]
        n = len(ids)
        picked: list[int] = []
        max_sim = np.full(n, -np.inf)
        rows = []
        for r in range(min(k, n)):
            val = lam * scores - (0.0 if not picked else (1 - lam) * max_sim)
            if not picked:
                val = lam * scores
            val[picked] = -np.inf
            # argmax with (value desc, id asc) tie-break
            best = np.lexsort((ids, -val))[0]
            picked.append(best)
            rows.append([*keys, ids[best], float(scores[best]),
                         float(val[best]), r + 1])
            sims = mat @ mat[best]
            max_sim = np.maximum(max_sim, sims)
        return pd.DataFrame(
            rows, columns=[*gs, "vec_id", "score", "mmr_value", "pick_rank"]
        )

    if gs:
        return capped.groupBy(*gs).applyInPandas(_greedy, schema)
    return capped.groupBy(F.lit(1).alias("_g")).applyInPandas(
        lambda pdf: _greedy(pdf.drop(columns=["_g"], errors="ignore")), schema
    )


# --- scalar quantization (SQ8) ---------------------------------------------------


def sq_train(df: DataFrame) -> tuple[list[float], list[float]]:
    """Per-dimension global (min, max) bounds for 8-bit scalar
    quantization — ONE posexplode + ONE map-side-combinable (dim) groupBy;
    the result is dim-sized metadata (the bounded driver-collect idiom of
    ivf_train). Completes the quantization family: SQ8 is the 4x-compression
    workhorse (vs PQ's 32x/lossier, LSH's bit sketches) — per-dim uniform
    grids, no codebook training pass."""
    rows = (
        df.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v")
        )
        .groupBy("d")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .orderBy("d")
        .collect()
    )
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def _sq_arrays(mins: list[float], maxs: list[float]):
    mn = F.array(*[F.lit(float(v)) for v in mins])
    mx = F.array(*[F.lit(float(v)) for v in maxs])
    return mn, mx


def sq_encode(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    out_col: str = "codes",
) -> DataFrame:
    """8-bit codes per dimension: code_d = clamp(floor((v - mn_d) /
    (mx_d - mn_d) * 255), 0, 255); a constant dimension (mx == mn)
    encodes 0. Pure Column transform over literal bound arrays — zero
    shuffle, stays in codegen, 4 bytes -> 1 byte per dim. The op tree is
    fixed (sub / div / mul / floor), so any IEEE engine reproduces the
    codes bit-for-bit — the DuckDB oracle recomputes them exactly."""
    mn, mx = _sq_arrays(mins, maxs)
    codes = F.expr(
        "transform(embedding, (v, i) -> "
        "CAST(least(255, greatest(0, "
        "CASE WHEN element_at(_sq_mx, i + 1) = element_at(_sq_mn, i + 1) THEN 0 "
        "ELSE floor((CAST(v AS DOUBLE) - element_at(_sq_mn, i + 1)) "
        "/ (element_at(_sq_mx, i + 1) - element_at(_sq_mn, i + 1)) "
        "* CAST(255.0 AS DOUBLE)) END)) AS INT))"
    )
    return (
        df.withColumn("_sq_mn", mn)
        .withColumn("_sq_mx", mx)
        .withColumn(out_col, codes)
        .drop("_sq_mn", "_sq_mx")
    )


def sq_topk(
    points: DataFrame,
    queries: DataFrame,
    k: int,
    mins: list[float],
    maxs: list[float],
    query_id: str = "query_id",
) -> DataFrame:
    """Top-k by asymmetric distance computation over SQ8 codes: points
    are quantized (sq_encode), queries stay full-precision; score =
    dot(dequantized point, query) with bin-center reconstruction
    deq_d = mn_d + (code_d + 0.5) * (mx_d - mn_d) / 255. Same broadcast
    asymmetry as cosine_topk (|queries| << |points|); the scan side reads
    1-byte codes, not floats — the memory-bandwidth win that makes SQ the
    default first stage before exact rescoring at fleet scale.

    Output: (query_id, vec_id, code_sum, adc_score, rank). code_sum is an
    integer pin on the encode path for exact oracles; rank comparisons
    are the portable surface (float adc_score ties are broken by id, the
    cosine_topk precedent).
    """
    mn, mx = _sq_arrays(mins, maxs)
    enc = sq_encode(points, mins, maxs, out_col="_codes")
    deq = F.expr(
        "transform(_codes, (c, i) -> element_at(_sq_mn, i + 1) "
        "+ (CAST(c AS DOUBLE) + CAST(0.5 AS DOUBLE)) "
        "* (element_at(_sq_mx, i + 1) - element_at(_sq_mn, i + 1)) "
        "/ CAST(255.0 AS DOUBLE))"
    )
    p = (
        enc.withColumn("_sq_mn", mn)
        .withColumn("_sq_mx", mx)
        .withColumn("_deq", deq)
        .select(
            F.col("vec_id"),
            "_codes",
            "_deq",
            F.aggregate("_codes", F.lit(0).cast("long"), lambda a, c: a + c).alias(
                "code_sum"
            ),
        )
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id), F.col("embedding").cast("array<double>").alias("_qv")
        )
    )
    scored = p.crossJoin(q).withColumn("adc_score", _dot(F.col("_deq"), F.col("_qv")))
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(query_id).orderBy(F.desc("adc_score"), F.col("vec_id"))
        ),
    ).filter(F.col("rank") <= k)
    return ranked.select(query_id, "vec_id", "code_sum", "adc_score", "rank")


def kcenter_select(df: DataFrame, k: int) -> DataFrame:
    """Greedy k-center / farthest-point coreset: repeatedly pick the point
    FARTHEST from everything picked so far (max over points of min
    squared distance to the picked set). The geometric-coverage
    complement of mmr_select: MMR trades a relevance score against
    diversity per group; k-center covers the whole embedding space —
    every point ends within the final covering radius of some pick (the
    classic 2-approximation to optimal k-center), which is what coreset/
    landmark selection for training-data curation wants.

    Honest distributed shape: greedy k-center is INHERENTLY k rounds —
    each round is one full-scan max-aggregate over a maintained
    min-distance column plus a one-row driver collect (the bounded
    metadata-scale collect of the ivf_train idiom), then a pure-Column
    update mind = least(mind, dist-to-new-pick) against the picked
    vector as a LITERAL array. k scans of the corpus is the true cost of
    the exact algorithm (k is small — a coreset, not a partition);
    localCheckpoint every round keeps the lineage flat. Deterministic:
    round 1 picks the smallest id; ties break on (distance desc, id asc).

    Sequential greedy ⇒ NO SQL oracle (the mmr/isotonic precedent);
    pytest proves it against a brute reference plus the non-increasing
    covering-radius law.

    Output: (pick_rank long, id, dist double — the max-min distance at
    selection time; dist of rank 1 is infinity's stand-in -1.0).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    base = df.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("_v")
    ).localCheckpoint()
    first = base.orderBy("vec_id").limit(1).collect()
    if not first:
        return base.sparkSession.createDataFrame(
            [], "pick_rank long, vec_id long, dist double"
        )
    picks = [(1, first[0]["vec_id"], -1.0)]
    cur = base.withColumn("_mind", F.lit(float("inf")))
    pv = first[0]["_v"]

    def _d2(vec_lit: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in vec_lit])
        return F.aggregate(
            F.zip_with(F.col("_v"), lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    for r in range(2, k + 1):
        cur = cur.withColumn("_mind", F.least(F.col("_mind"), _d2(pv)))
        cur = cur.localCheckpoint()
        far = (
            cur.filter(~F.col("vec_id").isin([p[1] for p in picks]))
            .orderBy(F.desc("_mind"), F.col("vec_id"))
            .limit(1)
            .collect()
        )
        if not far:
            break
        picks.append((r, far[0]["vec_id"], float(far[0]["_mind"])))
        pv = far[0]["_v"]
    return base.sparkSession.createDataFrame(
        picks, "pick_rank long, vec_id long, dist double"
    )


def pca_train(
    df: DataFrame, k: int
) -> tuple[list[float], list[list[float]], list[float]]:
    """Distributed PCA training over an embedding column: each Arrow
    batch contributes the sufficient statistics (n, Σx, Σxxᵀ) via
    mapInPandas — one numpy outer-product matmul per batch, d²+d doubles
    per partial — and the d×d eigendecomposition runs driver-side on the
    combined moments (d ≤ a few hundred: the classic "covariance fits on
    the driver, data does not" regime; at 10^12 rows the shuffle carries
    only the partials). The dimensionality-reduction front end the ANN
    family wants: project to k dims, then LSH/IVF/SQ index the projection.

    Determinism: eigenvector signs are normalized (largest-|coordinate|
    positive); eigenvalues/vectors are deterministic up to float ulp of
    the partial-sum combine order — train is NOT bit-reproducible across
    partitionings (documented; tests compare against numpy with
    tolerance, the gate query is rows-only).

    Returns (mean[d], components[k][d] — descending eigenvalue order,
    explained_variance[k])."""
    import pyspark.sql.types as _T

    d_probe = df.select(F.size(F.col("embedding")).alias("d")).first()
    if d_probe is None:
        raise ValueError("pca_train: empty frame")
    dim = int(d_probe["d"])

    schema = _T.StructType(
        [
            _T.StructField("n", _T.LongType()),
            _T.StructField("s", _T.ArrayType(_T.DoubleType())),
            _T.StructField("ss", _T.ArrayType(_T.DoubleType())),
        ]
    )

    def _moments(it):
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.asarray(pdf.iloc[:, 0].tolist(), dtype=np.float64)
            yield pd.DataFrame(
                {
                    "n": [int(mat.shape[0])],
                    "s": [mat.sum(axis=0).tolist()],
                    "ss": [(mat.T @ mat).ravel().tolist()],
                }
            )

    parts = (
        df.select(F.col("embedding").cast("array<double>"))
        .mapInPandas(_moments, schema)
        .collect()
    )
    n = sum(p["n"] for p in parts)
    s = np.zeros(dim)
    ss = np.zeros((dim, dim))
    for p in parts:
        s += np.asarray(p["s"])
        ss += np.asarray(p["ss"]).reshape(dim, dim)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    w, v = np.linalg.eigh(cov)  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = []
    evs = []
    for idx in order:
        c = v[:, idx]
        j = int(np.argmax(np.abs(c)))
        if c[j] < 0:
            c = -c
        comps.append(c.tolist())
        evs.append(float(w[idx]))
    return mean.tolist(), comps, evs


def pca_project(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
) -> DataFrame:
    """Project vectors onto trained components — pure Column: per
    component one zip_with/aggregate fold against LITERAL (mean,
    component) arrays; k folds, zero Python, zero shuffle (scan-stage,
    the sq_encode discipline)."""
    mu = F.array(*[F.lit(float(x)) for x in mean])
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), mu, lambda a, b: a - b
    )
    dots = []
    for comp in components:
        c = F.array(*[F.lit(float(x)) for x in comp])
        dots.append(
            F.aggregate(
                F.zip_with(centered, c, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
    return df.withColumn("pca", F.array(*dots))


def mutual_topk(a: DataFrame, b: DataFrame, k: int = 4) -> DataFrame:
    """Mutual-nearest-neighbor mining with the ratio margin (Artetxe &
    Schwenk 2019): a pair (x ∈ A, y ∈ B) is emitted iff y is x's top-1
    AND x is y's top-1, scored by cos(x,y) divided by the mean of both
    sides' top-k neighborhoods — the standard parallel-corpus /
    cross-dump bitext mining criterion (forward-only top-1 floods on hub
    vectors; mutuality + margin is what survives at corpus scale).

    Shape: two cosine_topk passes (broadcast the query side — mining
    runs with the smaller dump broadcast; swap or pre-bucket with
    lsh/ivf when both sides are huge), one (a,b) equi-join for
    mutuality, margins from the already-computed top-k rows — no third
    scan. Determinism: ties rank by id (the cosine_topk contract), so
    the PAIR LIST is engine-exact even though the margin is float
    (gates compare ids, margins are advisory — the rank-only cosine
    precedent).

    Output: (a_id, b_id, cos, margin) — one row per mutual pair.
    """
    fa = cosine_topk(
        b.select(F.col("b_id").alias("vec_id"), "embedding"),
        a.select(F.col("a_id").alias("query_id"), "embedding"),
        k=k,
    ).select(
        F.col("query_id").alias("a_id"), F.col("vec_id").alias("b_id"),
        "cos", "rank",
    )
    fb = cosine_topk(
        a.select(F.col("a_id").alias("vec_id"), "embedding"),
        b.select(F.col("b_id").alias("query_id"), "embedding"),
        k=k,
    ).select(
        F.col("vec_id").alias("a_id"), F.col("query_id").alias("b_id"),
        F.col("cos").alias("cos_b"), F.col("rank").alias("rank_b"),
    )
    avg_a = fa.groupBy("a_id").agg(F.avg("cos").alias("_avg_a"))
    avg_b = fb.groupBy("b_id").agg(F.avg("cos_b").alias("_avg_b"))
    top_a = fa.filter(F.col("rank") == 1)
    top_b = fb.filter(F.col("rank_b") == 1)
    mutual = top_a.join(top_b, ["a_id", "b_id"])
    return (
        mutual.join(avg_a, "a_id")
        .join(avg_b, "b_id")
        .select(
            "a_id", "b_id", "cos",
            (F.col("cos") / ((F.col("_avg_a") + F.col("_avg_b")) / 2.0)).alias(
                "margin"
            ),
        )
    )


def knn_label_consensus(df: DataFrame, k: int = 5) -> DataFrame:
    """kNN label-consensus noise detection ("confident learning lite"):
    each labeled point is checked against the MAJORITY label of its k
    nearest neighbors in embedding space — a point whose neighborhood
    votes against its own label is a mislabeled/contaminated candidate,
    the first-pass filter before training on weak labels (LLM-judge
    outputs, distant supervision).

    Determinism: neighbors rank by (cos DESC, id) — the cosine_topk
    total order — with SELF EXCLUDED BEFORE ranking (excluding "rank 1"
    after the fact breaks when an exact-duplicate vector with a smaller
    id outranks the point itself — near-dup corpora make that real);
    the consensus pick is (vote count DESC, label ASC) — a pure
    function of the input.

    Shape note: this exact form cross-joins the broadcast point set
    against itself (the cosine_topk plan with queries == points) — the
    bounded-labeled-set regime (eval/seed sets, ≤ ~10⁵). For corpus-
    scale label audit swap the candidate generator for lsh_cosine_topk
    and keep the vote/consensus tail unchanged.

    Output: (id, label, consensus_label, n_agree, n_neighbors, flagged).
    """
    pts = df.select(
        F.col("vec_id").alias("_qid"),
        F.col("embedding").cast("array<double>").alias("_qv"),
        F.col("label").alias("_qlab"),
    )
    p = df.select(
        F.col("vec_id").alias("_pid"),
        F.col("embedding").cast("array<double>").alias("_pv"),
        F.col("label").alias("_plab"),
    )
    scored = (
        p.crossJoin(F.broadcast(pts))
        .filter(F.col("_pid") != F.col("_qid"))
        .withColumn("cos", cosine(F.col("_pv"), F.col("_qv")))
    )
    nn = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("_qid").orderBy(F.desc("cos"), F.col("_pid"))
        ),
    ).filter(F.col("rank") <= k)
    votes = nn.groupBy("_qid", "_qlab", "_plab").agg(
        F.count(F.lit(1)).alias("_v")
    )
    best = votes.groupBy("_qid", "_qlab").agg(
        F.min(
            F.struct((-F.col("_v")).alias("nv"), F.col("_plab").alias("lab"))
        ).alias("_b"),
        F.sum("_v").alias("n_neighbors"),
        F.sum(
            F.when(F.col("_plab") == F.col("_qlab"), F.col("_v")).otherwise(0)
        ).alias("n_agree"),
    )
    return best.select(
        F.col("_qid").alias("vec_id"),
        F.col("_qlab").alias("label"),
        F.col("_b.lab").alias("consensus_label"),
        F.col("n_agree").cast("long").alias("n_agree"),
        F.col("n_neighbors").cast("long").alias("n_neighbors"),
        (F.col("_b.lab") != F.col("_qlab")).alias("flagged"),
    )
