"""Quality + determinism pins for the k-means key (rows-only in the
driver, so the engine itself must prove the iteration works)."""
from __future__ import annotations

from engine.registry import QUERIES, load_all
from engine.queries import ml

load_all()

SF = "/root/testdata/sf0.001"


def _inertia(spark, iters):
    from pyspark.sql import functions as F

    asg = ml._lloyd(spark, SF, iters=iters)
    return asg.agg(F.sum("d2")).collect()[0][0]


def test_kmeans_inertia_descends(spark):
    # Lloyd's is monotone: more iterations never raise inertia
    i1 = _inertia(spark, 1)
    i4 = _inertia(spark, 4)
    assert i4 <= i1 + 1e-9, (i1, i4)


def test_kmeans_covers_all_vectors(spark):
    from pyspark.sql import functions as F

    out = QUERIES["q_cluster_kmeans"](spark, SF)
    total = out.agg(F.sum("n")).collect()[0][0]
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM '{SF}/embeddings.parquet'").fetchone()[0]
    assert total == n
    assert out.count() <= ml.K


def _rows(spark, parts):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        df = QUERIES["q_cluster_kmeans"](spark, SF)
        return sorted(tuple(r) for r in df.collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_kmeans_partition_invariance(spark):
    # fixed-point accumulation makes the whole trajectory exact:
    # same clusters, same inertia, regardless of partitioning
    assert _rows(spark, 5) == _rows(spark, 32)


def test_embed_pca_variance_ordering_and_determinism(spark, sf_dir):
    """Projected variance must be (weakly) decreasing across the top-k
    components (eigenvalue order), and the projection must equal a
    locally recomputed eigh of the same integer-exact Gram matrix —
    pinning the distributed-partials -> driver-eigh -> broadcast-map
    composition end to end."""
    import numpy as np

    from engine.queries.vectors import _gram_matrix, q_embed_pca

    rows = q_embed_pca(spark, sf_dir).collect()
    n = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .filter("embedding IS NOT NULL").count())
    # scalar (vec_id, pos, pval) rows — the driver-compare shape
    assert len(rows) == n * 8
    proj = {}
    for r in rows:
        proj.setdefault(r["vec_id"], [0.0] * 8)[r["pos"]] = r["pval"]
    P = np.stack([np.array(v) for v in proj.values()])
    assert P.shape == (n, 8)
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(len(var) - 1))

    # local twin: same Gram -> same components -> same quantized rows
    G = _gram_matrix(spark, sf_dir)
    w, V = np.linalg.eigh(G)
    comps = V[:, ::-1][:, :8]
    flips = np.sign(comps[np.abs(comps).argmax(axis=0),
                          np.arange(comps.shape[1])])
    comps = comps * flips
    emb = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
           for r in spark.read.parquet(
               f"{sf_dir}/embeddings.parquet").collect()
           if r["embedding"] is not None}
    for vid in list(proj)[:25]:
        want = np.floor(emb[vid] @ comps * 1e6 + 0.5) / 1e6
        assert np.array_equal(np.array(proj[vid]), want)


def test_embed_whiten_identity_covariance(spark, sf_dir):
    """Whitened output must have (uncentered) covariance ~ identity:
    diagonals ~ 1, off-diagonals ~ 0 — the defining property."""
    import numpy as np

    from engine.queries.vectors import q_embed_whiten

    rows = q_embed_whiten(spark, sf_dir).collect()
    white = {}
    for r in rows:
        white.setdefault(r["vec_id"], [0.0] * 64)[r["pos"]] = r["wval"]
    Y = np.stack([np.array(v) for v in white.values()])
    C = Y.T @ Y / len(Y)
    assert np.abs(np.diag(C) - 1.0).max() < 1e-3
    off = C - np.diag(np.diag(C))
    assert np.abs(off).max() < 1e-3


def test_embed_pq_codes_shape_and_monotonicity(spark, sf_dir):
    """Every non-null vector gets PQ_M codes in [0, PQ_K); the fitted
    codebook's reconstruction error must not exceed assigning
    directly to the Forgy seeds (one Lloyd step is monotone); and a
    second call serves the PERSISTED codebook artifact untouched."""
    import os

    import numpy as np

    from engine.queries.vectors import (
        PQ_K, PQ_M, pq_codebook_path, q_embed_pq)

    rows = q_embed_pq(spark, sf_dir).collect()
    n = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
         .filter("embedding IS NOT NULL").count())
    assert len(rows) == n * PQ_M
    assert all(0 <= r["code"] < PQ_K for r in rows)
    fitted_err = float(np.mean([r["sq_err"] for r in rows]))

    # seed-only baseline, computed locally
    emb = np.stack([
        np.asarray(r["embedding"], dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .filter("embedding IS NOT NULL").orderBy("vec_id").collect()])
    d = emb.shape[1]
    seeds = emb[:PQ_K].reshape(PQ_K, PQ_M, d // PQ_M).transpose(1, 0, 2)
    X = emb.reshape(-1, PQ_M, d // PQ_M)
    D = ((X[:, :, None, :] - seeds[None, :, :, :]) ** 2).sum(-1)
    seed_err = float(D.min(axis=2).mean())
    assert fitted_err <= seed_err + 1e-9, (fitted_err, seed_err)

    # persistence: artifact exists and a re-query reuses it
    path = pq_codebook_path(sf_dir)
    assert os.path.isdir(path)
    mtime = os.stat(path).st_mtime_ns
    from engine.io import memo_drop
    memo_drop(spark, "pq_codebook")
    again = q_embed_pq(spark, sf_dir).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))
    assert os.stat(path).st_mtime_ns == mtime
