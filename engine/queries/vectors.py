"""Embedding-column vector operators (round 5).

Feature-engineering ops every embedding-bearing training pipeline
runs between ingest and ANN/dedup:

- ``q_feature_scale``  — per-dimension z-score standardization of the
                         embedding column (the scaler fitted on the
                         corpus, applied as a narrow map).
- ``q_embed_meanpool`` — per-label mean vector (class centroids /
                         label prototypes — the pooled representation
                         the kNN-centroid and IVF keys consume).

The reference (GFleishman/dask_stitch) has no vector surface; the
design reuses its one broadcast idiom (local_affine.py:124 ships the
small affines array to every task) — fitted statistics are
index-sized (d rows) and travel to executors as literals, the data
never shuffles for the transform.

Determinism: per-dimension sums accumulate over scaled BIGINTs
(floor(val*1e6+0.5) — engine/queries/util.py convention), so the
fitted statistics are exact integers identical under any partitioning
and both engines derive mu/sigma from them with the same IEEE double
expression. Accumulators stay < 2^53 through the fixture scales
(~5e5 scaled units, squared 2.8e11, x rows); at real corpus scale
promote to DECIMAL(38,0) — same plan shape.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_tables, memo
from ..registry import query
from .util import prod128, rnd, sql_rnd

_S = 1_000_000  # fixed-point scale for embedding values

# zip-unnest: DuckDB zips parallel unnests positionally, giving
# (value, 1-based ordinal) without generate_subscripts
_UNNEST_SQL = """
SELECT vec_id, label,
       unnest(embedding) AS val,
       unnest(range(0, len(embedding))) AS ord
FROM embeddings
"""

_MU_SQL = "(CAST(sv AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0)"
_SIG_SQL = (
    "sqrt(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0"
    f" - {_MU_SQL} * {_MU_SQL})"
)


@query("q_feature_scale", oracle=f"""
WITH x AS ({_UNNEST_SQL}),
s AS (
  SELECT ord, count(*) AS n,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS sv,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT)
             * CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS sq
  FROM x GROUP BY ord),
z AS (
  SELECT vec_id, ord,
         {sql_rnd(f'(CAST(val AS DOUBLE) - {_MU_SQL}) / {_SIG_SQL}', 4)}
             AS zval
  FROM x JOIN s USING (ord))
SELECT vec_id, CAST(ord AS INT) AS pos, zval FROM z
""")
def q_feature_scale(spark, sf):
    """Z-score standardization of the embedding column: fit
    per-dimension mean/std on the corpus, apply as a zero-shuffle
    narrow map.

    Fit: posexplode -> groupBy(dimension) with scaled-BIGINT sums —
    the shuffle carries |partitions| x d partial rows (map-side
    combine), the result is d rows. Those d rows are collected (the
    ONLY driver materialization — index-sized, like the IVF codebook)
    and re-enter the plan as literal arrays, i.e. broadcast-by-plan:
    the transform touches every vector exactly once where it already
    lives. The oracle joins the stats frame instead — bit-identical
    because both engines derive mu/sigma from the same exact integer
    sums with the same double expression.

    The scaled vector is built as an array (the pipeline's working
    shape) and posexploded to (vec_id, pos, zval) rows only for the
    driver compare — array columns have no proven wire-hash parity
    with DuckDB's DOUBLE[], scalars do."""
    e = load_tables(spark, sf)["embeddings"]
    sv = F.floor(F.col("val").cast("double") * _S + F.lit(0.5)) \
        .cast("long")
    # fit: one groupBy on the dimension index
    ex = e.select(F.posexplode("embedding").alias("pos", "val"))
    stats = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(sv).alias("sv"),
        F.sum(sv * sv).alias("sq"),
    ).orderBy("pos").collect()
    import math
    mus, sigs = [], []
    for r in stats:
        mu = r.sv / r.n / 1000000.0
        sigs.append(math.sqrt(r.sq / r.n / 1000000000000.0 - mu * mu))
        mus.append(mu)
    mu_arr = F.array(*[F.lit(m) for m in mus])
    sig_arr = F.array(*[F.lit(s) for s in sigs])
    scaled = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x, i: rnd((x.cast("double")
                              - F.element_at(mu_arr, i + 1))
                             / F.element_at(sig_arr, i + 1), 4),
        ).alias("zvec"),
    )
    return scaled.select(
        "vec_id", F.posexplode("zvec").alias("pos", "zval"))


@query("q_embed_meanpool", oracle=f"""
WITH x AS ({_UNNEST_SQL}),
g AS (
  SELECT label, ord, count(*) AS n,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS sv
  FROM x GROUP BY label, ord)
SELECT label, n AS n_vecs, CAST(ord AS INT) AS pos,
       {sql_rnd(_MU_SQL, 6)} AS mval
FROM g
""")
def q_embed_meanpool(spark, sf):
    """Per-label mean embedding (class centroids): posexplode ->
    groupBy(label, dimension) scaled-BIGINT sums -> reassemble the
    d-vector ordered by dimension.

    Scale: the only shuffle is the (label x d)-keyed aggregate with
    map-side combine — |partitions| x |labels| x d partial rows; the
    reassembly groups |labels| x d rows into |labels| rows
    (sort_array over structs — deterministic, no window). This is the
    training shape for prototype/centroid models and the IVF codebook
    seed; the output is labels-sized, broadcastable downstream."""
    e = load_tables(spark, sf)["embeddings"]
    sv = F.floor(F.col("val").cast("double") * _S + F.lit(0.5)) \
        .cast("long")
    g = (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(sv).alias("sv"))
    )
    m = g.select(
        "label", "n", "pos",
        rnd(F.col("sv").cast("double") / F.col("n").cast("double")
            / 1000000.0, 6).alias("mval"),
    )
    # reassemble the per-label d-vector (the pipeline's working shape:
    # a labels-sized broadcastable centroid frame) ...
    pooled = (
        m.groupBy("label")
        .agg(F.max("n").alias("n_vecs"),
             F.sort_array(F.collect_list(F.struct("pos", "mval")))
             .alias("a"))
        .select("label", "n_vecs",
                F.transform("a", lambda s: s.mval).alias("mean_vec"))
    )
    # ... then posexplode to scalar rows for the driver compare
    # (array wire-hash parity with DuckDB DOUBLE[] is unproven)
    return pooled.select(
        "label", "n_vecs",
        F.posexplode("mean_vec").alias("pos", "mval"))


@query("q_embed_gram", oracle="""
WITH p AS (
  SELECT i.i, j.j,
         CAST(floor(CAST(e.embedding[i.i] AS DOUBLE)
                    * CAST(e.embedding[j.j] AS DOUBLE)
                    * 100000000 + 0.5) AS BIGINT) AS sp
  FROM embeddings e,
       range(1, 65) i(i),
       range(1, 65) j(j)
  WHERE j.j >= i.i AND e.embedding IS NOT NULL)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
       CAST(sum(sp) AS BIGINT) / 100000000 AS g
FROM p GROUP BY i, j
""")
def q_embed_gram(spark, sf):
    """Distributed Gram matrix G = XᵀX of the embedding column — the
    covariance/PCA/whitening precursor every representation-analysis
    pipeline computes. Each task reduces its Arrow batches to ONE
    local d x d partial (a numpy GEMM-shaped reduction, emitted once
    per partition as d(d+1)/2 upper-triangle rows), and the shuffle
    carries only n_partitions * 2080 tiny rows to the final (i, j)
    sum — the map-side-combine discipline of a 100 TB GEMM; the n x d
    data itself never shuffles.

    Determinism: each product of float32 values is EXACT in float64
    (24-bit mantissas), and partials accumulate the scaled BIGINT
    floor(prod * 1e8 + 0.5) — order-independent integer addition, so
    both engines agree bit-for-bit with no quantization guard needed
    (engine/queries/util.py convention). Accumulators stay < 2^53
    at fixture scales; at real corpus scale the same plan promotes
    the partial to DECIMAL(38,0)."""
    e = (load_tables(spark, sf)["embeddings"]
         .select("embedding").filter(F.col("embedding").isNotNull()))
    # one tiny shuffle: n_partitions x 2080 scaled-integer partials
    # merge to the global upper triangle, then the exact final divide
    return (
        gram_partials(e).groupBy("i", "j")
        .agg((F.sum("gs") / F.lit(1e8)).alias("g"))
    )


def gram_partials(e):
    """Frame-level Gram partials over any (embedding) frame: each
    task reduces its Arrow batches to ONE local d x d integer partial
    and emits it as d(d+1)/2 upper-triangle (i, j, gs) rows — the
    caller merges partials with a groupBy sum (partition-count-
    invariance pinned in tests/test_plans_r6.py)."""
    import numpy as np
    import pandas as pd

    def fn(batches):
        G = None
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if G is None:
                G = np.zeros((X.shape[1], X.shape[1]), dtype=np.int64)
            # chunked so the (chunk, d, d) scaled-product tensor stays
            # ~30 MB; the floor() per pair is what makes the partial
            # an exact integer (GEMM would round-then-sum instead)
            for lo in range(0, len(X), 1024):
                C = X[lo:lo + 1024]
                P = np.floor(C[:, :, None] * C[:, None, :] * 1e8 + 0.5)
                G += P.sum(axis=0).astype(np.int64)
        if G is None:
            return
        iu, ju = np.triu_indices(G.shape[0])
        yield pd.DataFrame({
            "i": (iu + 1).astype(np.int32),
            "j": (ju + 1).astype(np.int32),
            "gs": G[iu, ju],
        })

    return e.mapInPandas(fn, "i int, j int, gs long")


def _gram_matrix(spark, sf):
    """Exact integer-scaled Gram matrix collected to the driver —
    d x d = 64 x 64 doubles (the INDEX size of PCA, not the data
    size), computed by the q_embed_gram distributed partial plan and
    memoized."""
    import numpy as np

    def build():
        from ..registry import QUERIES

        rows = QUERIES["q_embed_gram"](spark, sf).collect()
        d = max(r["j"] for r in rows)
        G = np.zeros((d, d))
        for r in rows:
            G[r["i"] - 1, r["j"] - 1] = r["g"]
            G[r["j"] - 1, r["i"] - 1] = r["g"]
        return G

    return memo(spark, sf, "gram", build)


@query("q_embed_pca")  # rows-only: eigendecomposition has no SQL oracle
def q_embed_pca(spark, sf, k: int = 8):
    """PCA projection of the embedding column onto its top-k principal
    directions — the dimensionality-reduction step before clustering /
    visualization / cheap ANN. Composition of already-verified parts:
    the covariance structure comes from the DISTRIBUTED q_embed_gram
    plan (per-partition integer partials, driver sees only the d x d
    matrix), the eigendecomposition runs driver-side on that 64 x 64
    index (LAPACK, microseconds), and the projection ships the (d, k)
    component matrix to executors as a literal-broadcast numpy array
    inside one narrow Arrow map — the corpus never shuffles.

    Sign convention: each component is oriented so its
    largest-magnitude coordinate is positive (eigenvector sign is
    otherwise arbitrary), making the output deterministic across
    LAPACK builds. Rows-only check by design; variance-ordering,
    orthonormality, and monotone reconstruction error are pinned in
    tests/test_ml.py.

    Output shape: the projection is posexploded to scalar
    (vec_id, pos, pval) rows for the driver compare — the repo
    convention (q_feature_scale, vectors.py:116-117): the driver's
    canonicalizer cannot factorize list columns, so top-level array
    columns are banned from registry outputs (pinned in
    tests/test_contract_meta.py)."""
    import numpy as np
    import pandas as pd

    G = _gram_matrix(spark, sf)
    w, V = np.linalg.eigh(G)            # ascending eigenvalues
    comps = V[:, ::-1][:, :k]           # top-k directions, (d, k)
    flips = np.sign(comps[np.abs(comps).argmax(axis=0),
                          np.arange(comps.shape[1])])
    comps = comps * flips               # deterministic orientation
    W = comps.copy()

    e = (load_tables(spark, sf)["embeddings"]
         .select("vec_id", "embedding")
         .filter(F.col("embedding").isNotNull()))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "proj": []})
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            P = X @ W                   # (n, k)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "proj": [np.floor(row * 1e6 + 0.5) / 1e6 for row in P],
            })

    return (e.mapInPandas(fn, "vec_id long, proj array<double>")
            .select("vec_id", F.posexplode("proj").alias("pos", "pval")))


@query("q_embed_whiten")  # rows-only: eigendecomposition has no SQL oracle
def q_embed_whiten(spark, sf):
    """Second-moment whitening of the embedding column: Y = X·V·
    diag((lambda/n)^(-1/2)), so the whitened Gram Y'Y/n is the
    identity — the decorrelation step before metric learning /
    Mahalanobis ANN / feature hashing. Same composition discipline as
    q_embed_pca: the d x d second-moment matrix comes from the
    DISTRIBUTED q_embed_gram partials (driver sees only the index-
    sized matrix), the eigh and scaling run driver-side in
    microseconds, and the whitening transform ships to executors as
    one broadcast (d, d) literal inside a narrow Arrow map — the
    corpus never shuffles. Near-null directions (lambda/n < 1e-12)
    are clipped rather than exploded. Identity-covariance of the
    output is pinned in tests/test_ml.py.

    Output shape: posexploded to scalar (vec_id, pos, wval) rows for
    the driver compare (same convention and rationale as
    q_embed_pca / q_feature_scale — no top-level array columns)."""
    import numpy as np
    import pandas as pd

    G = _gram_matrix(spark, sf)
    # normalize by the NON-NULL row count — the Gram excludes NULL
    # embeddings, so dividing by the raw table count would scale the
    # output covariance by n_total/n_nonnull instead of 1 (memoized
    # beside the gram, same index-sized discipline).
    n = memo(spark, sf, "gram_n", lambda: (
        load_tables(spark, sf)["embeddings"]
        .filter(F.col("embedding").isNotNull()).count()))
    w, V = np.linalg.eigh(G / n)
    w = np.maximum(w, 1e-12)
    flips = np.sign(V[np.abs(V).argmax(axis=0), np.arange(V.shape[1])])
    W = (V * flips) @ np.diag(w ** -0.5)

    e = (load_tables(spark, sf)["embeddings"]
         .select("vec_id", "embedding")
         .filter(F.col("embedding").isNotNull()))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "white": []})
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Y = X @ W
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "white": [np.floor(row * 1e6 + 0.5) / 1e6 for row in Y],
            })

    return (e.mapInPandas(fn, "vec_id long, white array<double>")
            .select("vec_id", F.posexplode("white").alias("pos", "wval")))


# Product-quantization geometry: d=64 split into PQ_M subspaces of
# d/PQ_M dims, PQ_K centroids per subspace (codes fit in 4 bits).
PQ_M = 8
PQ_K = 16


def pq_codebook_path(sf: str, tag: str = "") -> str:
    """Stable artifact location for the PQ codebook — same
    fixture-digest staleness guard as ivf_codebook_path.  ``tag``
    namespaces variants fitted in a transformed space (OPQ)."""
    import hashlib
    import os

    from .util import artifact_root

    p = os.path.join(os.path.abspath(sf), "embeddings.parquet")
    st = os.stat(p)
    digest = hashlib.md5(
        f"{p}|{st.st_size}|{st.st_mtime_ns}|pq{PQ_M}x{PQ_K}|{tag}".encode()
    ).hexdigest()[:12]
    return os.path.join(artifact_root(), f"engine_pq_codebook_{digest}")


def _pq_codebook(spark, sf, rot=None, tag: str = ""):
    """Fit-or-load the product-quantization codebook: per subspace,
    PQ_K Forgy seeds (the sub-vectors of the PQ_K lowest vec_ids)
    refined by ONE distributed Lloyd step. The Lloyd statistics are
    per-partition partials — each task reduces its Arrow batches to
    one (PQ_M, PQ_K, sub_d) scaled-BIGINT sum tensor plus counts and
    emits it as PQ_M*PQ_K*sub_d tiny rows (the q_embed_gram partial
    discipline), so centroids are EXACT integer ratios, identical
    under any partitioning, and the corpus never shuffles. The fitted
    codebook is a persisted parquet artifact (staging + atomic
    rename, the _ivf_codebook idiom) read back as PQ_M*PQ_K rows on
    every later query. Returns C: (PQ_M, PQ_K, sub_d) float64.

    ``rot``: optional (d, d) orthonormal matrix applied to every
    vector before subspace split — the OPQ fit path (the rotation is
    deterministic, so the artifact digest only needs ``tag``)."""
    return memo(spark, sf, ("pq_codebook", tag),
                lambda: _pq_fit_or_load(spark, sf, tag, rot))


def _pq_fit_or_load(spark, sf, tag, rot):
    import os
    import shutil

    import numpy as np
    import pandas as pd

    path = pq_codebook_path(sf, tag)
    if not os.path.exists(path):
        e = (load_tables(spark, sf)["embeddings"]
             .select("vec_id", "embedding")
             .filter(F.col("embedding").isNotNull()))
        seed_rows = (e.orderBy("vec_id").limit(PQ_K)
                     .select("embedding").collect())
        d = len(seed_rows[0]["embedding"])
        sub_d = d // PQ_M
        # (PQ_M, PQ_K, sub_d): subspace s of seed j
        seed_mat = np.stack([
            np.asarray(r["embedding"], dtype=np.float64)
            for r in seed_rows
        ])
        if rot is not None:
            seed_mat = seed_mat @ rot
        seeds = (seed_mat.reshape(-1, PQ_M, sub_d)
                 .transpose(1, 0, 2))
        sb = spark.sparkContext.broadcast(seeds)
        rb = spark.sparkContext.broadcast(rot)

        def partial(batches):
            S = np.zeros((PQ_M, PQ_K, sub_d), dtype=np.int64)
            N = np.zeros((PQ_M, PQ_K), dtype=np.int64)
            Cb = sb.value
            R = rb.value
            got = False
            for pdf in batches:
                if not len(pdf):
                    continue
                got = True
                X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                if R is not None:
                    X = X @ R
                X = X.reshape(-1, PQ_M, sub_d)
                # squared distance to every seed, per subspace
                D = ((X[:, :, None, :] - Cb[None, :, :, :]) ** 2).sum(-1)
                code = D.argmin(axis=2)                # (n, PQ_M)
                Xs = np.floor(X * 1e6 + 0.5).astype(np.int64)
                for s in range(PQ_M):
                    np.add.at(S[s], code[:, s], Xs[:, s, :])
                    np.add.at(N[s], code[:, s], 1)
            if not got:
                return
            sub, cod, dim = np.meshgrid(
                np.arange(PQ_M), np.arange(PQ_K), np.arange(sub_d),
                indexing="ij")
            yield pd.DataFrame({
                "sub": sub.ravel().astype(np.int32),
                "code": cod.ravel().astype(np.int32),
                "dim": dim.ravel().astype(np.int32),
                "s": S.ravel(),
                "cnt": np.repeat(N.ravel(), sub_d),
            })

        merged = (
            e.select("embedding")
            .mapInPandas(partial,
                         "sub int, code int, dim int, s long, cnt long")
            .groupBy("sub", "code", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
        )
        rows = merged.collect()          # PQ_M*PQ_K*sub_d tiny rows
        C = seeds.copy()                 # empty cells keep their seed
        for r in rows:
            if r["cnt"]:
                C[r["sub"], r["code"], r["dim"]] = (
                    r["s"] / r["cnt"] / 1e6)
        cb = pd.DataFrame({
            "sub": np.repeat(np.arange(PQ_M), PQ_K).astype("int32"),
            "code": np.tile(np.arange(PQ_K), PQ_M).astype("int32"),
            "centroid": [C[s, j].tolist()
                         for s in range(PQ_M) for j in range(PQ_K)],
        })
        # per-PROCESS staging dir (see _ivf_codebook): concurrent
        # trainers race only on the atomic rename, never on the
        # in-flight Spark write.
        staging = f"{path}.inprogress.{os.getpid()}"
        shutil.rmtree(staging, ignore_errors=True)
        (spark.createDataFrame(cb).write.mode("overwrite")
         .parquet(staging))
        try:
            os.rename(staging, path)     # atomic publish
        except OSError:                  # concurrent trainer won
            shutil.rmtree(staging, ignore_errors=True)

    rows = spark.read.parquet(path).collect()
    sub_d = len(rows[0]["centroid"])
    C = np.zeros((PQ_M, PQ_K, sub_d))
    for r in rows:
        C[r["sub"], r["code"]] = np.asarray(r["centroid"])
    return C


def _opq_rotation(spark, sf):
    """Deterministic OPQ-lite rotation (Ge et al. 2013's parametric
    initialization): eigenvectors of the distributed Gram matrix
    (sign-fixed like q_embed_pca), with the eigen-dimensions snake-
    assigned to the PQ_M subspaces in descending-eigenvalue order so
    every subspace carries a balanced share of the variance.  Pure
    driver-side d x d algebra over the already-verified q_embed_gram
    partials; memoized."""
    import numpy as np

    def build():
        G = _gram_matrix(spark, sf)
        w, V = np.linalg.eigh(G)
        flips = np.sign(
            V[np.abs(V).argmax(axis=0), np.arange(V.shape[1])])
        V = V * flips
        order = np.argsort(w)[::-1]          # descending variance
        cols: list[list[int]] = [[] for _ in range(PQ_M)]
        for r_i, d_i in enumerate(order):
            blk, pos = divmod(r_i, PQ_M)
            s = pos if blk % 2 == 0 else PQ_M - 1 - pos
            cols[s].append(int(d_i))
        perm = [d_i for s in range(PQ_M) for d_i in cols[s]]
        return np.ascontiguousarray(V[:, perm])

    return memo(spark, sf, "opq_rot", build)


@query("q_embed_opq")  # rows-only: rotated k-means has no SQL oracle
def q_embed_opq(spark, sf):
    """Optimized product quantization (OPQ-lite): vectors are rotated
    by the eigenbasis of the corpus Gram matrix with variance-
    balanced subspace assignment BEFORE the PQ split, so no subspace
    is starved while another saturates — the standard FAISS ``OPQ``
    preprocessing that tightens PQ reconstruction error at identical
    code size.  Same persisted-codebook / broadcast-apply /
    corpus-never-shuffles plan as q_embed_pq; the rotation is a
    deterministic (d, d) literal derived from the distributed Gram
    partials, so the whole operator adds zero data-sized work.
    Output mirrors q_embed_pq (vec_id, sub, code, sq_err);
    tests/test_r6c_properties.py pins the rotation orthonormal and
    the total reconstruction error at-or-below plain PQ's."""
    import numpy as np
    import pandas as pd

    R = _opq_rotation(spark, sf)
    C = _pq_codebook(spark, sf, rot=R, tag="opq")
    sub_d = C.shape[2]
    bc = spark.sparkContext.broadcast(C)
    rb = spark.sparkContext.broadcast(R)

    e = (load_tables(spark, sf)["embeddings"]
         .select("vec_id", "embedding")
         .filter(F.col("embedding").isNotNull()))

    def assign(batches):
        Cb = bc.value
        Rb = rb.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = ((np.stack(pdf["embedding"].to_numpy())
                  .astype(np.float64) @ Rb)
                 .reshape(-1, PQ_M, sub_d))
            D = ((X[:, :, None, :] - Cb[None, :, :, :]) ** 2).sum(-1)
            code = D.argmin(axis=2)                    # (n, PQ_M)
            err = np.take_along_axis(
                D, code[:, :, None], axis=2)[:, :, 0]  # (n, PQ_M)
            n = len(X)
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                "sub": np.tile(np.arange(PQ_M, dtype=np.int32), n),
                "code": code.ravel().astype(np.int32),
                "sq_err": np.floor(err.ravel() * 1e6 + 0.5) / 1e6,
            })

    return e.mapInPandas(
        assign, "vec_id long, sub int, code int, sq_err double")


@query("q_embed_pq")  # rows-only: k-means codebooks have no SQL oracle
def q_embed_pq(spark, sf):
    """Product quantization of the embedding column — the memory
    layout of billion-scale ANN (FAISS-style IVF+PQ): each vector is
    stored as PQ_M 4-bit codes (64 floats → 8 nibbles, 64× smaller),
    each code indexing a per-subspace centroid fitted by
    :func:`_pq_codebook` (distributed exact-integer Lloyd partials,
    persisted artifact). The apply is one narrow Arrow map with the
    (PQ_M, PQ_K, sub_d) codebook broadcast — the corpus never
    shuffles — emitting scalar rows (vec_id, sub, code, sq_err) where
    sq_err is the per-subspace reconstruction error (the quantity PQ
    recall tuning monitors). Monotonicity vs the seed codebook and
    partition invariance are pinned in tests/test_ml.py."""
    import numpy as np
    import pandas as pd

    C = _pq_codebook(spark, sf)
    sub_d = C.shape[2]
    bc = spark.sparkContext.broadcast(C)

    e = (load_tables(spark, sf)["embeddings"]
         .select("vec_id", "embedding")
         .filter(F.col("embedding").isNotNull()))

    def assign(batches):
        Cb = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = (np.stack(pdf["embedding"].to_numpy())
                 .astype(np.float64).reshape(-1, PQ_M, sub_d))
            D = ((X[:, :, None, :] - Cb[None, :, :, :]) ** 2).sum(-1)
            code = D.argmin(axis=2)                    # (n, PQ_M)
            err = np.take_along_axis(
                D, code[:, :, None], axis=2)[:, :, 0]  # (n, PQ_M)
            n = len(X)
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), PQ_M),
                "sub": np.tile(np.arange(PQ_M, dtype=np.int32), n),
                "code": code.ravel().astype(np.int32),
                "sq_err": np.floor(err.ravel() * 1e6 + 0.5) / 1e6,
            })

    return e.mapInPandas(
        assign, "vec_id long, sub int, code int, sq_err double")


@query("q_embed_dim_stats", oracle=f"""
WITH x AS ({_UNNEST_SQL}),
g AS (
  SELECT ord, count(*) AS n,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS sv,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT)
             * CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS sq,
         min(CAST(val AS DOUBLE)) AS vmin,
         max(CAST(val AS DOUBLE)) AS vmax,
         count(*) FILTER (WHERE CAST(floor(CAST(val AS DOUBLE) * {_S}
                                           + 0.5) AS BIGINT) = 0)
             AS n_zero
  FROM x GROUP BY ord)
SELECT CAST(ord AS INT) AS pos, n AS n_vecs,
       {sql_rnd(_MU_SQL, 6)} AS mean_val,
       {sql_rnd(_SIG_SQL, 6)} AS std_val,
       vmin, vmax, n_zero
FROM g
""")
def q_embed_dim_stats(spark, sf):
    """Per-DIMENSION embedding health profile — the table an
    embedding-pipeline operator reads before trusting a new encoder
    drop: for every vector dimension, count, mean, std, min, max and
    the number of (quantized-)zero entries. Dead dimensions
    (n_zero == n_vecs, std 0), exploding dimensions (|vmin|/|vmax|
    outliers) and mean drift between two encoder versions all show up
    here first; downstream whitening/PQ keys assume none of them.

    Same fit lane as q_feature_scale: posexplode -> ONE groupBy on
    the dimension index with map-side partial aggregation — the
    shuffle carries |partitions| x d partial rows, d rows come out,
    and nothing else moves. At 100 TB this is the cheapest full pass
    the embedding table admits (a pure scan + tiny exchange); the
    d-row result is dashboard-sized. Moments accumulate over scaled
    BIGINTs (the engine's exact-sum convention) so mean/std are
    bit-identical across engines and partitionings; min/max are raw
    input floats widened to double (exact in IEEE), and n_zero counts
    quantized-zero cells in the SAME scaled lane the moments use, so
    the three dead-dim signals can never disagree with each other."""
    e = load_tables(spark, sf)["embeddings"]
    ex = e.select(F.posexplode("embedding").alias("pos", "val"))
    sv = F.floor(F.col("val").cast("double") * _S + F.lit(0.5)) \
        .cast("long")
    g = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(sv).alias("sv"),
        F.sum(sv * sv).alias("sq"),
        F.min(F.col("val").cast("double")).alias("vmin"),
        F.max(F.col("val").cast("double")).alias("vmax"),
        F.count(F.when(sv == 0, 1)).alias("n_zero"),
    )
    mu = F.col("sv").cast("double") / F.col("n").cast("double") / 1000000.0
    sig = F.sqrt(F.col("sq").cast("double") / F.col("n").cast("double")
                 / 1000000000000.0 - mu * mu)
    return g.select(
        F.col("pos").cast("int").alias("pos"),
        F.col("n").alias("n_vecs"),
        rnd(mu, 6).alias("mean_val"),
        rnd(sig, 6).alias("std_val"),
        "vmin", "vmax", "n_zero",
    )


@query("q_embed_outlier_vecs", oracle=f"""
WITH n AS (
  SELECT vec_id,
         sum(CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT)
             * CAST(floor(CAST(val AS DOUBLE) * {_S} + 0.5) AS BIGINT))
             AS nsq
  FROM ({_UNNEST_SQL}) GROUP BY vec_id),
s AS (SELECT count(*) AS n, sum(nsq) AS sv,
             sum(nsq * nsq) AS sq
      FROM n),
z AS (
  SELECT vec_id,
         {sql_rnd('CAST(nsq AS DOUBLE) / 1000000000000.0', 6)} AS norm_sq,
         {sql_rnd(
             '(CAST(nsq AS DOUBLE) - CAST(sv AS DOUBLE)'
             ' / CAST(n AS DOUBLE))'
             ' / nullif(sqrt(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)'
             ' - (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))'
             ' * (CAST(sv AS DOUBLE) / CAST(n AS DOUBLE))), 0)',
             4)} AS z
  FROM n CROSS JOIN s)
SELECT vec_id, norm_sq, z,
       coalesce(abs(z) > 2.0, false) AS is_outlier
FROM z
""")
def q_embed_outlier_vecs(spark, sf):
    """Per-VECTOR norm outlier screen — the companion of
    q_embed_dim_stats on the other axis: embeddings whose squared L2
    norm sits more than 2 corpus standard deviations from the mean
    are flagged (truncated inputs, encoder NaN-squashing and
    un-normalized batches all land here; ANN recall quietly degrades
    when they enter the index). Every vector is emitted with its
    quantized norm and z-score so the flag is auditable, not just a
    filtered list.

    Plan: squared norms come from ONE narrow aggregate over the
    array column (per-row work, no explode shuffle — the sum runs
    inside the row); the corpus moments are a 1-row aggregate
    collected as plan literals (the q_dataset_mix side-input
    pattern; the oracle spells the same numbers as a CROSS JOIN of
    its 1-row stats CTE). At 100 TB: one scan, one 1-row exchange,
    zero joins. Determinism: norms accumulate over scaled BIGINTs,
    the z expression is evaluated in the same textual order in both
    engines, and the flag is cut on the QUANTIZED z so the boolean
    can never disagree with the published score."""
    e = load_tables(spark, sf)["embeddings"]
    sv = lambda c: (F.floor(c.cast("double") * _S + F.lit(0.5))  # noqa: E731
                    .cast("long"))
    n = e.select(
        "vec_id",
        F.aggregate(
            "embedding", F.lit(0).cast("long"),
            lambda acc, x: acc + sv(x) * sv(x)).alias("nsq"),
    )
    # nsq ~ 1e13 on the fixtures, so nsq^2 crosses 2^63 per row:
    # the second moment runs in the 128-bit lane (DuckDB widens its
    # BIGINT sum to HUGEINT natively — the q_mann_whitney rule).
    stats = n.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("nsq").alias("sv"),
                  F.sum(prod128(F.col("nsq"), F.col("nsq")))
                  .alias("sq")).collect()[0]
    cnt, svv, sq = stats["n"], stats["sv"], stats["sq"]
    mu = F.lit(float(svv)) / F.lit(float(cnt))
    # zero-variance corpus (e.g. unit-normalized embeddings: every
    # squared norm identical) → sig 0; nullif keeps z NULL and the
    # flag false instead of divide-by-zero NaN/Inf, mirroring the
    # oracle's nullif/coalesce pair
    sig = F.nullif(
        F.sqrt(F.lit(float(sq)) / F.lit(float(cnt)) - mu * mu),
        F.lit(0.0))
    z = rnd((F.col("nsq").cast("double") - mu) / sig, 4)
    return n.select(
        "vec_id",
        rnd(F.col("nsq").cast("double") / 1000000000000.0, 6)
            .alias("norm_sq"),
        z.alias("z"),
        F.coalesce(F.abs(z) > 2.0, F.lit(False)).alias("is_outlier"),
    )
