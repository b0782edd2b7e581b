"""Similarity search over the ``embeddings`` table (array<float> column).

- ``cosine_topk``: brute-force exact baseline — a broadcast of the query
  vector against a single scan; the dot product stays JVM-side via
  ``zip_with``/``aggregate`` (no Python UDF).
- ``hyperplane_buckets`` + ``bucketed_candidates``: deterministic
  random-hyperplane LSH — the scale path: bucket join instead of all-pairs.
  Hyperplane signs derive from md5, so the operator is reproducible across
  engines (oracle-able) and across cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(embeddings: DataFrame, query_id: int = 0, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors of ``query_id`` (excluding itself)."""
    q = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    joined = embeddings.filter(F.col("vec_id") != query_id).crossJoin(
        F.broadcast(q)
    )
    sim = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    return (
        joined.select("vec_id", F.round(sim, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )


def _plane_sign(plane: int, dim: int):
    """Deterministic ±1 weight for (plane, dim): parity of first md5 nibble."""
    h = F.md5(F.concat_ws(":", F.lit("plane"), F.lit(plane), F.lit(dim)))
    val = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    return F.when(val % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def hyperplane_buckets(
    embeddings: DataFrame, n_planes: int = 8, dim: int | None = None
) -> DataFrame:
    """LSH bucket id per vector: sign pattern against n pseudo-hyperplanes.

    Pass ``dim`` (the embedding dimensionality) explicitly — it is a static
    property of the table, and reading it from data would cost a driver-side
    job per call and silently assume uniform dims. The ``None`` fallback
    (one-row peek) exists only for ad-hoc exploration."""
    dims = (
        dim
        if dim is not None
        else embeddings.select(F.size("embedding").alias("d")).first().d
    )
    bits = []
    for p in range(n_planes):
        proj = None
        # signed sum of components — unrolled JVM expression, no shuffle
        expr = F.aggregate(
            F.zip_with(
                F.col("embedding"),
                F.array(*[_plane_sign(p, i) for i in range(dims)]),
                lambda x, s: x.cast("double") * s,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(expr >= 0, "1").otherwise("0"))
    return embeddings.select(
        "vec_id", F.concat(*bits).alias("bucket"), "embedding"
    )


def bucketed_candidates(
    embeddings: DataFrame, n_planes: int = 8, dim: int | None = None
) -> DataFrame:
    """Candidate near-neighbor pairs = same LSH bucket (the O(n²) killer)."""
    b = hyperplane_buckets(embeddings, n_planes, dim=dim)
    a, c = b.alias("a"), b.alias("b")
    return (
        a.join(
            c,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
        )
    )


# ------------------------------------------------------------------ IVF path
def fit_codebook(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 8,
    sample_cap: int = 4096,
) -> DataFrame:
    """Spherical k-means codebook via deterministic sampled Lloyd.

    Strategy for 10^9-vector scale: collect a bounded deterministic sample
    (every ceil(N/sample_cap)-th vec_id — one pruned scan), run Lloyd on
    the driver in numpy (cosine = dot on L2-normalized vectors), broadcast
    the resulting centroids. No randomness anywhere: init takes every
    (S/k)-th sample point, ties break by index, so the codebook is
    reproducible across runs and cluster sizes. For corpora where even the
    SAMPLE can't fit a driver, use :func:`fit_codebook_distributed`
    (``codebook="kmeans_dist"``) — fully distributed Lloyd, no sample cap
    — the consumers (`ivf_assign`/`ivf_search`) only see a (centroid_id,
    centroid) frame either way."""
    import numpy as np

    n = embeddings.count()
    stride = max(1, -(-n // sample_cap))  # ceil
    sample = (
        embeddings.filter(F.col("vec_id") % stride == 0)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    X = np.array([r.embedding for r in sample], dtype=np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_centroids, len(X))
    C = X[:: max(1, len(X) // k)][:k].copy()
    for _ in range(iters):
        sims = X @ C.T  # (S, k)
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.sum(axis=0)
                C[j] = m / max(np.linalg.norm(m), 1e-12)
    spark = embeddings.sparkSession
    rows = [(int(j), [float(v) for v in C[j]]) for j in range(k)]
    return spark.createDataFrame(
        rows, schema="centroid_id int, centroid array<double>"
    )


def fit_codebook_distributed(
    embeddings: DataFrame, n_centroids: int = 16, iters: int = 8
) -> DataFrame:
    """Spherical k-means with FULLY DISTRIBUTED Lloyd iterations — the
    production path behind the `fit_codebook` driver-sample seam.

    - init: the k vectors with the smallest md5(vec_id) — a deterministic
      uniform pseudo-random seeding, one TakeOrdered, no RNG state;
    - assign: one Arrow-batched pandas UDF per iteration computing
      argmax-cosine against the broadcast (k × dim, tiny) centroids and
      emitting PER-BATCH partial sums — k rows per batch, never a
      per-vector shuffle;
    - update: posexplode the k partial-sum vectors (k × dim slim rows)
      → groupBy (cell, dim) sum → collect k×dim scalars → renormalize
      on the driver. Per iteration the driver holds k×dim doubles and
      the cluster shuffles k×dim×batches rows — independent of corpus
      size. Empty cells keep their previous centroid.

    Deterministic up to floating-point reduction order (the standard
    distributed-k-means caveat); quality and convergence are pinned in
    tests/test_ann_kmeans.py rather than bit equality."""
    import numpy as np
    from typing import Iterator

    import pandas as pd

    k = n_centroids
    seed_rows = (
        embeddings.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(k)
        .select("embedding")
        .collect()
    )
    C = np.array([r.embedding for r in seed_rows], dtype=np.float64)
    C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    dim = C.shape[1]
    for _ in range(iters):
        C_cur = C.copy()

        def partials(batches: "Iterator[pd.DataFrame]"):
            for b in batches:
                X = np.array(list(b["embedding"]), dtype=np.float64)
                Xn = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-12
                )
                assign = (Xn @ C_cur.T).argmax(axis=1)
                rows = []
                for j in range(len(C_cur)):
                    members = Xn[assign == j]
                    if len(members):
                        rows.append(
                            (int(j), [float(v) for v in members.sum(axis=0)],
                             int(len(members)))
                        )
                yield pd.DataFrame(rows, columns=["cell", "vsum", "cnt"])

        stats = (
            embeddings.select("embedding")
            .mapInPandas(
                partials, schema="cell int, vsum array<double>, cnt long"
            )
            .select("cell", F.posexplode("vsum").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"))
            .collect()
        )
        newC = C.copy()
        acc = np.zeros((k, dim))
        seen = set()
        for r in stats:
            acc[r["cell"], r["pos"]] = r["s"]
            seen.add(r["cell"])
        for j in seen:
            n = np.linalg.norm(acc[j])
            if n > 1e-12:
                newC[j] = acc[j] / n
        C = newC
    rows = [(int(j), [float(v) for v in C[j]]) for j in range(k)]
    return embeddings.sparkSession.createDataFrame(
        rows, schema="centroid_id int, centroid array<double>"
    )


def _centroids(embeddings: DataFrame, n_centroids: int, codebook: str) -> DataFrame:
    if codebook == "kmeans_dist":
        return fit_codebook_distributed(embeddings, n_centroids)
    if codebook == "kmeans":
        return fit_codebook(embeddings, n_centroids)
    # "seeded": the embedding of vec_id < n_centroids — weaker cells but
    # exactly reproducible in the DuckDB value oracle
    return embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid"),
    )


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    codebook: str = "seeded",
    cents: "DataFrame | None" = None,
) -> DataFrame:
    """IVF cell assignment: cell = argmax cosine against the codebook
    ("seeded" = oracle-reproducible first-N vectors; "kmeans" = sampled
    Lloyd fit, see fit_codebook). Pass ``cents`` to reuse an already-fit
    codebook. Broadcast centroids; ranking via window, all JVM-side."""
    from pyspark.sql.window import Window

    if cents is None:
        cents = _centroids(embeddings, n_centroids, codebook)
    sim = _dot(F.col("embedding"), F.col("centroid")) / (
        _norm(F.col("embedding")) * _norm(F.col("centroid"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    return (
        embeddings.crossJoin(F.broadcast(cents))
        .withColumn("sim", F.round(sim, 4))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id", F.col("sim").alias("centroid_sim"))
    )


def ivf_search(
    embeddings: DataFrame,
    query_id: int = 0,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    codebook: str = "seeded",
) -> DataFrame:
    """IVF top-k: probe only the nprobe cells nearest the query, brute-force
    within them. At 10^9 vectors this scans ~nprobe/n_centroids of the data
    instead of all of it; the probed subset is an equi-join on cell id."""
    cents = _centroids(embeddings, n_centroids, codebook)
    assign = ivf_assign(embeddings, n_centroids, cents=cents)
    q = embeddings.filter(F.col("vec_id") == query_id).select(
        F.col("embedding").alias("q")
    )
    qsim = _dot(F.col("centroid"), F.col("q")) / (
        _norm(F.col("centroid")) * _norm(F.col("q"))
    )
    probed = (
        cents.crossJoin(F.broadcast(q))
        .withColumn("qsim", F.round(qsim, 6))
        .orderBy(F.col("qsim").desc(), F.col("centroid_id"))
        .limit(nprobe)
        .select("centroid_id")
    )
    cand = (
        assign.join(F.broadcast(probed), "centroid_id")
        .filter(F.col("vec_id") != query_id)
        .join(embeddings, "vec_id")
        .crossJoin(F.broadcast(q))
    )
    sim = _dot(F.col("embedding"), F.col("q")) / (
        _norm(F.col("embedding")) * _norm(F.col("q"))
    )
    return (
        cand.select("vec_id", F.round(sim, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(k)
    )
