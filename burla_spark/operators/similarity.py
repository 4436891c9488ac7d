"""Similarity search over embedding columns (SURVEY.md §2.C).

Two tiers:
* ``cosine_topk`` — exact brute-force top-k. The query set broadcasts;
  the corpus streams through one codegen'd projection + per-query
  top-k (window row_number). Right-sized when |queries| is small —
  the corpus is scanned once regardless of corpus size.
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH maps
  every vector to a signature; candidates come from an equi-join on
  (plane-bucket) instead of a cross product, then exact re-rank.
  Deterministic ±1 projections (Python-seeded literal sign arrays,
  embedded in the plan) keep results reproducible across runs and
  cluster sizes with zero per-row hashing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from burla_spark.functions.vectors import cosine_similarity


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    Output: (query_id, neighbor_id, rank, sim). Rank has a unique total
    order (sim desc, neighbor id asc)."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    )
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cvec")
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k — the standard
    post-retrieval pass of a RAG pipeline: greedily select documents
    by ``lam * sim(q, d) - (1 - lam) * max sim(d, already_selected)``
    so the k results cover the query instead of repeating its nearest
    cluster. ``lam=1`` degenerates to plain cosine top-k (tested
    exactly).

    100 TB shape: stage 1 is whatever retrieval runs anyway (here the
    exact cosine pool; swap in IVF-PQ at scale) producing ``pool``
    candidates per query; the inherently sequential greedy loop runs
    per-QUERY in applyInPandas — each group is a pool-sized pandas
    frame (tiny), and queries parallelize across the cluster. No
    corpus-scale Python ever."""
    import pandas as pd

    candidates = cosine_topk(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec, k=pool
    )
    vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cvec")
    )
    pool_df = candidates.join(vecs, "neighbor_id").select(
        "query_id", "neighbor_id", "sim", "__cvec"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        mat = _norm_rows(np.array(pdf["__cvec"].to_list(), dtype=np.float64))
        sims = pdf["sim"].to_numpy(dtype=np.float64)
        ids = pdf["neighbor_id"].to_numpy()
        # deterministic processing order regardless of arrow batch order
        order = np.lexsort((ids, -sims))
        mat, sims, ids = mat[order], sims[order], ids[order]
        n = len(ids)
        selected: list[int] = []
        max_to_sel = np.full(n, -1.0)
        out = []
        for rank in range(1, min(k, n) + 1):
            if selected:
                score = lam * sims - (1.0 - lam) * max_to_sel
            else:
                score = sims.copy()
            score[selected] = -np.inf
            # unique total order: score desc, neighbor_id asc (the
            # lexsort above makes argmax's first-wins = id asc on ties)
            best = int(np.argmax(score))
            selected.append(best)
            out.append(
                {
                    "query_id": int(pdf["query_id"].iloc[0]),
                    "neighbor_id": int(ids[best]),
                    "rank": rank,
                    "sim": float(sims[best]),
                }
            )
            max_to_sel = np.maximum(max_to_sel, mat @ mat[best])
        return pd.DataFrame(out)

    return (
        pool_df.groupBy("query_id")
        .applyInPandas(greedy, "query_id long, neighbor_id long, rank long, sim double")
        .orderBy("query_id", "rank")
    )


def _plane_signs(p: int, table: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane for (table, plane) — generated in
    Python (seeded), embedded as a literal array so the executor does
    64 multiply-adds per plane instead of 64 hash calls."""
    import random

    rng = random.Random((table << 16) | p)
    return [1.0 if rng.random() < 0.5 else -1.0 for _ in range(dim)]


def _lsh_bucket_udf(num_planes: int, num_tables: int, dim: int):
    """Vectorized multi-table bucket computation: one numpy matmul per
    Arrow batch ((B×dim) @ (dim×tables·planes)) — the dense-linear-
    algebra case where a pandas_udf beats any Catalyst expression tree.
    Returns array<long> of per-table buckets."""
    from pyspark.sql.functions import pandas_udf

    S = np.array(
        [
            _plane_signs(p, t, dim)
            for t in range(num_tables)
            for p in range(num_planes)
        ]
    ).T  # dim × (tables·planes)
    weights = np.array([1 << p for p in range(num_planes)], dtype=np.int64)

    @pandas_udf("array<long>")
    def buckets(col: pd.Series) -> pd.Series:
        X = np.vstack(col.values).astype(np.float64)  # B × dim
        bits = (X @ S) > 0  # B × tables·planes
        per_table = bits.reshape(len(X), num_tables, num_planes) @ weights
        return pd.Series(list(per_table))

    return buckets


def _with_table_buckets(df: DataFrame, vec_col: str, num_planes: int, num_tables: int, dim: int) -> DataFrame:
    """Explode a vector column into (table, bucket) candidate keys.
    NULL vectors have no buckets (and would crash the numpy matmul).

    NOTE: first-collision emission (admit a pair only from its first
    colliding table, as interval_overlap_join does per-bucket) was
    A/B-measured HERE and LOST (~60% slower): the predicate needs
    per-row array slice/zip allocations over the full join fanout,
    while dropDuplicates already partial-aggregates map-side so the
    dedup shuffle is small. The trick only pays when the first-bucket
    predicate is scalar arithmetic."""
    udf = _lsh_bucket_udf(num_planes, num_tables, dim)
    return df.filter(F.col(vec_col).isNotNull()).select(
        "*", F.posexplode(udf(F.col(vec_col))).alias("__table", "__bucket")
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates share a (table, bucket) LSH key
    with the query in ANY of num_tables independent plane sets (equi-
    join on the key — shuffle-friendly, never a cross product), then
    exact cosine re-rank.

    Tuning: recall ≈ 1-(1-p^num_planes)^num_tables (p = collision
    probability per plane); raise num_tables for recall, num_planes
    for selectivity."""
    q = _with_table_buckets(
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
        ),
        "__qvec", num_planes, num_tables, dim,
    )
    c = _with_table_buckets(
        corpus.select(
            F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cvec")
        ),
        "__cvec", num_planes, num_tables, dim,
    )
    pairs = (
        c.join(q, ["__table", "__bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def _normed(vec):
    # zero vectors map to zeros, not NaNs: a NaN feature row aborts the
    # whole MLlib fit (ArithmeticException), and real corpora do
    # contain zero embeddings (failed upstream encoders).
    norm = F.sqrt(
        F.aggregate(
            vec, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    safe = F.when(norm == 0.0, F.lit(1.0)).otherwise(norm)
    return F.transform(vec, lambda x: x.cast("double") / safe)


class IvfIndex:
    """A built inverted-file index: the (tiny) centroid table plus the
    cell-assigned corpus, both decoupled from the build pipeline.

    Build once, query many — at 100 TB the KMeans fit + cell assignment
    is a one-time indexing job whose output lives in a table; re-running
    it inside every query (as rounds 1-2 did) re-pays the whole fit per
    lookup."""

    def __init__(self, centroids: list[list[float]], inverted: DataFrame):
        self.centroids = centroids  # n_clusters × dim (driver-side, tiny)
        self.inverted = inverted  # (neighbor_id, __cvec, __cell)


def _lloyds(sample: np.ndarray, k: int, seed: int, max_iter: int) -> np.ndarray:
    """k-means++ init + Lloyd's on a driver-side sample. A 100k × dim
    float64 block is ~50 MB at dim=64 and each iteration is one
    (n × k) matmul — milliseconds where the round-3 MLlib fit paid JVM
    vector conversion plus a distributed scan per iteration for the
    same bounded sample. Duplicate points and empty cells are fine
    (an empty cell keeps its centroid), unlike MLlib's distinct<k
    abort."""
    rng = np.random.default_rng(seed)
    n = sample.shape[0]
    k = max(1, min(k, n))
    centers = np.empty((k, sample.shape[1]), dtype=np.float64)
    centers[0] = sample[rng.integers(n)]
    d2 = np.sum((sample - centers[0]) ** 2, axis=1)
    for i in range(1, k):
        total = d2.sum()
        idx = rng.choice(n, p=d2 / total) if total > 0 else rng.integers(n)
        centers[i] = sample[idx]
        d2 = np.minimum(d2, np.sum((sample - centers[i]) ** 2, axis=1))
    for _ in range(max_iter):
        # nearest center by argmin ||x-c||² = argmin |c|² - 2 x·c
        # (|x|² is constant per row)
        assign = np.argmin(
            np.sum(centers * centers, axis=1)[None, :] - 2.0 * (sample @ centers.T),
            axis=1,
        )
        new = centers.copy()
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def _norm_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0  # zero vectors stay zero, not NaN
    return mat / norms


def _fit_sample(
    c: DataFrame, fit_sample_rows: int, min_rows: int, seed: int
) -> tuple["np.ndarray | None", int | None]:
    """Bounded driver-side fit sample shared by the IVF and PQ builds.

    Probe with a LIMIT first: if the whole corpus fits in the sample
    budget (every test/bench corpus does), that one early-terminating
    job IS the fit set and the count + uniform-sample scans are
    skipped entirely. Only a corpus larger than the budget pays for
    the count that sizes a uniform sample fraction (limit rows are
    scan-order-biased — fine as a fits-entirely fast path, not as a
    sample of a 100 TB table).

    Returns (normalized sample matrix | None for an empty corpus,
    known_n — the exact corpus size when the probe proved it small,
    else None)."""
    probe = c.select("__cvec").limit(fit_sample_rows + 1).toPandas()["__cvec"]
    if len(probe) == 0:
        return None, None
    known_n: int | None = None
    if len(probe) <= fit_sample_rows:
        vectors = probe
        known_n = len(probe)
    else:
        n = c.count()
        frac = max(fit_sample_rows, min_rows) / n
        feats = c.select("__cvec")
        if frac < 1.0:
            feats = feats.sample(fraction=frac, seed=seed)
        vectors = feats.toPandas()["__cvec"]
    return _norm_rows(np.array(vectors.to_list(), dtype=np.float64)), known_n


def _sized_output(assigned: DataFrame, known_n: int | None) -> DataFrame:
    # a probe-proven-small corpus writes ~500k-row files instead of one
    # near-empty part file per input partition (32 tasks for 2000 rows)
    if known_n is not None:
        return assigned.coalesce(max(1, known_n // 500_000 + 1))
    return assigned


def _stable_argmin(scores: np.ndarray) -> np.ndarray:
    """Row-wise argmin on 6-dp-ROUNDED scores — np.argmin's first-wins
    breaks rounded ties to the smaller index, exactly the
    (ROUND(score, 6), id ASC) rule the SQL oracles use, so assignments
    are stable across engines and float accumulation orders (the same
    ULP discipline as plans/ann_oracle.py's Catalyst argmins)."""
    return np.argmin(np.round(scores, 6), axis=1)


def build_ivf_index(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_sample_rows: int = 100_000,
    centroids: "list[list[float]] | None" = None,
) -> IvfIndex:
    """Fit the IVF routing structure and materialize the inverted file.

    The fit runs on a bounded SAMPLE of the corpus
    (``fit_sample_rows``) — routing cells only need to capture the
    density shape, exactness comes from the re-rank, and a fixed-size
    sample keeps the fit O(1) in corpus size. The sample is collected
    to the driver and clustered with a numpy Lloyd's (see
    :func:`_lloyds` — the bounded collect is the point: the fit is
    driver-local no matter the corpus size). Cell assignment then
    scans the full corpus ONCE through a vectorized pandas UDF (one
    numpy matmul per Arrow batch) and the inverted file is spilled to
    a session-temp parquet (the local twin of writing the index to a
    table), so nothing stays pinned and later queries read the
    assignment instead of recomputing it.

    ``centroids`` (driver-adjudication mode, round 11) skips the fit
    and pins the routing structure to caller-supplied vectors (in
    NORMALIZED space, like the fit's output) — with pinned centroids
    every downstream stage is deterministic and SQL-replayable."""
    from burla_spark.operators.dedup import _spill_to_temp_parquet

    c = corpus.filter(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cvec"),
    )
    if centroids is not None:
        if len(centroids) == 0:
            # pinned mode on an empty corpus (the pinned vectors are
            # data-derived) → same empty-index path as the trained fit
            empty = c.withColumn("__cell", F.lit(0).cast("int"))
            return IvfIndex([], empty)
        centers = np.array(centroids, dtype=np.float64)
        known_n = None
    else:
        sample, known_n = _fit_sample(c, fit_sample_rows, n_clusters * 10, seed)
        if sample is None:
            # empty corpus → empty index (queries then return zero rows)
            empty = c.withColumn("__cell", F.lit(0).cast("int"))
            return IvfIndex([], empty)
        n_clusters = max(1, min(n_clusters, sample.shape[0]))
        centers = _lloyds(sample, n_clusters, seed, max_iter)
    c2 = np.sum(centers * centers, axis=1)

    # Assignment kernel: argmin(|c|² - 2 x·c) as one numpy matmul per
    # Arrow batch against the closure-shipped k × dim centroid block.
    # Measured against a JVM expression-tree variant (unrolled literal
    # folds): the matmul wins ~1.5× even at k=16, dim=64 — this is the
    # canonical vectorized-Python-beats-expressions kernel. The argmin
    # runs on rounded scores (_stable_argmin) so cell membership is
    # partition- and engine-stable.
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("int")
    def cell_of(vecs: pd.Series) -> pd.Series:
        block = _norm_rows(np.array(vecs.to_list(), dtype=np.float64))
        return pd.Series(
            _stable_argmin(c2[None, :] - 2.0 * (block @ centers.T)).astype(
                np.int32
            )
        )

    assigned = _sized_output(
        c.withColumn("__cell", cell_of(F.col("__cvec"))), known_n
    )
    inverted = _spill_to_temp_parquet(assigned, "ivf_inverted")
    return IvfIndex([[float(x) for x in ctr] for ctr in centers], inverted)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame | None,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    max_iter: int = 8,
    index: IvfIndex | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the learned-partition
    scale path, complementing the data-independent LSH one.

    Build (see :func:`build_ivf_index`, reused when ``index`` is
    passed): L2-normalize vectors, KMeans a corpus sample into
    n_clusters cells (normalized euclidean ≈ cosine order), invert
    corpus rows by cell id. Search: each query probes its n_probe
    nearest centroids (rank against a broadcast n_clusters-row centroid
    table), candidates come from an equi-join on the cell id, then
    exact cosine re-rank.

    At scale: the corpus shuffles once on cell id AT BUILD TIME; per-
    query candidate work is ~n_probe/n_clusters of the corpus instead
    of all of it, and the centroid table stays tiny (n_clusters × dim)
    no matter how big the corpus grows — raise n_clusters with corpus
    size (√N rule). Centroids are seeded but float-accumulation-order
    dependent, so results are reproducible per session, not hash-stable
    across partitionings (rows-only check; recall asserted in tests).
    """
    if index is None:
        if corpus is None:
            raise ValueError("pass either corpus or a prebuilt index")
        index = build_ivf_index(
            corpus, corpus_id, corpus_vec, n_clusters, seed, max_iter
        )
    inverted = index.inverted

    centroids = queries.sparkSession.createDataFrame(
        [(i, ctr) for i, ctr in enumerate(index.centroids)],
        "__cell int, __centroid array<double>",
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
    ).withColumn("__qnorm", _normed(F.col("__qvec")))
    # probe ranking on the ROUNDED centroid dot (6 dp, cell-id tiebreak)
    # — the same engine-stability discipline as the assignment argmin
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__cdot"), 6)), F.asc("__cell")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn(
            "__cdot",
            F.aggregate(
                F.zip_with(F.col("__qnorm"), F.col("__centroid"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("__probe_rank", F.row_number().over(probe_w))
        .filter(F.col("__probe_rank") <= n_probe)
        .select("query_id", "__qvec", "__cell")
    )

    scored = (
        inverted.join(probes, "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


class PqIndex:
    """A built product-quantization index: the (tiny) per-subspace
    codebooks plus the encoded corpus — m smallint codes per vector
    instead of dim floats (dim=64 float32 → 256 B becomes m=8 codes →
    8 B: 32× less to scan/cache, the reason PQ is the 100 TB ANN
    memory story).

    Build once, query many — same contract as :class:`IvfIndex`: the
    fit is driver-local on a bounded sample, the encode is a one-time
    full scan spilled to a table, and every query reads codes only."""

    def __init__(self, codebooks: np.ndarray, codes: DataFrame):
        self.codebooks = codebooks  # m × ksub × dsub (driver-side, tiny)
        self.codes = codes  # (neighbor_id, __code array<smallint>)


def build_pq_index(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    dim: int = 64,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_sample_rows: int = 100_000,
    codebooks: "np.ndarray | None" = None,
) -> PqIndex:
    """Fit per-subspace codebooks and encode the corpus.

    Vectors are L2-normalized (so dot == cosine downstream), split
    into ``n_subspaces`` contiguous blocks, and each block is
    clustered independently with the same bounded-sample driver-local
    Lloyd's the IVF build uses — ``n_subspaces`` tiny fits instead of
    one, O(1) in corpus size. Encoding scans the corpus ONCE through
    a vectorized pandas UDF (one argmin-matmul per subspace per Arrow
    batch) and spills the code table to session-temp parquet."""
    from burla_spark.operators.dedup import _spill_to_temp_parquet

    if dim % n_subspaces:
        raise ValueError(f"dim={dim} not divisible by n_subspaces={n_subspaces}")
    dsub = dim // n_subspaces
    c = corpus.filter(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cvec"),
    )
    if codebooks is not None:
        # driver-adjudication mode (round 11): caller-pinned codebooks
        # (normalized space) — the k-means fit was the one non-SQL stage
        if len(codebooks[0]) == 0:
            # pinned mode on an empty corpus (pinned books are data-
            # derived) → same empty-index path as the trained fit, so
            # the encode UDF is never handed a zero-codeword argmin.
            # Enforce the precondition (ADVICE r12): zero-codeword
            # books with a NON-empty corpus would silently emit empty
            # code arrays and wrong pq_topk results — fail loudly
            # instead. limit(1).count() is a bounded probe.
            if c.limit(1).count() > 0:
                raise ValueError(
                    "build_pq_index: pinned codebooks have zero "
                    "codewords but the corpus is non-empty — pinned "
                    "books must be derived from the same corpus"
                )
            empty = c.withColumn(
                "__code", F.array().cast("array<smallint>")
            ).select("neighbor_id", "__code")
            return PqIndex(np.zeros((n_subspaces, 1, dsub)), empty)
        books = np.array(codebooks, dtype=np.float64)
        known_n = None
    else:
        sample, known_n = _fit_sample(c, fit_sample_rows, n_codes * 10, seed)
        if sample is None:
            empty = c.withColumn(
                "__code", F.array().cast("array<smallint>")
            ).select("neighbor_id", "__code")
            return PqIndex(np.zeros((n_subspaces, 1, dsub)), empty)
        n_codes = max(1, min(n_codes, sample.shape[0]))
        books = np.stack(
            [
                _lloyds(
                    sample[:, m * dsub : (m + 1) * dsub], n_codes, seed + m, max_iter
                )
                for m in range(n_subspaces)
            ]
        )  # m × ksub × dsub
    b2 = np.sum(books * books, axis=2)  # m × ksub

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<smallint>")
    def encode(vecs: pd.Series) -> pd.Series:
        block = _norm_rows(np.array(vecs.to_list(), dtype=np.float64))
        codes = np.empty((len(block), n_subspaces), dtype=np.int16)
        for m in range(n_subspaces):
            sub = block[:, m * dsub : (m + 1) * dsub]
            codes[:, m] = _stable_argmin(
                b2[m][None, :] - 2.0 * (sub @ books[m].T)
            )
        return pd.Series(list(codes))

    encoded = _sized_output(
        c.select("neighbor_id", encode(F.col("__cvec")).alias("__code")), known_n
    )
    codes = _spill_to_temp_parquet(encoded, "pq_codes")
    return PqIndex(books, codes)


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    refine: int = 4,
    index: PqIndex | None = None,
    **build_kwargs,
) -> DataFrame:
    """Product-quantization approximate top-k with asymmetric distance
    (ADC) + exact re-rank — the compressed-domain ANN path next to LSH
    (random planes) and IVF (learned cells).

    Search: each query precomputes a lookup table of
    dot(q_subvector, codeword) per (subspace, code) — an m × ksub
    block, built by one tiny pandas-UDF pass over the QUERY set only.
    The corpus-scale scan is then pure JVM expression work: ADC score
    = sum over subspaces of lut[m][code[m]] via zip_with + aggregate
    over the broadcast LUTs — no Python, no vector decode, codes-only
    I/O. The top ``refine * k`` ADC candidates per query are re-ranked
    exactly against the true vectors (candidate-sized join, not
    corpus-sized).

    At scale: the scan reads m smallints per corpus row instead of dim
    floats; the only shuffle is the per-query top-k window over ADC
    survivors. Codebooks are float-order dependent like IVF centroids
    → rows-only check; recall vs brute force asserted in tests."""
    if index is None:
        index = build_pq_index(corpus, corpus_id, corpus_vec, **build_kwargs)
    books = index.codebooks  # m × ksub × dsub
    n_subspaces, _, dsub = books.shape

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<array<double>>")
    def lut_of(vecs: pd.Series) -> pd.Series:
        block = _norm_rows(np.array(vecs.to_list(), dtype=np.float64))
        out = []
        for row in block:
            out.append(
                [
                    list(books[m] @ row[m * dsub : (m + 1) * dsub])
                    for m in range(n_subspaces)
                ]
            )
        return pd.Series(out)

    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qvec"),
    ).withColumn("__lut", lut_of(F.col("__qvec")))

    adc = (
        index.codes.crossJoin(F.broadcast(q.select("query_id", "__lut")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.aggregate(
                F.zip_with(
                    F.col("__code"),
                    F.col("__lut"),
                    lambda code, row: F.element_at(row, code.cast("int") + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("__adc"),
        )
    )
    # candidate cut on the ROUNDED ADC (6 dp, id tiebreak): the cut at
    # refine·k must select the same survivors in any engine/partitioning
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__adc"), 6)), F.asc("neighbor_id")
    )
    candidates = (
        adc.withColumn("__adc_rank", F.row_number().over(w))
        .filter(F.col("__adc_rank") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cvec")
    )
    scored = (
        candidates.join(vecs, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qvec")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


class IvfPqIndex:
    """The composed production index (FAISS's IndexIVFPQ): a coarse
    inverted file for pruning plus product-quantized RESIDUALS for
    compressed-domain scoring inside the probed cells. One scan builds
    it; queries touch ~n_probe/n_cells of the corpus AND read only m
    smallints per row — the two scale levers multiplied."""

    def __init__(
        self, centroids: np.ndarray, codebooks: np.ndarray, codes: DataFrame
    ):
        self.centroids = centroids  # n_cells × dim (driver-side, tiny)
        self.codebooks = codebooks  # m × ksub × dsub (residual-space)
        self.codes = codes  # (neighbor_id, __cell, __code)


def build_ivfpq_index(
    corpus: DataFrame,
    corpus_id: str,
    corpus_vec: str,
    dim: int = 64,
    n_cells: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    fit_sample_rows: int = 100_000,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
) -> IvfPqIndex:
    """Fit coarse centroids, then PQ codebooks on the RESIDUALS
    (vector minus its assigned centroid — residuals are what remains
    after the coarse quantizer explains the cell structure, so the
    same code budget buys much finer resolution than PQ over raw
    vectors; codebooks are shared across cells, as in FAISS). Both
    fits run on the one bounded driver-side sample; the corpus is
    scanned ONCE by a pandas UDF that assigns the cell, subtracts the
    centroid, and encodes the residual per subspace — then the
    (cell, codes) table spills to session-temp parquet."""
    from burla_spark.operators.dedup import _spill_to_temp_parquet

    if dim % n_subspaces:
        raise ValueError(f"dim={dim} not divisible by n_subspaces={n_subspaces}")
    dsub = dim // n_subspaces
    c = corpus.filter(F.col(corpus_vec).isNotNull()).select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("__cvec"),
    )
    if centroids is not None and codebooks is not None:
        # driver-adjudication mode (round 11): both fits pinned — the
        # assignment/encode/probe/ADC machinery is then SQL-replayable
        if len(centroids) == 0:
            # pinned mode on an empty corpus (pinned structures are
            # data-derived) → trained path's empty-index shape
            empty = c.select(
                "neighbor_id",
                F.lit(0).cast("int").alias("__cell"),
                F.array().cast("array<smallint>").alias("__code"),
            )
            return IvfPqIndex(
                np.zeros((1, dim)), np.zeros((n_subspaces, 1, dsub)), empty
            )
        centers = np.array(centroids, dtype=np.float64)
        books = np.array(codebooks, dtype=np.float64)
        c2 = np.sum(centers * centers, axis=1)
        known_n = None
    else:
        sample, known_n = _fit_sample(c, fit_sample_rows, n_cells * 10, seed)
        if sample is None:
            empty = c.select(
                "neighbor_id",
                F.lit(0).cast("int").alias("__cell"),
                F.array().cast("array<smallint>").alias("__code"),
            )
            return IvfPqIndex(
                np.zeros((1, dim)), np.zeros((n_subspaces, 1, dsub)), empty
            )
        n_cells = max(1, min(n_cells, sample.shape[0]))
        centers = _lloyds(sample, n_cells, seed, max_iter)
        c2 = np.sum(centers * centers, axis=1)
        assign = _stable_argmin(c2[None, :] - 2.0 * (sample @ centers.T))
        residuals = sample - centers[assign]
        n_codes = max(1, min(n_codes, sample.shape[0]))
        books = np.stack(
            [
                _lloyds(
                    residuals[:, m * dsub : (m + 1) * dsub], n_codes, seed + m, max_iter
                )
                for m in range(n_subspaces)
            ]
        )
    b2 = np.sum(books * books, axis=2)  # m × ksub

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("__cell int, __code array<smallint>")
    def encode(vecs: pd.Series) -> pd.DataFrame:
        block = _norm_rows(np.array(vecs.to_list(), dtype=np.float64))
        cells = _stable_argmin(c2[None, :] - 2.0 * (block @ centers.T))
        res = block - centers[cells]
        codes = np.empty((len(block), n_subspaces), dtype=np.int16)
        for m in range(n_subspaces):
            sub = res[:, m * dsub : (m + 1) * dsub]
            codes[:, m] = _stable_argmin(
                b2[m][None, :] - 2.0 * (sub @ books[m].T)
            )
        return pd.DataFrame(
            {"__cell": cells.astype(np.int32), "__code": list(codes)}
        )

    encoded = _sized_output(
        c.select(
            "neighbor_id", encode(F.col("__cvec")).alias("__enc")
        ).select("neighbor_id", "__enc.__cell", "__enc.__code"),
        known_n,
    )
    codes = _spill_to_temp_parquet(encoded, "ivfpq_codes")
    return IvfPqIndex(centers, books, codes)


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    n_probe: int = 4,
    refine: int = 4,
    index: IvfPqIndex | None = None,
    **build_kwargs,
) -> DataFrame:
    """IVF-PQ approximate top-k: probe the n_probe nearest cells, ADC
    over residual codes INSIDE those cells only, exact re-rank of the
    survivors.

    Scoring decomposes exactly: dot(q, x) ≈ dot(q, centroid_cell) +
    Σ_m lut[m][code_m], where the LUT is dot(q-subvector, codeword)
    over RESIDUAL codebooks — computed once per query (it does not
    depend on the cell), so the corpus-side scan is pure JVM
    expression work on an EQUI-join against the probed cells (the
    pruning PQ alone doesn't have) reading only m smallints per row
    (the compression IVF alone doesn't have). Rows-only check
    (float-order-dependent codebooks); recall asserted in tests."""
    if index is None:
        index = build_ivfpq_index(corpus, corpus_id, corpus_vec, **build_kwargs)
    books = index.codebooks
    centers = index.centroids
    n_subspaces, _, dsub = books.shape
    spark = queries.sparkSession

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<array<double>>")
    def lut_of(vecs: pd.Series) -> pd.Series:
        block = _norm_rows(np.array(vecs.to_list(), dtype=np.float64))
        out = []
        for row in block:
            out.append(
                [
                    list(books[m] @ row[m * dsub : (m + 1) * dsub])
                    for m in range(n_subspaces)
                ]
            )
        return pd.Series(out)

    centroid_rows = spark.createDataFrame(
        [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centers)],
        "__cell int, __centroid array<double>",
    )
    q = (
        queries.select(
            F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qvec")
        )
        .withColumn("__qnorm", _normed(F.col("__qvec")))
        .withColumn("__lut", lut_of(F.col("__qvec")))
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__cdot"), 6)), F.asc("__cell")
    )
    probes = (
        q.crossJoin(F.broadcast(centroid_rows))
        .withColumn(
            "__cdot",
            F.aggregate(
                F.zip_with(F.col("__qnorm"), F.col("__centroid"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        .withColumn("__probe_rank", F.row_number().over(probe_w))
        .filter(F.col("__probe_rank") <= n_probe)
        .select("query_id", "__lut", "__cdot", "__cell")
    )
    adc = (
        index.codes.join(F.broadcast(probes), "__cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                F.col("__cdot")
                + F.aggregate(
                    F.zip_with(
                        F.col("__code"),
                        F.col("__lut"),
                        lambda code, row: F.element_at(row, code.cast("int") + 1),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("__adc"),
        )
    )
    # same rounded-ADC candidate-cut discipline as pq_topk
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round(F.col("__adc"), 6)), F.asc("neighbor_id")
    )
    candidates = (
        adc.withColumn("__adc_rank", F.row_number().over(w))
        .filter(F.col("__adc_rank") <= refine * k)
        .select("query_id", "neighbor_id")
    )
    vecs = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), F.col(corpus_vec).alias("__cvec")
    )
    scored = (
        candidates.join(vecs, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qvec")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("__qvec"), F.col("__cvec")).alias("sim"),
        )
    )
    rw = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(rw).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("sim", 6).alias("sim"))
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    num_planes: int | None = None,
    num_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH
    bucketing + exact verify — the embedding analogue of MinHash dedup.
    Recall follows 1-(1-p^planes)^tables like lsh_bucketed_topk.

    ``num_planes=None`` (default) sizes the plane count to the corpus:
    ceil(log2(n / 64)) with a floor of 4, keeping expected bucket size
    ~constant as the corpus grows. With a FIXED plane count the 2^planes
    buckets per table grow linearly with n, so within-bucket candidate
    pairs grow QUADRATICALLY — the round-6 scaling harness
    (scaling_bench.py) measured exactly that before this fix. log-sizing
    is the standard LSH capacity rule (more planes at scale, recall
    recovered by num_tables / multi-probe)."""
    if num_planes is None:
        import math

        n = df.count()  # one cheap count per build-once indexing job
        num_planes = max(4, int(math.ceil(math.log2(max(n, 2) / 64))))
    # persist: the self-join below would otherwise run the plane-
    # projection UDF over the corpus TWICE (aliases share the plan, not
    # the computation) — same multi-consumer rule as the MinHash
    # signature path (ENGINEERING_NOTES).
    # (table, bucket)-keyed explicit-width repartition BEFORE the
    # persist: the fixture-sized corpus scans as 1-2 splits and the
    # bucket self-join below would inherit that width, computing every
    # within-bucket candidate pair in a single task (measured: the
    # whole candidate stage ran one task at sf0.1). Keyed on the join
    # keys the exchange doubles as the join's distribution; explicit
    # width is exempt from AQE coalescing. At production scale the
    # scan is already wide and this moves one pass of signatures.
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sig = (
        _with_table_buckets(
            df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__vec")),
            "__vec", num_planes, num_tables, dim,
        )
        .repartition(n_parts, "__table", "__bucket")
        .persist()
    )
    # fill the persist before the self-join: its two exchange stages
    # are submitted concurrently and would otherwise race to compute
    # the plane-projection pipeline twice against an unfilled cache.
    sig.count()
    l, r = sig.alias("l"), sig.alias("r")
    # candidate ids only — carrying vectors through the pair join +
    # dedup shuffle would move |pairs|×2 vectors; ids are 16 bytes.
    candidates = (
        l.join(
            r,
            (F.col("l.__table") == F.col("r.__table"))
            & (F.col("l.__bucket") == F.col("r.__bucket"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_a"), F.col("r.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # materialize candidate ids (duplicate-mass-sized) so the signature
    # cache can be released instead of leaking into the session — same
    # contract as minhash_lsh_pairs.
    from burla_spark.operators.dedup import _spill_to_temp_parquet

    candidates = _spill_to_temp_parquet(candidates, "neardup_candidates")
    sig.unpersist()
    # the spilled candidate table is a few MB (1-2 parquet splits) and
    # the corpus-side joins below broadcast at fixture scale, so the
    # exact-cosine verify would inherit 1-2 tasks; re-width the id
    # pairs on the first verify key (same rule as dedup's
    # _spread_for_verify — only 16-byte id pairs reshuffle).
    candidates = candidates.repartition(n_parts, "id_a")
    # verify joins are plain shuffled equi-joins on id: the vector
    # relation is CORPUS-sized, so a broadcast hint here would build the
    # whole embedding table on the driver and every executor — the one
    # 100 TB scale-killer flagged in the round-7 verdict. AQE still
    # auto-broadcasts when the corpus is genuinely under the threshold;
    # at scale both sides shuffle on id (candidates are duplicate-mass-
    # sized and already spilled, vectors shuffle once per side).
    vecs = df.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("__v"))
    return (
        candidates.join(
            vecs.select(F.col("doc_id").alias("id_a"), F.col("__v").alias("__va")),
            "id_a",
        )
        .join(
            vecs.select(F.col("doc_id").alias("id_b"), F.col("__v").alias("__vb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            cosine_similarity(F.col("__va"), F.col("__vb")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
    )
