"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k as the exact baseline, and a bit-sampled
(random-hyperplane-style) LSH-bucketed variant as the scale path: at
100 TB the bucketed join prunes the candidate set by the Hamming
prefix instead of scoring every (query x corpus) pair.

All dot products are native higher-order array expressions
(``zip_with`` + ``aggregate``) — Arrow/pandas never enters the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..localframe import local_df, pin
from .dedup import ensure_parallelism


def dot(a: str | Column, b: str | Column) -> Column:
    """Double-precision dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: str | Column, b: str | Column) -> Column:
    # nullif: a zero vector yields null, not an ANSI DIVIDE_BY_ZERO
    # (Spark 4 ANSI raises even for double division).
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def unit_vec(a: str | Column) -> Column:
    """Vector scaled to unit L2 length (null-safe for the zero vector).

    Normalizing each row ONCE turns every pairwise cosine in an
    O(n x m) join into a single dot product — the norms would otherwise
    be recomputed per pair, tripling the flops of the scoring loop.
    """
    col = F.col(a) if isinstance(a, str) else a
    n = F.nullif(l2_norm(col), F.lit(0.0))
    return F.transform(col, lambda v: v.cast("double") / n)


def rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k tail shared by every search path:
    rank scored candidates by (score desc, neighbor_id asc) — the id
    tie-break keeps results identical across engines and reruns — and
    return the standard (query_id, rank, neighbor_id, score) contract."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus.

    Queries are the small side (broadcast); the corpus streams through
    executors once — O(|corpus| x |queries|) scoring but zero shuffle of
    the corpus itself. Rank by rounded score with id tie-break so
    results are deterministic across engines.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), unit_vec(vec_col).alias("q_vec")
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), unit_vec(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(dot("q_vec", "c_vec"), 6))
    )
    return rank_topk(scored, k)


def plan_signature(
    target_cos: float, recall: float = 0.95, max_bits: int = 128
) -> tuple[int, int]:
    """Pick (bands, band_bits) for sign-LSH so a pair at cosine
    ``target_cos`` survives candidate generation with ≥ ``recall``.

    Per-hyperplane agreement is p = 1 - arccos(s)/pi; a band of width w
    collides with prob p^w and a pair is missed with (1-p^w)^bands.
    Widest band (best pruning) that still fits the recall target within
    the bit budget wins. Loose targets (diffuse corpora) get narrow
    bands; tight near-dup targets (s≈0.9) get wide, highly selective
    ones — same mechanics as :func:`..dedup.choose_bands` for MinHash.
    """
    import math

    if not 0.0 < recall < 1.0:
        raise ValueError(
            f"recall must be in (0, 1), got {recall}; sign-LSH cannot "
            "guarantee recall 1.0 — use the exact path for that"
        )
    p = 1.0 - math.acos(max(-1.0, min(1.0, target_cos))) / math.pi
    if p <= 0.0:
        return (max_bits, 1)
    for w in range(max_bits, 0, -1):
        miss = 1.0 - p**w
        if miss <= 0.0:
            return (1, w)
        if miss >= 1.0:  # p**w underflowed — band too wide to ever collide
            continue
        b = math.ceil(math.log(1.0 - recall) / math.log(miss))
        if b * w <= max_bits:
            return (b, w)
    return (max_bits, 1)


def sign_matrix(planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 hyperplane matrix, one md5 per (plane, dim)
    cell — seedless and engine-portable (any engine with md5 derives
    the identical planes, so LSH bucket assignments replay in DuckDB
    and survive engine migrations; xxhash64, the round-1/2 source, was
    JVM-private). Python-side cost is a few thousand hashes, paid once
    per query build; the Spark plan sees only folded ±1 literals."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"plane:{i}:{d}".encode()).digest()[0] & 1 else -1
            for d in range(dim)
        ]
        for i in range(planes)
    ]


def band_signature(
    vec_col: str | Column, bands: int, band_bits: int, dim: int
) -> Column:
    """``array<struct<band_idx:int, band_val:long>>`` of banded sign-LSH
    sub-signatures. Hyperplane bit i is the sign of a fixed
    pseudo-random +/-1 combination of vector components
    (:func:`sign_matrix` — md5-derived literals, constant-folded by
    Catalyst, no stored projection matrix and no per-row hashing).
    Band j packs bits [j*band_bits, (j+1)*band_bits) into a long — the
    equi-join key for candidate generation (two vectors are candidates
    iff some band matches exactly on every bit). ``dim`` is the
    expected vector length; a vector whose length differs (or that is
    null) gets a NULL signature, so exploding it produces no band keys
    and it can never become an LSH candidate — without the guard,
    zip_with's null padding would null the plane sums and collapse
    every wrong-length vector into one identical all-zero signature
    (bogus candidates + a within-bucket pair blowup). Null *elements*
    inside a correctly-sized vector contribute 0 to the plane sum."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    signs = sign_matrix(bands * band_bits, dim)

    def plane(i: int, weight: int) -> Column:
        srow = F.array(*[F.lit(s) for s in signs[i]])
        signed = F.zip_with(
            vec, srow, lambda v, s: F.coalesce(v.cast("double") * s, F.lit(0.0))
        )
        s = F.aggregate(signed, F.lit(0.0), lambda acc, v: acc + v)
        return F.when(s > 0, F.lit(weight).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    structs = []
    for j in range(bands):
        val = None
        for b in range(band_bits):
            term = plane(j * band_bits + b, 1 << b)
            val = term if val is None else val + term
        structs.append(
            F.struct(F.lit(j).alias("band_idx"), val.alias("band_val"))
        )
    return F.when(F.size(vec) == dim, F.array(*structs))


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Vector length from a one-row probe (LSH planes are literal
    matrices, so the dimension must be known at plan-build time).

    This is an extra driver job at plan-build time and the probed row
    is arbitrary — pass ``dim`` explicitly when it is known. Rows whose
    length differs from the probe are *excluded* from candidate
    generation (NULL signature in :func:`band_signature`), never
    silently bucketed; use :func:`validate_dims` for a strict check."""
    row = df.select(F.size(vec_col).alias("n")).first()
    if row is None or row["n"] is None or row["n"] <= 0:
        raise ValueError(f"cannot infer vector dim from empty column {vec_col!r}")
    return int(row["n"])


def validate_dims(df: DataFrame, vec_col: str, dim: int, what: str = "frame") -> None:
    """Raise if any row's vector length differs from ``dim``.

    One aggregate job over just the size of ``vec_col`` (column-pruned
    scan, single long per partition to the driver). Used on the QUERY
    side of :func:`lsh_topk` — a malformed query silently returning
    zero neighbors is worse than failing fast; the corpus side filters
    instead (a bad corpus row should not kill a 100 TB batch job)."""
    row = df.select(
        F.sum((F.size(vec_col) != dim).cast("long")).alias("bad"),
        F.sum(F.col(vec_col).isNull().cast("long")).alias("nulls"),
    ).first()
    bad = (row["bad"] or 0) + (row["nulls"] or 0)
    if bad:
        raise ValueError(
            f"{what}: {bad} row(s) in {vec_col!r} are null or not length "
            f"{dim}; fix the input or pass the intended dim explicitly"
        )


def _banded(
    df: DataFrame, id_col: str, vec_col: str, bands: int, band_bits: int,
    out_id: str, dim: int,
) -> tuple[DataFrame, DataFrame]:
    """(vectors, exploded band keys) for one side of the candidate join.
    The exploded side is narrow — (id, band_idx, band_val) only — so the
    shuffle never carries the embeddings themselves."""
    base = df.select(
        F.col(id_col).alias(out_id),
        unit_vec(vec_col).alias("__uv"),
        band_signature(vec_col, bands, band_bits, dim).alias("__bands"),
    )
    keys = base.select(
        out_id, F.explode("__bands").alias("b")
    ).select(out_id, "b.band_idx", "b.band_val")
    return base.select(out_id, "__uv"), keys


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bands: int | None = None,
    band_bits: int | None = None,
    target_cos: float = 0.3,
    recall: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via banded sign-LSH: explode per-band
    sub-signatures, **equi-join** corpus and query bands on
    (band_idx, band_val), then exact cosine re-rank of the candidate
    pairs only.

    Scale shape (mirrors :func:`..dedup.lsh_candidate_pairs`): the band
    join shuffles only (id, band_idx, band_val) triples — never the
    embeddings, never all pairs — so the exchange is hash-partitioned on
    the band key and the candidate set is the only thing scored. The
    re-rank gathers corpus vectors by id (one shuffle of candidates)
    and broadcasts the query vectors. (bands, band_bits) defaults to
    :func:`plan_signature` for ``target_cos``/``recall`` — tight
    targets get wide selective bands, diffuse corpora narrow ones.
    """
    if bands is None or band_bits is None:
        bands, band_bits = plan_signature(target_cos, recall)
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    # Strict on the query side: a wrong-length query would get a NULL
    # signature and silently return zero neighbors — fail fast instead.
    # Corpus rows with mismatched lengths are filtered (NULL signature),
    # never bucketed.
    validate_dims(queries, vec_col, dim, what="lsh_topk queries")
    c_vecs, c_keys = _banded(
        ensure_parallelism(corpus), id_col, vec_col, bands, band_bits,
        "neighbor_id", dim,
    )
    q_vecs, q_keys = _banded(
        queries, id_col, vec_col, bands, band_bits, "query_id", dim
    )
    cands = (
        c_keys.join(q_keys, ["band_idx", "band_val"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    # No forced broadcast: query sets are usually small (AQE broadcasts
    # them on its own), but a forced hint would OOM a batch-ANN run
    # with millions of query vectors.
    scored = (
        cands.join(c_vecs, "neighbor_id")
        .join(q_vecs.withColumnRenamed("__uv", "__qv"), "query_id")
        .withColumn("score", F.round(dot("__qv", "__uv"), 6))
    )
    return rank_topk(scored, k)


# ------------------------------------------------------------------- IVF


def train_centroids(
    corpus: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    iters: int = 3,
    sample: int = 2048,
) -> list[list[float]]:
    """Coarse IVF centroids via a few Lloyd iterations.

    The sample collects to the driver (k-means on a few thousand
    vectors is a driver-scale problem even when the corpus is 100 TB);
    assignments during *indexing* stay distributed. Deterministic: the
    seed sample is the first ``sample`` rows by id order, and initial
    centers are evenly-spaced sample rows.
    """
    import numpy as np

    id_col = corpus.columns[0]
    rows = (
        corpus.select(F.col(id_col).alias("i"), unit_vec(vec_col).alias("v"))
        .orderBy("i")  # deterministic sample: TakeOrdered top-N, not a full sort
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    k = min(k, len(X))
    centers = X[np.linspace(0, len(X) - 1, k).astype(int)]
    for _ in range(iters):
        sims = X @ centers.T  # cosine on unit vectors
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                if n > 0:
                    centers[j] = c / n
    return centers.tolist()


def train_centroids_distributed(
    corpus: DataFrame,
    k: int = 16,
    vec_col: str = "embedding",
    max_iter: int = 10,
    seed: int = 7,
) -> list[list[float]]:
    """Scale path of :func:`train_centroids`: MLlib ``KMeans`` over the
    *full* unit-normalized corpus — distributed Lloyd iterations with
    k-means|| init, no driver sample cap. Use when the corpus is too
    skewed for a 2k-row sample to see every mode (the driver-sample
    variant stays the cheap default; both return the same
    ``list[list[float]]`` contract, unit-normalized for cosine
    assignment via :func:`ivf_assign`).

    Zero-vectors are dropped before the fit (they have no direction and
    ``unit_vec`` maps them to null).
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = (
        ensure_parallelism(corpus)
        .select(unit_vec(vec_col).alias("__uv"))
        .filter(F.col("__uv").isNotNull())
        .select(array_to_vector("__uv").alias("features"))
    )
    model = KMeans(k=k, maxIter=max_iter, seed=seed).fit(vecs)
    out = []
    for c in model.clusterCenters():
        vals = [float(x) for x in c]
        n = math.sqrt(sum(x * x for x in vals))
        out.append([x / n for x in vals] if n > 0 else vals)
    return out


def ivf_assign(
    vectors: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 1,
) -> DataFrame:
    """Assign each (unit-normalized) vector to its ``n_assign`` nearest
    centroids: broadcast the tiny centroid table against the corpus and
    keep the top rows per vector — the standard distributed IVF build
    (corpus never shuffles on anything but its own id)."""
    spark = vectors.sparkSession
    cent = local_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )
    v = ensure_parallelism(vectors).select(
        F.col(id_col), unit_vec(vec_col).alias("__uv")
    )
    scored = v.crossJoin(F.broadcast(cent)).withColumn(
        "__sim", dot("__uv", "centroid")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__sim"), F.asc("centroid_id"))
    return (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_assign)
        .select(id_col, "centroid_id", F.col("__uv").alias("unit_vec"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in coarse-centroid
    lists; each query probes only its ``nprobe`` nearest lists and
    exact-ranks the candidates. Replaces the O(|corpus| x |queries|)
    cross product with an equi-join on centroid_id — the join prunes
    (n_lists - nprobe)/n_lists of the corpus per query at scale."""
    if centroids is None:
        centroids = train_centroids(corpus, k=n_lists, vec_col=vec_col)
    indexed = ivf_assign(corpus, centroids, id_col, vec_col, n_assign=1).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id",
        F.col("unit_vec").alias("c_vec"),
    )
    probes = ivf_assign(queries, centroids, id_col, vec_col, n_assign=nprobe).select(
        F.col(id_col).alias("query_id"), "centroid_id",
        F.col("unit_vec").alias("q_vec"),
    )
    scored = (
        probes.join(indexed, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(dot("q_vec", "c_vec"), 6))
    )
    return rank_topk(scored, k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    max_exact_rows: int = 100_000,
    recall: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: id_a < id_b, score >=
    threshold.

    Two physical plans behind one semantic:

    - corpus <= ``max_exact_rows``: exact all-pairs — broadcast one
      side, stream the other (exhaustive, oracle-matchable).
    - larger: **banded sign-LSH candidates -> exact scoring**. The
      candidate join is an equi-join on (band_idx, band_val) — shuffle
      volume is (rows x bands) narrow triples, never all pairs — and
      only candidates are dot-product-scored. Approximate with
      ≥ ``recall`` expected pair recall (:func:`plan_signature` tunes
      band structure for ``threshold``); this is the 100 TB plan.
    """
    norm = df.select(F.col(id_col).alias("id"), unit_vec(vec_col).alias("v"))
    # Dispatch probe: limit(n+1).count() stops scanning after n+1 rows —
    # a full count() of a 100 TB corpus just to pick a plan would itself
    # be a complete pass over the data.
    if df.limit(max_exact_rows + 1).count() <= max_exact_rows:
        a = ensure_parallelism(norm).select(
            F.col("id").alias("id_a"), F.col("v").alias("v_a")
        )
        b = norm.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        return (
            a.crossJoin(F.broadcast(b))
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("score", F.round(dot("v_a", "v_b"), 6))
            .filter(F.col("score") >= threshold)
            .select("id_a", "id_b", "score")
        )
    return embedding_near_dup_pairs_lsh(
        df, id_col, vec_col, threshold, recall=recall
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bands: int | None = None,
    band_bits: int | None = None,
    recall: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """LSH-candidate near-dup pairs (the scale path of
    :func:`embedding_near_dup_pairs`): banded sign-LSH self-join on
    (band_idx, band_val) generates candidates; the exact dot product
    then decides. Same output contract (id_a < id_b, score >=
    threshold), recall < 1 by design."""
    if bands is None or band_bits is None:
        bands, band_bits = plan_signature(threshold, recall)
    if dim is None:
        dim = _probe_dim(df, vec_col)
    base = pin(  # keys + both vector gathers
        ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            unit_vec(vec_col).alias("v"),
            band_signature(vec_col, bands, band_bits, dim).alias("__bands"),
        )
    )
    keys = base.select("id", F.explode("__bands").alias("b")).select(
        "id", "b.band_idx", "b.band_val"
    )
    ka = keys.select(F.col("id").alias("id_a"), "band_idx", "band_val")
    kb = keys.select(F.col("id").alias("id_b"), "band_idx", "band_val")
    cands = (
        ka.join(kb, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("score", F.round(dot("v_a", "v_b"), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


# --------------------------------------------------------------- SemDeDup


def semantic_dedup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_clusters: int = 32,
    centroids: list[list[float]] | None = None,
    max_cluster: int = 100_000,
) -> DataFrame:
    """SemDeDup candidate pairs (Abbas et al. 2023, arXiv:2303.09540):
    k-means-cluster the embeddings, then compare pairs *within a
    cluster only* — semantic duplicates land in the same cluster, so
    the O(n^2) all-pairs search collapses to sum-of-cluster-sizes
    squared.

    Scale shape: assignment is a broadcast of the tiny centroid table
    (:func:`ivf_assign`); the pair generation is an equi-join on
    ``centroid_id`` — the corpus shuffles once, keyed by cluster, and
    no pair crossing a cluster boundary is ever materialized. Cluster
    count bounds the quadratic term (size ``n_clusters`` ~ n/target;
    the paper uses 11k clusters for 100M+ images) — but k-means on
    skewed data can still emit a dominant cluster, and one cluster of
    10M rows is a 10^14-pair join. Clusters above ``max_cluster``
    members therefore fall back to banded sign-LSH candidate
    generation (:func:`embedding_near_dup_pairs_lsh`) *within the
    oversized clusters*: same output contract, recall < 1 on just that
    slice instead of a quadratic stall (and pairs spanning two
    oversized clusters may surface — they are true near-duplicates
    regardless of cluster membership). Returns (id_a < id_b, score >=
    threshold).
    """
    if centroids is None:
        centroids = train_centroids(corpus, k=n_clusters, vec_col=vec_col)
    # Both join sides read the assignment — pin it once instead of
    # re-running the centroid scoring + rank window per side.
    assigned = pin(ivf_assign(corpus, centroids, id_col, vec_col, n_assign=1))
    sizes = assigned.groupBy("centroid_id").count()
    big_ids = [r["centroid_id"] for r in sizes.filter(F.col("count") > max_cluster).collect()]
    small = assigned.filter(~F.col("centroid_id").isin(big_ids)) if big_ids else assigned
    a = small.select(
        F.col(id_col).alias("id_a"), "centroid_id", F.col("unit_vec").alias("v_a")
    )
    b = small.select(
        F.col(id_col).alias("id_b"), "centroid_id", F.col("unit_vec").alias("v_b")
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(dot("v_a", "v_b"), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )
    if big_ids:
        big = assigned.filter(F.col("centroid_id").isin(big_ids)).select(
            F.col(id_col), F.col("unit_vec").alias(vec_col)
        )
        pairs = pairs.unionByName(
            embedding_near_dup_pairs_lsh(big, id_col, vec_col, threshold)
        )
    return pairs


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    n_clusters: int = 32,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup keep-set: drop every document that has a semantic
    duplicate (within-cluster cosine >= ``threshold``) with a smaller
    id. Deterministic — the paper keeps a random/low-centroid-sim
    member per duplicate group; lowest-id gives the same corpus on
    every rerun, which matters for reproducible training mixes.

    The drop set is distinct ``id_b`` values of
    :func:`semantic_dedup_pairs`; the keep-set is a left-anti join —
    one hash-shuffle on the id, no sort.
    """
    pairs = semantic_dedup_pairs(
        corpus, id_col, vec_col, threshold, n_clusters, centroids
    )
    drops = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(drops, id_col, "left_anti")


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive / reranker training: for
    each query, the top-``k`` most cosine-similar corpus vectors whose
    ``label_col`` DIFFERS from the query's — near the anchor in
    embedding space but semantically wrong, the negatives that teach a
    model the decision boundary (random negatives are trivially far).

    Same shape as :func:`brute_force_topk` (queries broadcast, corpus
    streams once, zero corpus shuffle, rounded-score + id tie-break
    determinism); swap in :func:`ivf_topk`-style pruning upstream when
    the corpus outgrows exact scoring. Null labels on either side are
    excluded — an unlabeled candidate cannot be certified negative.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__q_label"),
        unit_vec(vec_col).alias("q_vec"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neg_label"),
        unit_vec(vec_col).alias("c_vec"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("neg_label") != F.col("__q_label"))
        )
        .withColumn("score", F.round(dot("q_vec", "c_vec"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "neg_label", "score")
    )


def embedding_drift_report(
    base: DataFrame,
    cand: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """Embedding-space drift report — the monitoring table that answers
    "did my embedding distribution move between corpus versions?" per
    label: centroid shift in EXACT integer arithmetic, so the report
    is bit-identical across engines and re-runs (the property a drift
    ALERT needs — a float-noise flicker at the threshold is a paging
    bug). The embedding sibling of the PSI drift rows in
    ``streaming/drift.py``.

    Method: each component quantizes to ``floor(x * scale)`` (exact:
    float32 -> double -> floor, identical IEEE ops everywhere), each
    side reduces to per-(label, dim) integer sums + counts, and the
    centroid-difference magnitude is CROSS-MULTIPLIED instead of
    divided: ``term_d = |sum_base_d * n_cand - sum_cand_d * n_base|``
    is ``n_base * n_cand * |mean_base_d - mean_cand_d|`` in quantized
    units, exactly. Per label: both counts, the L1 drift
    ``sum_d term_d``, and the single most-drifting dimension
    (deterministic min-dim tie-break). Only labels present on BOTH
    sides report (a one-sided label is a cardinality change, visible
    in the counts of profile rows, not a drift direction).

    Scale shape: posexplode to (label, dim, q) and ONE partial-
    aggregated groupBy per side — the n x d rows never join or window
    per-vector; the (label, dim) grids (labels x dims rows) join and
    reduce at metadata scale. Overflow honesty: the cross-multiplied
    term is exact while ``|sum| * n < 2^63`` — fine to ~1e9 vectors of
    unit-scale components per label at the default scale; past that,
    lower ``scale`` (the report is a comparison, not a measurement)."""
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    def _grid(df: DataFrame, tag: str) -> DataFrame:
        e = df.select(
            F.col(label_col).alias("label"),
            F.posexplode(vec_col).alias("dim", "__x"),
        )
        return (
            e.withColumn(
                "__q",
                F.floor(F.col("__x").cast("double") * F.lit(int(scale)))
                .cast("long"),
            )
            .groupBy("label", "dim")
            .agg(
                F.sum("__q").alias(f"s_{tag}"),
                F.count("*").cast("long").alias(f"n_{tag}"),
            )
        )
    a = _grid(base, "base")
    b = _grid(cand, "cand")
    grid = a.join(b, ["label", "dim"]).withColumn(
        "__term",
        F.abs(
            F.col("s_base") * F.col("n_cand")
            - F.col("s_cand") * F.col("n_base")
        ),
    )
    return grid.groupBy("label").agg(
        F.max("n_base").cast("long").alias("n_base"),
        F.max("n_cand").cast("long").alias("n_cand"),
        F.sum("__term").cast("long").alias("l1_cross"),
        F.max_by(
            "dim", F.struct(F.col("__term"), (-F.col("dim")).alias("nd"))
        ).cast("long").alias("top_dim"),
        F.max("__term").cast("long").alias("top_dim_term"),
    )
