"""Persistent IVF index: build once, query many — the production shape
of ANN search (the in-session :func:`.similarity.ivf_topk` re-trains
and re-assigns per call, fine for exploration, wasteful for a serving
corpus).

The index is two parquet datasets:

* ``centroids/`` — n_lists rows (centroid_id, centroid vector);
* ``assignments/`` — one row per corpus vector (id, unit vector),
  **hive-partitioned by centroid_id**.

Partitioning by list id is the point: a query batch probing ``nprobe``
of ``n_lists`` lists compiles to a partition-pruned scan — Spark reads
only the probed lists' directories (visible as ``PartitionFilters`` in
the plan), so query cost scales with nprobe/n_lists of the corpus
bytes, exactly the IVF contract, with zero custom index format.
Tombstones and compaction follow the one protocol in
:mod:`..storage.index_store`.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .similarity import ivf_assign, rank_topk, train_centroids
from ..fsutil import path_exists as _path_exists
from ..localframe import materialized, pin
from ..storage.index_store import IndexStore


def _store(
    spark: SparkSession, path: str | Path, id_col: str = "vec_id"
) -> IndexStore:
    """The assignments store, one hive partition per IVF list."""
    return IndexStore(
        spark, path, "id", id_col, ("assignments",), partition_col="centroid_id"
    )


def remove_from_ann_index(spark: SparkSession, path: str | Path, vec_ids) -> None:
    """Takedown: logically remove indexed vectors by id — the same
    O(delete-set) tombstone contract as the MinHash and media indexes
    (every persisted index here supports deletion): ids append to
    ``{path}/tombstones``, every query anti-joins them immediately,
    :func:`compact_ann_index` reclaims on a cadence. Ids are permanent
    identities — a tombstoned id stays masked until compaction; re-add
    under a fresh id. ``vec_ids`` is a one-column DataFrame or an
    iterable of ints; an empty iterable writes nothing."""
    _store(spark, path).remove(vec_ids)


def compact_ann_index(
    spark: SparkSession, path: str | Path, id_col: str = "vec_id"
) -> None:
    """Physically drop tombstoned vectors from the assignments store
    (one filtered pass, re-laid out list-per-directory exactly as the
    builds write it), then clear the tombstone set. Centroids and
    codebooks are corpus statistics, not per-vector state — they
    survive compaction unchanged, the same way FAISS keeps its
    quantizers through deletions. No-op when nothing was removed."""
    _store(spark, path, id_col).compact()


def build_ivf_index(
    corpus: DataFrame,
    path: str | Path,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Train coarse centroids, assign every vector to its nearest list,
    and persist both as the queryable index. Returns a build report.

    Scale shape: training collects only a driver-scale sample
    (:func:`.similarity.train_centroids`); assignment is one broadcast
    of the tiny centroid table against the corpus; the write shuffles
    once on centroid_id so each list lands contiguous in its own
    partition directory.
    """
    centroids = train_centroids(corpus, k=n_lists, vec_col=vec_col)
    store = _store(corpus.sparkSession, path, id_col)
    store.clear_tombstones()
    _write_centroids(store, centroids)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_assign=1)
    # one shuffle on the list id -> each partition dir holds one list
    store.write(assigned, "assignments", "overwrite")
    n = assigned.count()
    return {"n_lists": len(centroids), "n_vectors": n, "path": str(Path(path))}


def _write_centroids(store: IndexStore, centroids) -> None:
    store.write_rows(
        "centroids",
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "centroid_id int, centroid array<double>",
    )


def load_centroids(spark: SparkSession, path: str | Path) -> list[list[float]]:
    rows = (
        spark.read.parquet(str(Path(path) / "centroids"))
        .orderBy("centroid_id")
        .collect()
    )
    return [list(r["centroid"]) for r in rows]


def query_ivf_index(
    queries: DataFrame,
    path: str | Path,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors from a persisted index.

    Each query vector probes its ``nprobe`` nearest lists; the
    assignments scan is filtered to the union of probed list ids — a
    partition-pruning predicate, so unprobed lists are never read off
    disk. Results are identical to :func:`.similarity.ivf_topk` run
    with the same centroids.
    """
    spark = queries.sparkSession
    centroids = load_centroids(spark, path)
    probes = ivf_assign(queries, centroids, id_col, vec_col, n_assign=nprobe).select(
        F.col(id_col).alias("query_id"),
        "centroid_id",
        F.col("unit_vec").alias("q_vec"),
    )
    # The probed set is at most n_lists ints — driver-side is free, and
    # turning it into an isin() literal is what makes the scan prunable.
    probe_ids = [
        r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()
    ]
    # Partition pruning survives the tombstone mask: the anti-join
    # composes with the probe filter.
    idx = (
        _store(spark, path, id_col)
        .live("assignments")
        .filter(F.col("centroid_id").isin(probe_ids))
        .select(
            F.col(id_col).alias("neighbor_id"),
            "centroid_id",
            F.col("unit_vec").alias("c_vec"),
        )
    )
    from .similarity import dot

    scored = (
        probes.join(idx, "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(dot("q_vec", "c_vec"), 6))
    )
    return rank_topk(scored, k)


# ------------------------------------------------------------ IVF-PQ


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str | Path,
    n_lists: int = 16,
    m: int = 8,
    n_codes: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The full production ANN layout — IVF partition pruning x PQ
    column compression (FAISS's IVF-PQ, expressed as parquet layout):

    * assignments are hive-partitioned by list id (query probes read
      only nprobe/n_lists of the *directories*), and
    * each row stores the m-byte PQ codes next to the unit vector, so
      the ADC scan reads only the tiny (id, codes) columns — parquet
      column pruning — while the exact re-rank fetches vectors for the
      few surviving candidates only.
    """
    from .pq import pq_encode, train_pq_codebooks

    store = _store(corpus.sparkSession, path, id_col)
    store.clear_tombstones()
    centroids = train_centroids(corpus, k=n_lists, vec_col=vec_col)
    books = train_pq_codebooks(corpus, m=m, n_codes=n_codes, vec_col=vec_col)
    _write_centroids(store, centroids)
    store.write_rows(
        "codebooks",
        [
            (s, c, [float(x) for x in vec])
            for s, book in enumerate(books)
            for c, vec in enumerate(book)
        ],
        "subspace int, code int, centroid array<double>",
    )
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, n_assign=1)
    codes = pq_encode(corpus, books, id_col, vec_col)
    full = assigned.join(codes, id_col)
    store.write(full, "assignments", "overwrite")
    return {
        "n_lists": len(centroids),
        "m": m,
        "n_codes": max(len(b) for b in books),
        "n_vectors": full.count(),
        "path": str(Path(path)),
    }


def load_codebooks(spark: SparkSession, path: str | Path) -> list[list[list[float]]]:
    rows = (
        spark.read.parquet(str(Path(path) / "codebooks"))
        .orderBy("subspace", "code")
        .collect()
    )
    books: dict[int, list[list[float]]] = {}
    for r in rows:
        books.setdefault(r["subspace"], []).append(list(r["centroid"]))
    return [books[s] for s in sorted(books)]


def query_ivf_pq_index(
    queries: DataFrame,
    path: str | Path,
    k: int = 5,
    nprobe: int = 4,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN from the persisted IVF-PQ index: partition-pruned
    scan of the probed lists' (id, codes) columns, ADC top
    ``k * rerank_factor`` per query, then exact cosine re-rank reading
    the stored unit vectors for the surviving candidates only."""
    from .pq import adc_score, exact_rerank, query_luts

    spark = queries.sparkSession
    centroids = load_centroids(spark, path)
    books = load_codebooks(spark, path)
    m, n_codes = len(books), max(len(b) for b in books)

    probes = ivf_assign(queries, centroids, id_col, vec_col, n_assign=nprobe).select(
        F.col(id_col).alias("query_id"), "centroid_id"
    )
    probe_ids = [
        r["centroid_id"] for r in probes.select("centroid_id").distinct().collect()
    ]
    assignments = (
        _store(spark, path, id_col)
        .live("assignments")
        .filter(F.col("centroid_id").isin(probe_ids))
    )
    lut_df = query_luts(queries, books, id_col, vec_col)
    # stage 1: codes column only — probes restrict lists per query
    scored = (
        probes.join(
            assignments.select(
                F.col(id_col).alias("neighbor_id"), "centroid_id", "codes"
            ),
            "centroid_id",
        )
        .join(F.broadcast(lut_df), "query_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(adc_score(m, n_codes), 6))
    )
    cands = rank_topk(scored, k * rerank_factor).select("query_id", "neighbor_id")
    # stage 2: exact re-rank — vectors read for candidates only
    return exact_rerank(
        cands,
        assignments.select(
            F.col(id_col).alias("neighbor_id"), F.col("unit_vec").alias("cv")
        ),
        queries, k, id_col, vec_col,
    )


def append_to_ann_index(
    new_vectors: DataFrame,
    path: str | Path,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Add a batch of vectors to a persisted IVF or IVF-PQ index with
    the FROZEN quantizers — the incremental-intake contract the MinHash
    and media indexes already ship (`append_to_index` /
    `append_to_media_index`): the corpus-sized store is never re-read
    or re-shuffled, only the batch assigns and appends.

    Centroids (and PQ codebooks when present) are corpus statistics
    pinned at build time — the FAISS add-after-train convention: new
    vectors quantize under the existing model, so query semantics stay
    identical to a from-scratch build with the same quantizers, and
    recall degrades only as far as the corpus DRIFTS from the training
    sample (rebuild on a cadence when it does). Each appended batch
    shuffles once on centroid_id and lands inside the existing
    list-per-directory layout, so partition pruning keeps working
    unchanged. Tombstone contract carries over: ids are permanent —
    appending a tombstoned id leaves it masked until compaction.

    The batch frame is pinned before the write: a caller
    deriving ``new_vectors`` from a read of the index itself (the
    anti-join intake shape) would otherwise have its lineage
    re-executed against the post-append file list. Returns the number
    of vectors appended."""
    spark = new_vectors.sparkSession
    centroids = load_centroids(spark, path)
    assigned = ivf_assign(new_vectors, centroids, id_col, vec_col, n_assign=1)
    if _path_exists(spark, str(Path(path) / "codebooks")):
        from .pq import pq_encode

        books = load_codebooks(spark, path)
        assigned = assigned.join(pq_encode(new_vectors, books, id_col, vec_col), id_col)
    with materialized():
        batch = pin(assigned)
        _store(spark, path, id_col).write(batch, "assignments", "append")
        return batch.count()
