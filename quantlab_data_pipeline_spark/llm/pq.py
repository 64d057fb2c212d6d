"""Product quantization (PQ) for embedding search at memory scale.

At 100 TB the embedding column itself is the bottleneck: a 64-dim
float32 vector is 256 bytes, so a trillion-row corpus cannot keep
vectors hot for scanning. PQ (Jégou et al. 2011, the FAISS workhorse)
splits each vector into ``m`` subvectors and replaces each with the id
of its nearest codebook centroid — ``m`` bytes per vector at 256 codes
per subspace, a 32x reduction at 64 dims — and scores queries against
codes with a per-query lookup table (ADC: asymmetric distance
computation) without ever reconstructing the vectors.

Division of labor, Spark-style:

* codebook training collects a driver-scale sample (k-means on a few
  thousand subvectors per subspace is milliseconds of numpy);
* encoding is a **vectorized Arrow batch** (``mapInPandas`` + numpy
  argmin over the codebook — the documented fast path for work that
  genuinely needs numeric kernels);
* scoring is **pure Catalyst**: the per-query LUT ships as a
  broadcast-joined flat array and the ADC sum compiles to
  ``aggregate(zip_with(codes, ...), element_at(lut, ...))`` — the scan
  side reads only the tiny code arrays, no Python anywhere.

Inner-product ADC over unit-normalized vectors approximates cosine;
re-rank the PQ top candidates with exact scores when the index keeps
the original vectors around (``rerank_from``).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..localframe import local_df
from .similarity import dot, rank_topk, unit_vec


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 256,
    vec_col: str = "embedding",
    sample: int = 4096,
    iters: int = 5,
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks: ``codebooks[s][c]`` is centroid
    ``c`` of subspace ``s``. Deterministic (sample = first rows by id,
    evenly-spaced init), trained on unit-normalized vectors so the ADC
    inner product estimates cosine.
    """
    import numpy as np

    id_col = corpus.columns[0]
    rows = (
        corpus.select(F.col(id_col).alias("i"), unit_vec(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    if X.ndim != 2 or X.shape[1] % m:
        raise ValueError(
            f"vector dim {X.shape[-1] if X.ndim == 2 else '?'} must be divisible by m={m}"
        )
    dsub = X.shape[1] // m
    books: list[list[list[float]]] = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        k = min(n_codes, len(sub))
        centers = sub[np.linspace(0, len(sub) - 1, k).astype(int)].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = sub[assign == c]
                if len(members):
                    centers[c] = members.mean(axis=0)
        books.append(centers.tolist())
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes) — each vector reduced to ``m`` small ints.

    One Arrow pass: per batch, numpy computes the argmin code per
    subspace via the expanded L2 form (||x||² − 2xCᵀ + ||C||²) — no
    per-row Python. Output is narrow (id + m shorts), which is the
    point: THIS is the frame a 100 TB scan iterates, not the vectors.
    """
    import numpy as np

    m = len(codebooks)
    centers = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = centers[0].shape[1]
    id_type = dict(df.dtypes)[id_col]

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            V = np.array(list(b["__uv"]), dtype=np.float64)
            if len(V) == 0:
                yield pd.DataFrame({id_col: b[id_col], "codes": []})
                continue
            codes = np.empty((len(V), m), dtype=np.int16)
            for s in range(m):
                sub = V[:, s * dsub : (s + 1) * dsub]
                C = centers[s]
                d2 = (sub * sub).sum(1)[:, None] - 2.0 * sub @ C.T + (C * C).sum(1)[None, :]
                codes[:, s] = d2.argmin(axis=1)
            yield pd.DataFrame(
                {id_col: b[id_col].values, "codes": list(codes)}
            )

    base = df.select(F.col(id_col), unit_vec(vec_col).alias("__uv"))
    return base.mapInPandas(encode, f"`{id_col}` {id_type}, codes array<smallint>")


def query_luts(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, lut) — each query's flat ADC lookup table (inner
    product of its unit-normalized subvectors with every codebook
    centroid), built driver-side: queries are the small side by
    construction, and the LUT is what makes scoring a pure table
    lookup."""
    import numpy as np

    m = len(codebooks)
    n_codes = max(len(b) for b in codebooks)
    centers = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = centers[0].shape[1]
    spark = queries.sparkSession
    q_rows = queries.select(
        F.col(id_col).alias("query_id"), unit_vec(vec_col).alias("qv")
    ).collect()
    lut_rows = []
    for r in q_rows:
        qv = np.array(r["qv"], dtype=np.float64)
        lut = np.zeros(m * n_codes, dtype=np.float64)
        for s in range(m):
            sub = qv[s * dsub : (s + 1) * dsub]
            lut[s * n_codes : s * n_codes + len(centers[s])] = centers[s] @ sub
        lut_rows.append((r["query_id"], [float(x) for x in lut]))
    return local_df(
        spark,
        lut_rows,
        f"query_id {dict(queries.dtypes)[id_col]}, lut array<double>",
    )


def adc_score(m: int, n_codes: int) -> F.Column:
    """The ADC sum as a Catalyst expression: ``codes`` (array<smallint>)
    and ``lut`` (flat array<double>) columns in scope -> estimated
    inner product."""
    idx = F.sequence(F.lit(0), F.lit(m - 1))
    return F.aggregate(
        F.zip_with(
            F.col("codes").cast("array<int>"),
            idx,
            lambda c, s: F.element_at(F.col("lut"), s * n_codes + c + 1),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_topk(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_from: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """ADC top-k over PQ codes.

    Each query's LUT (inner product of its subvector with every
    codebook centroid) is computed driver-side — queries are the small
    side by construction — and broadcast-joined to the code frame; the
    score is a native ``aggregate`` over ``m`` table lookups per
    candidate. With ``rerank_from`` (a frame holding the original
    vectors), the top ``k * rerank_factor`` ADC candidates per query
    are re-scored exactly and the final ``k`` returned — the standard
    two-stage PQ serving shape.
    """
    m = len(codebooks)
    n_codes = max(len(b) for b in codebooks)
    lut_df = query_luts(queries, codebooks, id_col, vec_col)
    adc = adc_score(m, n_codes)
    # Every query scans every code row — the flat-ADC baseline (that
    # scan reads m bytes/vector, which is the whole point); compose with
    # the IVF index's partition pruning for list-level candidate cuts.
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .crossJoin(F.broadcast(lut_df))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score", F.round(adc, 6))
        .select("query_id", "neighbor_id", "score")
    )
    n_stage1 = k * rerank_factor if rerank_from is not None else k
    top = rank_topk(scored, n_stage1)
    if rerank_from is None:
        return top
    return exact_rerank(
        top.select("query_id", "neighbor_id"),
        rerank_from.select(
            F.col(id_col).alias("neighbor_id"), unit_vec(vec_col).alias("cv")
        ),
        queries, k, id_col, vec_col,
    )


def exact_rerank(
    cands: DataFrame,
    cand_vecs: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Second stage of a two-stage ANN query: re-score the
    ``(query_id, neighbor_id)`` candidates by exact cosine against
    ``cand_vecs`` (``neighbor_id``, unit vector ``cv``) and the
    broadcast unit query vectors, and keep the top ``k`` per query."""
    exact = (
        cands.join(cand_vecs, "neighbor_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"), unit_vec(vec_col).alias("qv")
                )
            ),
            "query_id",
        )
        .withColumn("score", F.round(dot("qv", "cv"), 6))
    )
    return rank_topk(exact, k)
