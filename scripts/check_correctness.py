#!/usr/bin/env python
"""Local mirror of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at the given scale factor
and compares against ``oracle_sql()`` via DuckDB: row count, column set,
and order-insensitive values. Reports exact-match and max numeric
deviation per query so float-sensitivity is visible before the driver
sees it.

Usage: python scripts/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _pagerank_suppliers_python_oracle(con: "duckdb.DuckDBPyConnection") -> pd.DataFrame:
    """Iterative power-iteration oracle for pagerank_suppliers.

    The registry's SQL oracle unrolls the 10 iterations into a CTE
    chain, which DuckDB materializes all at once — at sf0.1 the
    co-part graph is dense enough that the unrolled chain exhausts
    local disk (VERDICT r2 item 4). Same update rule, same graph
    construction SQL, but the loop runs driver-side in numpy where 10
    iterations over a vector is trivial at any sf this harness sees.
    """
    edges = con.execute(
        """
        WITH ps AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ), e0 AS (
            SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
            FROM ps a JOIN ps b ON a.l_partkey = b.l_partkey
                               AND a.l_suppkey < b.l_suppkey
        )
        SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0
        """
    ).fetchdf()
    src = edges["src"].to_numpy()
    dst = edges["dst"].to_numpy()
    nodes = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(nodes, src)
    t = np.searchsorted(nodes, dst)
    n = len(nodes)
    deg = np.bincount(s, minlength=n).astype(float)
    d = 0.85
    r = np.full(n, 1.0 / n)
    for _ in range(10):
        mass = np.bincount(t, weights=r[s] / deg[s], minlength=n)
        dangling = r[deg == 0].sum()  # identically 0 on this graph
        r = (1.0 - d) / n + d * (mass + dangling / n)
    return pd.DataFrame(
        {"suppkey": nodes.astype("int64"), "rank": np.round(r, 8)}
    )


def _bpe_tokenize_docs_python_oracle(con: "duckdb.DuckDBPyConnection") -> pd.DataFrame:
    """From-scratch BPE reference for ``bpe_tokenize_docs`` — the same
    independent implementation strategy as tests/test_bpe.py, run over
    the registry corpus at whatever sf the mirror is checking. Training
    is deterministic on both sides (best pair = max weighted count,
    then lexicographically smallest), so the 20 learned merges, every
    doc's token count, and the md5 of its joined token stream must all
    agree exactly."""
    import hashlib
    import re
    from collections import Counter

    df = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchdf()
    tok = re.compile(r"[a-z0-9]+")
    eow = "</w>"

    def _txt(t: object) -> str:
        return t if isinstance(t, str) else ""

    freqs: Counter = Counter()
    for t in df["text"]:
        freqs.update(tok.findall(_txt(t).lower()))
    words: dict[str, tuple[list[str], int]] = {
        w: (list(w) + [eow], f) for w, f in freqs.items()
    }
    merges: list[tuple[str, str]] = []
    for _ in range(20):
        pc: Counter = Counter()
        for toks, f in words.values():
            for a, b in zip(toks, toks[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        (left, right), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        merges.append((left, right))
        joined = left + right
        for w, (toks, f) in words.items():
            out: list[str] = []
            for t in toks:  # left-to-right greedy, same as _merge_fold
                if out and out[-1] == left and t == right:
                    out[-1] = joined
                else:
                    out.append(t)
            words[w] = (out, f)
    ranks = {p: i for i, p in enumerate(merges)}
    cache: dict[str, list[str]] = {}

    def enc(w: str) -> list[str]:
        toks = list(w) + [eow]
        while len(toks) > 1:
            best, best_rank = None, None
            for j in range(len(toks) - 1):
                r = ranks.get((toks[j], toks[j + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best, best_rank = j, r
            if best is None:
                break
            toks[best : best + 2] = [toks[best] + toks[best + 1]]
        return toks

    rows = []
    for i, t in zip(df["doc_id"], df["text"]):
        toks: list[str] = []
        for w in tok.findall(_txt(t).lower()):
            got = cache.get(w)
            if got is None:
                got = cache[w] = enc(w)
            toks.extend(got)
        # The registry query joins with a literal \x01 separator (an
        # invisible control byte in queries_ext.py) so the digest is
        # sensitive to token BOUNDARIES — i.e. to the learned merges —
        # not just to the reconstructed text.
        rows.append(
            (
                int(i),
                len(toks),
                hashlib.md5("\x01".join(toks).encode("utf-8")).hexdigest(),
            )
        )
    return pd.DataFrame(rows, columns=["doc_id", "n_tokens", "tokens_md5"])


# Queries whose oracle cannot (or should not) run as one DuckDB SQL
# statement: pagerank's unrolled CTE exhausts local disk at sf0.1, and
# BPE training is an iterative loop. The local mirror swaps in an
# equivalent driver-side oracle; the driver still runs the SQL oracles
# it has at sf0.01.
def _image_dhash_python_oracle(con: "duckdb.DuckDBPyConnection") -> pd.DataFrame:
    """From-scratch dHash + brute-force Hamming reference for
    ``image_dhash_dedup``: rebuilds the 32x32 frames STRAIGHT from the
    documents' text bytes (no PNG layer — the registry query's PNG
    encode/decode round trip is exactly what this independence checks),
    pools with explicit integral sums (not np.array_split), packs bits,
    and compares ALL pairs (the banded blocking's pigeonhole recall at
    max_hamming=6 <= bands-1 means the sets must be identical)."""
    df = con.execute(
        """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
        ORDER BY doc_id
        """
    ).fetchdf()
    HS = 8  # hash_size

    def split_sizes(length: int, n: int) -> list[int]:
        q, r = divmod(length, n)
        return [q + 1 if k < r else q for k in range(n)]

    def dhash(arr: np.ndarray) -> int:
        csum = arr.astype(np.float64).cumsum(axis=0).cumsum(axis=1)
        padded = np.zeros((arr.shape[0] + 1, arr.shape[1] + 1))
        padded[1:, 1:] = csum
        ys = np.cumsum([0] + split_sizes(arr.shape[0], HS))
        xs = np.cumsum([0] + split_sizes(arr.shape[1], HS + 1))
        v = 0
        for r in range(HS):
            means = []
            for c in range(HS + 1):
                s = (
                    padded[ys[r + 1], xs[c + 1]]
                    - padded[ys[r], xs[c + 1]]
                    - padded[ys[r + 1], xs[c]]
                    + padded[ys[r], xs[c]]
                )
                cnt = (ys[r + 1] - ys[r]) * (xs[c + 1] - xs[c])
                means.append(s / cnt)
            for c in range(HS):
                if means[c + 1] > means[c]:
                    v |= 1 << (r * HS + c)
        return v  # unsigned; signedness only matters for storage

    ids, hashes = [], []
    for i, t in zip(df["doc_id"], df["text"]):
        b = (t if isinstance(t, str) else "").encode("utf-8") or b"\x00"
        arr = np.resize(np.frombuffer(b, dtype=np.uint8), (32, 32))
        ids.append(int(i))
        hashes.append(dhash(arr))

    hs = np.array(hashes, dtype=np.uint64)
    pop = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)
    rows = []
    for i in range(len(hs) - 1):
        x = (hs[i] ^ hs[i + 1 :]).copy()
        ham = pop[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1)
        for j in np.nonzero(ham <= 6)[0]:
            rows.append((ids[i], ids[i + 1 + int(j)], int(ham[j])))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])


def _audio_dhash_python_oracle(con: "duckdb.DuckDBPyConnection") -> pd.DataFrame:
    """Reference for ``audio_dhash_dedup``: constructs the PCM samples
    straight from text bytes (skipping the WAV encode/decode the
    registry query round-trips), fingerprints with the library's
    spectral grid, and brute-forces all Hamming pairs — checking the
    codec layer, the Arrow kernel plumbing, and the banded blocking's
    pigeonhole recall (not the FFT itself, which both sides share)."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        audio_spectral_matrix,
        dhash_bits,
        text_to_wave,
    )

    df = con.execute(
        """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 7 = 0
        ORDER BY doc_id
        """
    ).fetchdf()
    ids, fps = [], []
    for i, t in zip(df["doc_id"], df["text"]):
        wave = text_to_wave(t if isinstance(t, str) else None)
        m = audio_spectral_matrix(wave, 8, 9)
        ids.append(int(i))
        fps.append(dhash_bits(m, hash_size=8) & ((1 << 64) - 1))

    hs = np.array(fps, dtype=np.uint64)
    pop = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)
    rows = []
    for i in range(len(hs) - 1):
        x = (hs[i] ^ hs[i + 1 :]).copy()
        ham = pop[x.view(np.uint8).reshape(len(x), 8)].sum(axis=1)
        for j in np.nonzero(ham <= 2)[0]:
            rows.append((ids[i], ids[i + 1 + int(j)], int(ham[j])))
    return pd.DataFrame(rows, columns=["id_a", "id_b", "hamming"])


def _embedding_pca_python_oracle(con: "duckdb.DuckDBPyConnection") -> pd.DataFrame:
    """From-scratch numpy replay of embedding_pca_docs: population
    covariance, ascending eigh re-ordered descending, canonical sign
    (largest-|coordinate| positive), whitened projection rounded to 6.
    Independent of the Spark implementation except for the shared
    published conventions the row's docstring states."""
    rows = con.execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows])
    X = np.array([r[1] for r in rows], dtype=np.float64)
    mean = X.mean(axis=0)
    cov = (X.T @ X) / len(X) - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1][:4]
    W = eigvecs[:, order].T.copy()
    for i in range(W.shape[0]):
        j = int(np.argmax(np.abs(W[i])))
        if W[i, j] < 0:
            W[i] = -W[i]
    P = (X - mean) @ W.T / np.sqrt(np.maximum(eigvals[order], 1e-12))
    P = np.round(np.round(P, 6), 6)
    out = {"vec_id": ids}
    for i in range(4):
        out[f"p{i}"] = P[:, i]
    return pd.DataFrame(out)


# Rows whose SQL oracle is infeasible at a given sf: the both-oracle
# policy (round 8) cross-checks python-oracle rows against their SQL
# replay too, but pagerank's SQL oracle unrolls 10 power iterations
# into a CTE chain DuckDB fully materializes — tens of GB of spill at
# sf0.1, the documented reason its python oracle exists (VERDICT r2
# item 4; observed: spill filled the disk mid-run). The python oracle
# stays the cross-check at every sf; the SQL replay runs where it fits.
# Round 9 (VERDICT r8 what's-wrong #4): the round-8 unified runs showed
# the spill exhaustion now hits at sf0.01 TOO (both logged FAIL lines,
# re-run green on the python oracle) — pre-gate both mirror sfs so the
# unified log is FAIL-free; sf0.001 still runs the SQL twin live.


def _curate_corpus_audio_proxy_invalid(sf_dir: str) -> bool:
    """True iff curate_corpus_full's md5-of-text audio proxy is INVALID
    at this sf: some spectral-fingerprint class spans >1 distinct
    extracted text (a real 64-bit collision — the proxy's SQL twin
    would then flag a false mismatch on ``audio_dup``; the python
    oracle, which replays the fingerprints, remains the gate and
    PREDICTS the duplicate pair). Found live: sf0.001 ships one such
    collision (docs 3000160/3000165, both cycled-1088 boiler texts
    landing on the degenerate periodic-spectrogram fingerprint
    0x5A5A5A5A5A5A5A5A); sf0.01 and sf0.1 have none, so the SQL twin
    cross-checks there."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        audio_spectral_matrix,
        dhash_bits,
        text_to_wave,
    )
    from quantlab_data_pipeline_spark.queries_ext import (
        curate_corpus_full_elig_sql,
    )

    c = duckdb.connect()
    c.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    elig = c.execute(curate_corpus_full_elig_sql()).fetchdf()
    by_fp: dict[int, set[str]] = {}
    for i, t in zip(elig["doc_id"], elig["extracted"]):
        wave = text_to_wave(t if isinstance(t, str) else None)
        fp = dhash_bits(audio_spectral_matrix(wave, 8, 9), hash_size=8)
        by_fp.setdefault(fp & ((1 << 64) - 1), set()).add(t or "")
    return any(len(texts) > 1 for texts in by_fp.values())


SQL_ORACLE_INFEASIBLE = {
    "pagerank_suppliers": lambda sf_dir: sf_dir.rstrip("/").endswith(
        ("sf0.1", "sf0.01")
    ),
    # Not infeasible but INVALID where a collision exists: see
    # _curate_corpus_audio_proxy_invalid.
    "curate_corpus_full": _curate_corpus_audio_proxy_invalid,
}


def _curate_corpus_full_python_oracle(
    con: "duckdb.DuckDBPyConnection",
) -> pd.DataFrame:
    """curate_corpus_full with the audio stage keyed on the REPLAYED
    spectral fingerprint (VERDICT r8 item 2 — the graduation the image
    side made after sf0.1's real dHash collisions): run the SQL replay
    for every stage, then recompute ``audio_dup`` from the true
    fingerprints (text_to_wave -> spectral grid -> dhash bits, the
    library kernels re-driven outside Spark) over exactly the eligible
    (doc_id, extracted) rows the Spark stage fingerprints. A genuine
    64-bit audio collision between different texts is then a PREDICTED
    duplicate pair here; the md5-proxied SQL twin (still cross-checked
    by the both-oracle policy) would flag it as a visible mismatch."""
    from quantlab_data_pipeline_spark.llm.multimodal import (
        audio_spectral_matrix,
        dhash_bits,
        text_to_wave,
    )
    from quantlab_data_pipeline_spark.queries import ORACLE_SQL
    from quantlab_data_pipeline_spark.queries_ext import (
        curate_corpus_full_elig_sql,
    )

    odf = con.execute(ORACLE_SQL["curate_corpus_full"]).fetchdf()
    elig = con.execute(curate_corpus_full_elig_sql()).fetchdf()
    fps: dict[int, int] = {}
    for i, t in zip(elig["doc_id"], elig["extracted"]):
        wave = text_to_wave(t if isinstance(t, str) else None)
        m = audio_spectral_matrix(wave, 8, 9)
        fps[int(i)] = dhash_bits(m, hash_size=8) & ((1 << 64) - 1)
    counts = Counter(fps.values())
    dup = {d: counts[f] > 1 for d, f in fps.items()}
    odf["audio_dup"] = (
        odf["doc_id"].map(lambda d: dup.get(int(d), False)).astype(bool)
    )
    return odf


PYTHON_ORACLES = {
    "embedding_pca_docs": _embedding_pca_python_oracle,
    "pagerank_suppliers": _pagerank_suppliers_python_oracle,
    "bpe_tokenize_docs": _bpe_tokenize_docs_python_oracle,
    "image_dhash_dedup": _image_dhash_python_oracle,
    "audio_dhash_dedup": _audio_dhash_python_oracle,
    "curate_corpus_full": _curate_corpus_full_python_oracle,
}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = pd.to_datetime(col).dt.tz_localize(None)
        elif col.dtype == object:
            # dates / lists arrive as objects; stringify for ordering
            df[c] = col.astype(str)
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype(bool)
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("int64")
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _hll_tolerance(con: "duckdb.DuckDBPyConnection", sdf: pd.DataFrame) -> list[str]:
    """Error-bound check for hll_distinct_rollup_events (VERDICT r6
    item 5): above sparse mode the HLL estimate is no longer exact, so
    the cross-scale gate checks the published accuracy contract
    instead — datasketches HLL rsd = 1.04/sqrt(2^lgk); with lgk=12
    (storage/rollup.py default) that is 1.625%, and 3*rsd is the
    99.7%-confidence band."""
    truth = con.execute(
        "SELECT event_type, count(DISTINCT user_id) AS n "
        "FROM events GROUP BY event_type"
    ).fetchdf()
    expected = dict(zip(truth["event_type"], truth["n"]))
    problems: list[str] = []
    if len(sdf) != len(expected):
        problems.append(f"groups spark={len(sdf)} truth={len(expected)}")
    bound = 3 * 1.04 / (2**12) ** 0.5
    for _, row in sdf.iterrows():
        exp = expected.get(row["event_type"])
        if exp is None:
            problems.append(f"unknown group {row['event_type']!r}")
            continue
        rel = abs(float(row["n_distinct"]) - exp) / max(exp, 1)
        if rel > bound:
            problems.append(
                f"{row['event_type']}: rel err {rel:.4f} > 3*rsd {bound:.4f}"
            )
    return problems


def _kll_tolerance(con: "duckdb.DuckDBPyConnection", sdf: pd.DataFrame) -> list[str]:
    """Error-bound check for kll_quantile_rollup_events: once merged
    cells exceed k the sketch compacts and quantiles are approximate;
    the contract is NORMALIZED RANK error, so each estimate must lie
    between the true quantiles at rank p +/- eps. k=8192 gives a
    one-sided rank error ~0.05% (datasketches 2.296/k^0.9433); 0.5%
    here is a 10x safety margin that still pins p50 to the
    [0.495, 0.505] rank band."""
    eps = 0.005
    problems: list[str] = []
    for p, col in ((0.5, "q_0_5"), (0.95, "q_0_95"), (0.99, "q_0_99")):
        band = con.execute(
            f"""
            SELECT event_type,
                   quantile_disc(value, {max(p - eps, 0.0)}) AS lo,
                   quantile_disc(value, {min(p + eps, 1.0)}) AS hi
            FROM events GROUP BY event_type
            """
        ).fetchdf()
        bands = {
            r.event_type: (r.lo, r.hi) for r in band.itertuples(index=False)
        }
        for _, row in sdf.iterrows():
            band_lo_hi = bands.get(row["event_type"])
            if band_lo_hi is None:
                problems.append(f"unknown group {row['event_type']!r}")
                continue
            lo, hi = band_lo_hi
            v = float(row[col])
            if not (lo <= v <= hi):
                problems.append(
                    f"{row['event_type']} {col}={v} outside rank band "
                    f"[{lo}, {hi}] (p +/- {eps})"
                )
    return problems


def _sketch_distinct_tolerance(
    con: "duckdb.DuckDBPyConnection", sdf: pd.DataFrame
) -> list[str]:
    """distinct_users_sketch: n_events must be EXACT; the HLL++
    estimate (rsd=0.01) must sit within a 4*rsd band of the true
    distinct count."""
    truth = con.execute(
        "SELECT event_type, count(DISTINCT user_id) AS nd, "
        "count(*) AS ne FROM events GROUP BY event_type"
    ).fetchdf()
    expected = {
        r.event_type: (r.nd, r.ne) for r in truth.itertuples(index=False)
    }
    problems: list[str] = []
    if len(sdf) != len(expected):
        problems.append(f"groups spark={len(sdf)} truth={len(expected)}")
    for _, row in sdf.iterrows():
        exp = expected.get(row["event_type"])
        if exp is None:
            problems.append(f"unknown group {row['event_type']!r}")
            continue
        nd, ne = exp
        if int(row["n_events"]) != ne:
            problems.append(
                f"{row['event_type']}: n_events {row['n_events']} != {ne}"
            )
        rel = abs(float(row["n_users_approx"]) - nd) / max(nd, 1)
        if rel > 0.04:
            problems.append(
                f"{row['event_type']}: distinct rel err {rel:.4f} > 0.04"
            )
    return problems


def _approx_quantiles_tolerance(
    con: "duckdb.DuckDBPyConnection", sdf: pd.DataFrame
) -> list[str]:
    """approx_quantiles_events: percentile_approx(accuracy=10000)
    guarantees rank error <= 1/accuracy; check each estimate against
    the true quantiles at rank p +/- 0.001 (10x the guarantee)."""
    eps = 0.001
    problems: list[str] = []
    for p, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.95, "p95")):
        band = con.execute(
            f"""
            SELECT event_type,
                   quantile_disc(value, {max(p - eps, 0.0)}) AS lo,
                   quantile_disc(value, {min(p + eps, 1.0)}) AS hi
            FROM events GROUP BY event_type
            """
        ).fetchdf()
        bands = {
            r.event_type: (r.lo, r.hi) for r in band.itertuples(index=False)
        }
        for _, row in sdf.iterrows():
            band_lo_hi = bands.get(row["event_type"])
            if band_lo_hi is None:
                problems.append(f"unknown group {row['event_type']!r}")
                continue
            lo, hi = band_lo_hi
            v = float(row[col])
            if not (lo <= v <= hi):
                problems.append(
                    f"{row['event_type']} {col}={v} outside rank band "
                    f"[{lo}, {hi}] (p +/- {eps})"
                )
    return problems


def _ml_quality_tolerance(
    con: "duckdb.DuckDBPyConnection", sdf: pd.DataFrame
) -> list[str]:
    """ml_quality_docs (VERDICT r8 item 8 — the last undocumented
    rows-only row): model WEIGHTS are not replayable (MLlib L-BFGS
    float reductions are partitioning-order-dependent), but the row's
    CONTRACT is: a student trained on the rule-score-median teacher
    must reproduce that teacher's labels on its own training corpus.
    The teacher IS SQL-replayable (the oracle-checked ``text_quality``
    score, split at the corpus median), so the gate checks
    (1) doc-set identity, (2) probabilities in [0, 1],
    (3) ml_keep == (prob >= 0.5) internal consistency, and
    (4) student-teacher agreement >= 0.90 — measured 0.944-0.964
    across sf0.001/0.01/0.1, so the band flags a real training
    regression, not float noise."""
    from quantlab_data_pipeline_spark.queries import ORACLE_SQL

    problems: list[str] = []
    probs = sdf["ml_quality_prob"].astype(float)
    if ((probs < 0) | (probs > 1)).any():
        problems.append("ml_quality_prob outside [0, 1]")
    if not (sdf["ml_keep"].astype(bool) == (probs >= 0.5)).all():
        problems.append("ml_keep inconsistent with prob >= 0.5")
    teacher = con.execute(
        f"""
        WITH q AS ({ORACLE_SQL['text_quality']})
        SELECT doc_id,
               quality_score >= (SELECT median(quality_score) FROM q)
                   AS teacher
        FROM q
        """
    ).fetchdf()
    merged = sdf[["doc_id", "ml_keep"]].merge(teacher, on="doc_id")
    if len(merged) != len(sdf) or len(sdf) != len(teacher):
        problems.append(
            f"doc-set mismatch: spark={len(sdf)} teacher={len(teacher)}"
            f" joined={len(merged)}"
        )
        return problems
    agree = float(
        (merged["ml_keep"].astype(bool) == merged["teacher"].astype(bool)).mean()
    )
    if agree < 0.90:
        problems.append(
            f"student-teacher agreement {agree:.4f} < 0.90 "
            f"(training regression)"
        )
    return problems


# Queries whose exactness is scale-bounded by design (sketches are
# exact until sparse-mode/compaction boundaries): the mirror tries the
# exact oracle first (when one exists) and falls back to the published
# error bound, so the cross-scale gate is green at every sf without
# weakening the small-sf exact check. distinct_users_sketch and
# approx_quantiles_events have NO exact oracle (sketch values are
# engine-specific at any sf) — for them the tolerance check upgrades
# the previous rows-only status to a real accuracy gate, as it does
# for ml_quality_docs (trained weights not replayable; teacher is).
TOLERANCE_CHECKS = {
    "hll_distinct_rollup_events": _hll_tolerance,
    "kll_quantile_rollup_events": _kll_tolerance,
    "distinct_users_sketch": _sketch_distinct_tolerance,
    "approx_quantiles_events": _approx_quantiles_tolerance,
    "ml_quality_docs": _ml_quality_tolerance,
}


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
        return problems
    if problems:
        return problems
    a, b = _canon(spark_df), _canon(oracle_df)
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]) and pd.api.types.is_float_dtype(b[c]):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            one_nan = np.isnan(av) != np.isnan(bv)
            if one_nan.any():
                i = int(np.argmax(one_nan))
                problems.append(
                    f"col {c}: NaN/null on one side at row {i}: "
                    f"spark={av[i]!r} oracle={bv[i]!r}"
                )
                continue
            both_nan = np.isnan(av) & np.isnan(bv)
            diff = np.abs(av - bv)
            diff[both_nan] = 0.0
            scale = np.maximum(np.abs(bv), 1.0)
            rel = np.nanmax(diff / scale) if len(diff) else 0.0
            if rel > 1e-9:
                problems.append(f"col {c}: max rel diff {rel:.3e}")
            elif rel > 0:
                problems.append(f"WARN col {c}: nonzero rel diff {rel:.3e} (exact-hash risk)")
        else:
            eq = (a[c].astype(str) == b[c].astype(str)) | (a[c].isna() & b[c].isna())
            if not eq.all():
                i = int(np.argmax(~eq.to_numpy()))
                problems.append(
                    f"col {c}: mismatch at row {i}: spark={a[c].iloc[i]!r} oracle={b[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from quantlab_data_pipeline_spark.localframe import materialized
    from quantlab_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="correctness-check")
    con = duckdb.connect()
    # big-sf oracle runs (self-joins, recursive CTEs) spill tens of GB;
    # keep that out of the repo working tree
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failed, warned = [], []
    n_checked = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        n_checked += 1
        try:
            with materialized():
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failed.append(name)
            print(f"[FAIL] {name}: spark error: {exc}")
            continue
        sql = oracles.get(name)
        if name in PYTHON_ORACLES:
            try:
                odf = PYTHON_ORACLES[name](con)
            except Exception as exc:  # noqa: BLE001
                failed.append(name)
                print(f"[FAIL] {name}: python oracle error: {exc}")
                continue
            # A row carrying BOTH a python oracle and a SQL oracle (the
            # image dHash family since the SQL replay landed) is checked
            # against BOTH — two independent reconstructions, either
            # mismatch fails the row. Exception: SQL replays that are
            # documented-infeasible at this sf (SQL_ORACLE_INFEASIBLE).
            if SQL_ORACLE_INFEASIBLE.get(name, lambda _: False)(sf_dir):
                print(
                    f"[note] {name}: sql-oracle cross-check skipped at "
                    f"this sf (documented infeasible-or-invalid); "
                    f"python oracle remains the gate"
                )
                sql = None
            if sql is not None:
                try:
                    odf2 = con.execute(sql).fetchdf()
                except Exception as exc:  # noqa: BLE001
                    failed.append(name)
                    print(f"[FAIL] {name}: sql oracle error: {exc}")
                    continue
                p2 = [
                    p
                    for p in compare(name, sdf, odf2)
                    if not p.startswith("WARN")
                ]
                if p2:
                    failed.append(name)
                    print(f"[FAIL] {name} (sql oracle): " + "; ".join(p2))
                    continue
        elif sql is None:
            if name in TOLERANCE_CHECKS:
                tol = TOLERANCE_CHECKS[name](con, sdf)
                if tol:
                    failed.append(name)
                    print(f"[FAIL] {name}: tolerance check failed: " + "; ".join(tol))
                else:
                    print(
                        f"[ok-tol] {name}: {len(sdf)} rows — no exact "
                        f"oracle by design, tolerance gate passed"
                    )
            else:
                print(f"[rows-only] {name}: {len(sdf)} rows")
            continue
        else:
            try:
                odf = con.execute(sql).fetchdf()
            except Exception as exc:  # noqa: BLE001
                failed.append(name)
                print(f"[FAIL] {name}: oracle error: {exc}")
                continue
        problems = compare(name, sdf, odf)
        hard = [p for p in problems if not p.startswith("WARN")]
        if hard and name in TOLERANCE_CHECKS:
            tol = TOLERANCE_CHECKS[name](con, sdf)
            if tol:
                failed.append(name)
                print(f"[FAIL] {name}: exact AND tolerance failed: " + "; ".join(tol))
            else:
                # ADVICE r7: keep the exact-compare findings visible so a
                # genuine small-magnitude regression at an sf where the
                # sketch is still exact cannot hide behind the band.
                print(
                    f"[ok-tol] {name}: {len(sdf)} rows — exact compare off at "
                    f"this sf (sketch boundary), estimate within error bound; "
                    "exact-compare said: " + "; ".join(hard)
                )
            continue
        if hard:
            failed.append(name)
            print(f"[FAIL] {name}: " + "; ".join(problems))
        elif problems:
            warned.append(name)
            print(f"[WARN] {name}: " + "; ".join(problems))
        else:
            print(f"[ok]   {name}: {len(sdf)} rows")
    n_requested = len(only) if only else len(queries)
    print(
        f"\n{n_checked - len(failed)}/{n_checked} ok"
        f" (checked {n_checked}/{n_requested} requested,"
        f" registry has {len(queries)})"
        + (f", warned: {warned}" if warned else "")
        + (f", FAILED: {failed}" if failed else "")
    )
    if only:
        missing = sorted(only - set(queries))
        if missing:
            print(f"NOT IN REGISTRY: {missing}")
            return 1
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
