"""Distributed BPE trainer/encoder (llm/bpe.py) vs a from-scratch
python reference (Sennrich et al. 2016 pseudocode, same tie-break)."""

from __future__ import annotations

import re
from collections import Counter

import pytest

END = "</w>"

CORPUS = [
    (1, "low lower lowest low low"),
    (2, "new newer newest new newer"),
    (3, "wider wide wide wider widest"),
    (4, "low new wide lower newer"),
]


def _ref_word_freqs(rows):
    c = Counter()
    for _, t in rows:
        c.update(re.findall(r"[a-z0-9]+", t.lower()))
    return c


def _ref_train(rows, num_merges, min_pair_freq=2):
    freqs = {
        tuple(list(w) + [END]): f for w, f in _ref_word_freqs(rows).items()
    }
    merges = []
    for _ in range(num_merges):
        pairs = Counter()
        for toks, f in freqs.items():
            for a, b in zip(toks, toks[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        # max count, then lexicographically smallest pair — the pinned
        # tie-break the distributed trainer uses
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_freq:
            break
        (l, r), _ = best
        merges.append((l, r))
        new = {}
        for toks, f in freqs.items():
            out = []
            for t in toks:
                if out and out[-1] == l and t == r:
                    out[-1] = l + r
                else:
                    out.append(t)
            new[tuple(out)] = new.get(tuple(out), 0) + f
        freqs = new
    return merges


def _ref_encode(word, merges):
    ranks = {p: i for i, p in enumerate(merges)}
    toks = list(word) + [END]
    while len(toks) > 1:
        cand = [
            (ranks[(a, b)], j)
            for j, (a, b) in enumerate(zip(toks, toks[1:]))
            if (a, b) in ranks
        ]
        if not cand:
            break
        _, j = min(cand)
        toks[j : j + 2] = [toks[j] + toks[j + 1]]
    return toks


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_train_matches_reference(spark, docs):
    from quantlab_data_pipeline_spark.llm.bpe import train_bpe

    got = train_bpe(docs, num_merges=12)
    exp = _ref_train(CORPUS, 12)
    assert got == exp
    assert len(got) >= 6  # the corpus genuinely supports many merges


def test_train_is_partitioning_invariant(spark, docs):
    from quantlab_data_pipeline_spark.llm.bpe import train_bpe

    one = train_bpe(docs.coalesce(1), num_merges=6)
    many = train_bpe(docs.repartition(7), num_merges=6)
    assert one == many


def test_encode_matches_reference_and_counts(spark, docs):
    from quantlab_data_pipeline_spark.llm.bpe import bpe_encode, train_bpe

    merges = train_bpe(docs, num_merges=10)
    got = {
        r["doc_id"]: (list(r["tokens"]), r["n_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    for doc_id, text in CORPUS:
        exp = []
        for w in re.findall(r"[a-z0-9]+", text.lower()):
            exp.extend(_ref_encode(w, merges))
        assert got[doc_id][0] == exp, doc_id
        assert got[doc_id][1] == len(exp)


def test_encode_null_text_and_no_merges(spark):
    from quantlab_data_pipeline_spark.llm.bpe import bpe_encode

    df = spark.createDataFrame(
        [(1, None), (2, "ab")], "doc_id long, text string"
    )
    got = {r["doc_id"]: list(r["tokens"]) for r in bpe_encode(df, []).collect()}
    assert got[1] == []
    assert got[2] == ["a", "b", END]  # char fallback under zero merges
