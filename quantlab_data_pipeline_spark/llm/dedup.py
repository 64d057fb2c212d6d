"""Deduplication for training-data pipelines.

Five strategies, all shuffle-aware:

- exact:      content-hash groupBy (one shuffle on the hash)
- minhash:    shingle -> minhash signature -> banded LSH -> bucket join
              (candidate generation never compares all pairs)
- simhash:    64-bit near-dup fingerprint via per-bit token majority
- ngram:      exact Jaccard on shingle sets for candidate pairs
- embedding:  cosine near-dup over a random-hyperplane LSH bucket

Everything is built-in expressions (higher-order array functions,
md5-derived portable hashes) — no Python UDFs — so candidate
generation stays JVM-side at 100 TB. Signature width / band count
trade recall for shuffle volume. Since round 3 the minhash/simhash
families hash via md5 (``portable_hash32`` + Carter-Wegman slots)
instead of JVM-private xxhash64, so signatures replay bit-exact in
any engine (DuckDB oracles, persisted index migrations); xxhash64
remains only where the hash is engine-internal (band-slice bucket
keys, where hash equality == slice equality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..localframe import pin
from .text import with_fingerprint


def ensure_parallelism(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Spread a narrow scan across the cluster before heavy per-row work.

    A small parquet input arrives as 1-2 partitions, serializing the
    expensive expression stages behind it. If the partition count is
    below ``min_ratio`` x defaultParallelism, round-robin repartition —
    one cheap shuffle of raw rows buys full-width execution. At real
    scale the input already has enough splits and this is a no-op.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(1, int(target * min_ratio)):
        return df.repartition(target)
    return df


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: normalize -> md5 -> keep the smallest id per hash."""
    return (
        with_fingerprint(df, text_col)
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(text_col: str, k: int = 3) -> Column:
    """Distinct k-word shingles of lowercased word tokens (short docs
    collapse to their full text as one shingle). Tokenization and gram
    construction are shared with the corpus-statistics ops via
    :func:`..text.word_grams`."""
    from .text import word_grams

    return F.array_distinct(word_grams(text_col, k, short_doc="join"))


#: Carter-Wegman modulus for the MinHash slot family (Mersenne prime
#: 2^31-1). The base hash is < 2^32 and every multiplier < 2^31, so
#: a*h + b < 2^63 — no ANSI bigint overflow in either engine.
MINHASH_PRIME = 2147483647


def minhash_coefficients(num_hashes: int) -> list[tuple[int, int]]:
    """Fixed (a_i, b_i) Carter-Wegman coefficients, derived from md5 of
    the slot index — deterministic, seedless, and computable by any
    engine (the signature format is part of persisted dedup indexes, so
    it must not depend on JVM-private hashes)."""
    import hashlib

    def h(tag: str) -> int:
        return int(hashlib.md5(tag.encode()).hexdigest()[:16], 16)

    return [
        (h(f"cw_a:{i}") % (MINHASH_PRIME - 1) + 1, h(f"cw_b:{i}") % MINHASH_PRIME)
        for i in range(num_hashes)
    ]


def portable_hash32(col: Column) -> Column:
    """32-bit integer hash from the first 8 md5 hex chars — identical
    in Spark, DuckDB, Python, or any engine with md5 (same portability
    contract as :func:`..text.hash_uniform`)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document.

    Each shingle string is hashed ONCE (md5 → 32-bit int); the
    ``num_hashes`` signature slots are a Carter-Wegman universal family
    ``(a_i*h + b_i) mod 2^31-1`` over that base value — one string
    hash plus 64 multiply-add-mods per shingle instead of 64 string
    hashes, and (since round 3) fully engine-portable: DuckDB replays
    the exact signatures, so the LSH pipeline is oracle-checkable and a
    persisted signature index survives engine migrations (xxhash64 was
    JVM-private; md5 is universal).
    """
    base = F.transform(F.col("__shingles"), lambda s: portable_hash32(s))
    coeffs = minhash_coefficients(num_hashes)

    def slot(i: int) -> Column:
        a, b = coeffs[i]
        return F.array_min(
            F.transform(F.col("__h"), lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_PRIME)
        )

    slots = [slot(i) for i in range(num_hashes)]
    return (
        df.withColumn("__shingles", word_shingles(text_col, shingle_k))
        .filter(F.size("__shingles") > 0)
        .withColumn("__h", base)
        .select(
            F.col(id_col),
            F.array(*slots).alias("signature"),
            F.col("__shingles").alias("shingles"),
        )
    )


def band_buckets(
    signatures: DataFrame, id_col: str = "doc_id", bands: int = 16
) -> DataFrame:
    """(id, band_idx, band_hash) rows — one per band per signature.

    The shared banding step behind batch LSH (:func:`lsh_candidate_pairs`
    self-join) and the streaming bucket store
    (``streaming.dedup.streaming_minhash_candidates``): documents whose
    signatures agree on a whole band land in the same (band_idx,
    band_hash) bucket. Pure expressions — stream-safe. Callers validate
    that ``bands`` divides the signature length.
    """
    sig_len = F.size("signature")
    band_size = (sig_len / bands).cast("int")
    band = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band_idx"),
                F.xxhash64(
                    F.slice(F.col("signature"), b * band_size + 1, band_size)
                ).alias("band_hash"),
            ),
        )
    )
    return signatures.select(F.col(id_col), band.alias("b")).select(
        id_col, "b.band_idx", "b.band_hash"
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    sig_len_hint: int | None = None,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` equal bands, hash
    each band, and emit candidate pairs sharing any band bucket.

    The self-join keys on (band_idx, band_hash) — documents only meet if
    a whole band matches, so the shuffle carries (doc x bands) rows, not
    all pairs. Pair dedup keeps the lexicographically smaller id first.

    ``bands`` must divide the signature length: a non-divisor silently
    drops tail slots, and ``bands`` > length makes every band hash an
    empty slice (all docs collide into one bucket -> full cross product).
    Callers that know the length (``minhash_dedup_pairs`` passes its
    ``num_hashes``) validate for free via ``sig_len_hint``; otherwise a
    one-row probe job checks the data.
    """
    n = sig_len_hint
    if n is None:
        first = signatures.select(F.size("signature").alias("n")).first()
        n = first["n"] if first is not None else None
    if n is not None and (bands > n or n % bands):
        raise ValueError(
            f"bands={bands} must divide the signature length {n} "
            "(use choose_bands to pick a valid structure)"
        )
    buckets = band_buckets(signatures, id_col, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def choose_bands(num_hashes: int, threshold: float) -> int:
    """Band count whose LSH S-curve midpoint (1/b)^(1/r) sits closest
    to the target Jaccard threshold (b*r = num_hashes). A low threshold
    needs narrow bands (high recall, more candidates); a high one wide
    bands (fewer candidates)."""
    best_b, best_err = num_hashes, float("inf")
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        midpoint = (1.0 / b) ** (1.0 / r) if b > 1 else 1.0
        err = abs(midpoint - threshold)
        if err < best_err:
            best_b, best_err = b, err
    return best_b


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_k: int = 3,
    bands: int | None = None,
    threshold: float = 0.7,
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: signatures -> banded LSH
    candidates -> signature-estimated Jaccard >= threshold.

    ``bands`` defaults to the S-curve-matched structure for the
    threshold (:func:`choose_bands`) so recall tracks the requested
    similarity instead of a fixed 16-band layout.

    Signatures are pinned: three downstream branches (band buckets,
    pair side a, pair side b) would otherwise each recompute the
    shingle+64-hash stage — the most expensive part of the pipeline.
    """
    if bands is None:
        bands = choose_bands(num_hashes, threshold)
    sigs = pin(
        minhash_signatures(
            ensure_parallelism(df), id_col, text_col, num_hashes, shingle_k
        ).select(id_col, "signature")  # shingles are dead weight here
    )
    cands = lsh_candidate_pairs(sigs, id_col, bands, sig_len_hint=num_hashes)
    sa = sigs.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a")
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.size("sig_a")
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard_est", F.round(est, 6))
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    block_chars: int = 40,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup with composite blocking.

    Candidates must share a ``block_chars`` text prefix AND sit in the
    same or adjacent log-size bucket; exact Jaccard on distinct shingle
    sets decides. SQL-oracle-expressible, unlike the MinHash estimate.

    The size bucket is what keeps a boilerplate-heavy corpus (one hot
    prefix shared by millions of docs) from collapsing into a single
    quadratic task: J(A,B) >= t forces |B| <= |A|/t, so with bucket
    ratio r >= 1/t a matching pair differs by at most one bucket —
    probing each doc's own bucket plus the next is EXACT, and the hot
    prefix splits across ~log_r(max_size) join keys. The probe row is
    flagged so a pair meeting on both keys is emitted once, not
    deduped after the fact. Candidate keys shuffle as narrow
    (id, block, bucket) triples; shingle arrays join back by id only
    for surviving candidates.
    """
    import math

    ratio = max(1.0 / threshold, 1.25)
    base = pin(  # keys + two shingle gathers
        ensure_parallelism(df).select(
            F.col(id_col),
            F.substring(F.col(text_col), 1, block_chars).alias("block"),
            word_shingles(text_col, shingle_k).alias("sh"),
        ).withColumn(
            "bkt",
            F.floor(F.log(F.size("sh").cast("double")) / math.log(ratio)).cast("int"),
        )
    )
    keys = base.select(
        F.col(id_col),
        "block",
        F.explode(
            F.array(
                F.struct(F.col("bkt").alias("k"), F.lit(True).alias("own")),
                F.struct((F.col("bkt") + 1).alias("k"), F.lit(False).alias("own")),
            )
        ).alias("kb"),
    ).select(id_col, "block", "kb.k", "kb.own")
    a = keys.select(F.col(id_col).alias("id_a"), "block", "k", F.col("own").alias("own_a"))
    b = keys.select(F.col(id_col).alias("id_b"), "block", "k", F.col("own").alias("own_b"))
    cands = (
        a.join(b, ["block", "k"])
        .filter(F.col("id_a") < F.col("id_b"))
        # a pair one bucket apart meets once (own+probe); an equal-bucket
        # pair also meets at (b+1) as probe+probe — drop that duplicate
        .filter(F.col("own_a") | F.col("own_b"))
        .select("id_a", "id_b")
    )
    sa = base.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    shingle_k: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Flag training documents that leak evaluation data: a doc is
    contaminated when >= ``min_hits`` of its distinct ``shingle_k``-gram
    shingles appear anywhere in the benchmark corpus.

    Scale shape: both sides explode to (id, shingle-hash) rows; the
    benchmark's distinct hash set — eval suites are tiny next to a
    pretraining corpus — broadcasts to every executor, so the corpus is
    matched in a single map-side pass with no shuffle of the corpus
    itself, then hit counts aggregate per doc id. 8-gram default
    follows common decontamination practice (long enough that chance
    collisions are rare, short enough to catch paraphrased splices).
    """
    doc_sh = docs.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_k)).alias("sh")
    ).select(id_col, F.xxhash64("sh").alias("h"))
    bench_sh = (
        benchmark.select(
            F.explode(word_shingles(bench_text_col, shingle_k)).alias("sh")
        )
        .select(F.xxhash64("sh").alias("h"))
        .distinct()
    )
    hits = (
        doc_sh.join(F.broadcast(bench_sh), "h")
        .groupBy(id_col)
        .agg(F.count("*").alias("contamination_hits"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn(
            "contamination_hits",
            F.coalesce(F.col("contamination_hits"), F.lit(0)).cast("long"),
        )
        .withColumn("contaminated", F.col("contamination_hits") >= min_hits)
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash: hash each distinct token, take the per-bit
    majority (+1/-1) over tokens, pack signs into a long.

    Implemented as an explode + 64 conditional sums — one shuffle on
    the doc id, all JVM-side. The 64 token-hash bits come from the
    first two 32-bit quarters of one md5 per token (hex chars 1-8 and
    9-16) rather than xxhash64, so since round 3 the fingerprints are
    engine-portable and the whole banded pipeline replays in DuckDB
    (see ``queries_ext._simhash_oracle_sql``).
    """
    words = F.explode(
        F.array_distinct(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0)
        )
    )
    md5 = F.md5("tok")
    tok = (
        ensure_parallelism(df)
        .select(F.col(id_col), words.alias("tok"))
        .withColumn("lo", F.conv(F.substring(md5, 1, 8), 16, 10).cast("bigint"))
        .withColumn("hi", F.conv(F.substring(md5, 9, 8), 16, 10).cast("bigint"))
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright("lo" if i < 32 else "hi", i % 32).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    sums = tok.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ) * F.lit(1 << i).cast("long") if i < 63 else F.when(
            F.col(f"b{i}") > 0, F.lit(-(1 << 63)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else fp + term
    return sums.select(F.col(id_col), fp.alias("simhash"))


def bit_bands(df: DataFrame, fp_col: str, bands: int, keep: list[str]) -> DataFrame:
    """(*keep, band_idx, band_val): one row per bit-band of the 64-bit
    fingerprint ``fp_col`` — ``bands`` bands of ``64 // bands`` bits,
    band i holding bits [i*width, (i+1)*width). The banding of SimHash
    pairs and of the persisted media index."""
    width = 64 // bands
    # Signed-64 view of the low-`width` ones-mask: at bands=1 (e.g.
    # max_hamming=0 exact matching) the band is the whole fingerprint
    # and (1 << 64) - 1 overflows a Java long, but its two's-complement
    # value -1 is the same 64 set bits.
    m = (1 << width) - 1
    mask = F.lit(m - (1 << 64) if m >= 1 << 63 else m).cast("long")
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftrightunsigned(F.col(fp_col), i * width)
                    .bitwiseAND(mask)
                    .alias("band_val"),
                )
                for i in range(bands)
            ]
        )
    )
    return df.select(*keep, band.alias("b")).select(*keep, "b.band_idx", "b.band_val")


def simhash_near_dup_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 7,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with banded blocking.

    The 64-bit fingerprint is split into ``bands`` equal bit-bands;
    candidates must share at least one band (pigeonhole: any pair with
    hamming < ``bands`` is guaranteed a clean band, so recall is exact
    for ``max_hamming`` <= bands-1). The self-join keys on
    (band_idx, band_value) — bucketed, never all-pairs.

    ``bands`` defaults to ``max_hamming + 1`` — the pigeonhole MINIMUM,
    which is also the SCALE-OPTIMAL choice: recall is exact for every
    bands >= max_hamming+1 and the final hamming filter is unchanged,
    so the OUTPUT is identical for any valid bands — but fewer bands
    mean wider band values (64/bands bits), exponentially more
    selective buckets, and fewer join candidates. 16 bands at
    max_hamming=2 key on 4-bit values (16 buckets per band — a
    quadratic candidate blowup at crawl scale); the minimal 3 bands
    key on 21-bit values (2M buckets — candidates stay ~linear). The
    round-7 100k-asset probe measured the difference directly
    (scripts/multimodal_scaling_probe.py). Bits beyond bands*(64//bands)
    are uncovered by any band, which only HELPS recall (differences
    there dirty no band).
    """
    if bands is None:
        bands = max_hamming + 1
    if bands < max_hamming + 1:
        raise ValueError(
            f"bands={bands} breaks pigeonhole recall for "
            f"max_hamming={max_hamming}; need bands >= max_hamming+1"
        )
    # Both self-join sides reuse the fingerprints; without a pin the
    # explode+64-bit-sum aggregation upstream runs twice.
    buckets = bit_bands(pin(fingerprints), "simhash", bands, [id_col, "simhash"])
    a = buckets.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"),
        "band_idx", "band_val",
    )
    b = buckets.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"),
        "band_idx", "band_val",
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


_DEDUP_UNITS = {"line": ("\n", "\n"), "paragraph": ("\n\\s*\n", "\n\n")}


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 15,
    unit: str = "line",
) -> DataFrame:
    """C4-style global span dedup (Raffel et al. 2020 §2.2): a line (or
    paragraph, with ``unit="paragraph"`` — C4's own granularity is the
    three-sentence span) occurring anywhere else in the corpus survives
    only at its first occurrence — the standard boilerplate killer
    (nav bars, cookie banners, license footers) that document-level
    dedup cannot see.

    First occurrence = smallest (doc id, line position), so the result
    is deterministic and engine-independent. Lines shorter than
    ``min_chars`` after trimming (headings, blank separators, "Home")
    pass through untouched — dropping those would shred normal prose
    structure. Documents keep their surviving lines in original order;
    ``n_lines_dropped`` counts removals per document.

    Scale shape: keyed shuffles only, never a pairwise comparison —
    (1) winner per line hash (map-side-combined ``min`` agg: partial
    state is one small struct per distinct line per task, so even a
    corpus-wide boilerplate line is absorbed map-side, no hot key);
    (2) exploded lines join winners on the hash — the winners side
    carries only (hash, winning id, position); (3) documents reassemble
    on the doc id; (4) surviving text joins back to the untouched
    metadata columns on the doc id. Shuffle volume is bounded by the
    exploded line set — linear in corpus size, and AQE coalesces the
    post-explode partitioning.
    """
    if unit not in _DEDUP_UNITS:
        raise ValueError(f"unit must be one of {sorted(_DEDUP_UNITS)}, got {unit!r}")
    split_pat, joiner = _DEDUP_UNITS[unit]
    # A null id can neither win a first-occurrence nor survive the
    # reassembly equi-join (null != null) — without this split such
    # rows would silently vanish. They pass through untouched instead;
    # ids are otherwise assumed unique (two docs sharing an id would
    # have their lines merged into one reassembled text).
    null_ids = df.filter(F.col(id_col).isNull()).withColumn(
        "n_lines_dropped", F.lit(0).cast("long")
    )
    df = df.filter(F.col(id_col).isNotNull())
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = (
        df.select(F.col(id_col), F.posexplode(F.split(t, split_pat)).alias("__idx", "__line"))
        .withColumn("__norm", F.trim(F.lower(F.col("__line"))))
        .withColumn("__eligible", F.length("__norm") >= min_chars)
        .withColumn("__key", F.md5(F.col("__norm")))
    )
    winners = (
        lines.filter("__eligible")
        .groupBy("__key")
        .agg(F.min(F.struct(F.col(id_col), F.col("__idx"))).alias("__first"))
    )
    kept = (
        lines.join(winners, "__key", "left")
        .withColumn(
            "__keep",
            ~F.col("__eligible")
            | (
                (F.col("__first")[id_col] == F.col(id_col))
                & (F.col("__first.__idx") == F.col("__idx"))
            ),
        )
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("__idx", "__line"))
                    )
                ),
                lambda s: s["__line"],
            ),
            joiner,
        ).alias("__new_text"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0)).cast("long").alias(
            "n_lines_dropped"
        ),
    )
    others = [c for c in df.columns if c != text_col]
    deduped = (
        df.select(*others)
        .join(rebuilt, id_col)
        .withColumnRenamed("__new_text", text_col)
        .select(*df.columns, "n_lines_dropped")
    )
    return deduped.unionByName(null_ids.select(*df.columns, "n_lines_dropped"))


def repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    top: int = 1000,
) -> DataFrame:
    """Corpus-wide repeated k-token span mining (the detection half of
    exact-substring dedup, Lee et al. 2021): every k-word gram occurring
    in at least ``min_count`` documents, with its document frequency and
    the smallest carrying doc id as an example — the boilerplate report
    that decides what :func:`dedup_lines` / template scrubbing should
    target.

    Scale shape: tokenize+explode is map-side over the scan; the count
    aggregates with a map-side partial keyed on the span hash (the
    span string rides along via ``min``), and only spans clearing
    ``min_count`` survive to the ``top``-k TakeOrdered. Nothing
    corpus-sized is collected or joined.
    """
    from .text import word_grams

    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_grams(text_col, k))).alias("span"),
    )
    return (
        grams.groupBy(F.xxhash64("span").alias("__h"))
        .agg(
            F.min("span").alias("span"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("example_id"),
        )
        .filter(F.col("n_docs") >= min_count)
        .select("span", "n_docs", "example_id")
        .orderBy(F.desc("n_docs"), F.asc("span"))
        .limit(top)
    )


def remove_repeated_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    top: int = 1000,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Removal half of exact-substring dedup (Lee et al. 2021,
    arXiv:2107.06499, the scrubbing stage the reference pipeline has no
    analogue for): cut every occurrence of a corpus-frequent k-token
    span (``spans`` defaults to :func:`repeated_spans` over the same
    corpus) out of each document's token stream and rebuild the text
    from the surviving tokens.

    Output: the input columns plus ``clean_text`` (surviving tokens
    joined by single spaces — token-normalized, like every token-level
    scrubber), ``n_spans_hit`` (distinct hit positions) and
    ``n_tokens_removed``.

    Scale shape: the gram explode is map-side over the scan and
    immediately narrowed to (id, pos, xxhash64(gram)) — gram *strings*
    never shuffle; the frequent-span set is ``top``-bounded and
    broadcast, so hit detection is a map-side BroadcastHashJoin; one
    shuffle keys the hit positions by doc id; the rebuild is pure array
    expressions (no Python). Nothing corpus-sized is collected.
    """
    from .text import _tokens, word_grams

    if spans is None:
        spans = repeated_spans(docs, k, min_count, id_col, text_col, top)
    span_keys = spans.select(F.xxhash64("span").alias("__sh")).distinct()

    text = F.coalesce(F.col(text_col), F.lit(""))
    hits = (
        docs.select(
            F.col(id_col), F.posexplode(word_grams(text, k)).alias("__p", "__g")
        )
        .select(id_col, "__p", F.xxhash64("__g").alias("__gh"))
        .join(F.broadcast(span_keys), F.col("__gh") == F.col("__sh"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__p")).alias("__hits"))
    )

    toks = _tokens(text)
    n = F.size(toks)
    # sequence(1, 0) would DESCEND ([1, 0]) — guard the empty doc.
    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    ps = F.coalesce(F.col("__hits"), F.array().cast("array<int>"))
    # token i (1-based) is covered iff some hit position p (0-based gram
    # start) satisfies p <= i-1 < p+k
    kept = F.filter(
        idx, lambda i: ~F.exists(ps, lambda p: (i - 1 >= p) & (i - 1 < p + k))
    )
    out = (
        docs.join(hits, id_col, "left")
        .withColumn("__toks", toks)
        .withColumn("__kept", kept)
        .withColumn(
            "clean_text",
            F.array_join(
                F.transform(F.col("__kept"), lambda i: F.element_at("__toks", i)),
                " ",
            ),
        )
        .withColumn("n_spans_hit", F.size(ps))
        .withColumn(
            "n_tokens_removed", F.size("__toks") - F.size("__kept")
        )
    )
    return out.select(*docs.columns, "clean_text", "n_spans_hit", "n_tokens_removed")


def fuzzy_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int | None = None,
    threshold: float = 0.5,
) -> DataFrame:
    """Flag training documents that are NEAR-duplicates of evaluation
    data — the fuzzy complement to :func:`decontaminate`'s exact
    8-gram overlap: a lightly paraphrased or partially re-worded eval
    answer shares few exact 8-grams but keeps a high shingle-set
    Jaccard, which the MinHash estimate catches.

    Scale shape: both sides band their signatures and meet in a
    bipartite (band_idx, band_hash) equi-join — never corpus x eval
    pairs; the eval side is tiny, so its band keys broadcast and the
    corpus is matched map-side. Returns every training doc with
    ``fuzzy_hits`` (count of eval docs with estimated Jaccard >=
    ``threshold``) and the ``fuzzy_contaminated`` flag. Engine-portable
    signatures (round 3) make the whole check oracle-replayable.
    ``bands`` defaults to the S-curve match for ``threshold``
    (:func:`choose_bands`) — a fixed band count silently drops true
    pairs near a lower threshold before the estimate ever runs.
    """
    if bands is None:
        bands = choose_bands(num_hashes, threshold)
    d_sigs = pin(
        minhash_signatures(
            ensure_parallelism(docs), id_col, text_col, num_hashes
        ).select(id_col, "signature")
    )
    b_sigs = pin(
        minhash_signatures(benchmark, id_col, text_col, num_hashes).select(
            id_col, "signature"
        )
    )
    d_keys = band_buckets(d_sigs, id_col, bands).select(
        F.col(id_col).alias("train_id"), "band_idx", "band_hash"
    )
    b_keys = band_buckets(b_sigs, id_col, bands).select(
        F.col(id_col).alias("bench_id"), "band_idx", "band_hash"
    )
    cands = (
        d_keys.join(F.broadcast(b_keys), ["band_idx", "band_hash"])
        .select("train_id", "bench_id")
        .distinct()
    )
    agree = F.size(
        F.filter(F.zip_with("sig_t", "sig_b", lambda a, b: a == b), lambda m: m)
    )
    hits = (
        cands.join(
            d_sigs.select(
                F.col(id_col).alias("train_id"),
                F.col("signature").alias("sig_t"),
            ),
            "train_id",
        )
        .join(
            b_sigs.select(
                F.col(id_col).alias("bench_id"),
                F.col("signature").alias("sig_b"),
            ),
            "bench_id",
        )
        .withColumn("est", F.round(agree / F.lit(float(num_hashes)), 6))
        .filter(F.col("est") >= threshold)
        .groupBy("train_id")
        .agg(F.count(F.lit(1)).alias("fuzzy_hits"))
    )
    return (
        docs.select(id_col)
        .join(hits, docs[id_col] == hits["train_id"], "left")
        .select(
            id_col,
            F.coalesce("fuzzy_hits", F.lit(0)).alias("fuzzy_hits"),
            F.col("fuzzy_hits").isNotNull().alias("fuzzy_contaminated"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_frac: float = 0.3,
    min_docs: int = 2,
) -> DataFrame:
    """Per-domain boilerplate removal (the RefinedWeb/CCNet variant of
    line filtering): a line appearing in at least ``min_frac`` of a
    DOMAIN's documents (and at least ``min_docs`` of them) is site
    template — nav bars, footers, cookie banners — and is dropped from
    every document of that domain. Orthogonal to :func:`dedup_lines`
    (C4's global first-occurrence rule): boilerplate is removed from
    the FIRST document too, and a line common in one domain survives
    untouched in another.

    Exact-match lines (split on newline, no trimming — the conservative
    contract; normalize upstream if needed). A line repeated within one
    document counts that document ONCE toward the fraction. The
    threshold compares cross-multiplied integers
    (``doc_freq * 1000 >= round(min_frac * 1000) * n_docs``) so the cut
    is engine-exact, never a float ratio.

    Returns (id, domain, clean_text, n_lines_kept, n_lines_dropped);
    null text passes through as null. Scale shape: lines explode
    map-side; the frequency count shuffles (domain, line) pairs with
    map-side combine; the boilerplate set joins back by (domain, line)
    equi-join; reassembly aggregates each document's surviving
    (pos, line) pairs — every shuffle is line- or doc-keyed, nothing
    domain-sized concentrates in one task.
    """
    lines = df.select(
        F.col(id_col),
        F.col(domain_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("__pos", "__line"),
    )
    freq = (
        lines.select(domain_col, "__line", id_col)
        .distinct()
        .groupBy(domain_col, "__line")
        .agg(F.count(F.lit(1)).alias("__doc_freq"))
    )
    # n_docs counts only docs that CONTRIBUTE lines (non-null text):
    # the exploded `lines` frame drops null-text docs, so doc_freq is
    # measured over that universe — counting null-text rows in the
    # denominator would deflate doc_freq/n_docs and under-remove
    # boilerplate on domains with many null-text docs (ADVICE r8).
    ndocs = (
        df.filter(F.col(text_col).isNotNull())
        .groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("__n_docs"))
    )
    thr = int(round(float(min_frac) * 1000))
    bp = (
        freq.join(ndocs, domain_col)
        .filter(
            (F.col("__doc_freq") >= F.lit(int(min_docs)))
            & (F.col("__doc_freq") * 1000 >= F.lit(thr) * F.col("__n_docs"))
        )
        .select(domain_col, "__line")
    )
    kept = lines.join(bp, [domain_col, "__line"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n_lines"))
    return (
        df.select(id_col, domain_col, F.col(text_col).alias("__text"))
        .join(rebuilt, id_col, "left")
        .join(totals, id_col, "left")
        .select(
            id_col,
            domain_col,
            F.when(F.col("__text").isNotNull(),
                   F.coalesce("clean_text", F.lit(""))).alias("clean_text"),
            F.when(
                F.col("__text").isNotNull(),
                F.coalesce("n_lines_kept", F.lit(0)),
            ).alias("n_lines_kept"),
            F.when(
                F.col("__text").isNotNull(),
                F.coalesce("__n_lines", F.lit(0))
                - F.coalesce("n_lines_kept", F.lit(0)),
            ).alias("n_lines_dropped"),
        )
    )


def ngram_novelty(
    df: DataFrame,
    reference: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc n-gram novelty against a reference corpus: how many of a
    doc's k-gram occurrences were never seen in the reference. The
    memorization / regurgitation metric of eval pipelines (Carlini et
    al.'s extraction studies measure exactly this overlap) and the
    soft sibling of decontamination: instead of a keep/drop verdict, a
    per-doc (n_grams, n_novel) pair callers can threshold or average.

    Counts are over gram OCCURRENCES (repeats count), so the ratio is
    a length-weighted overlap, not a set Jaccard. Docs with fewer than
    ``k`` words have zero grams and report (0, 0) — fully determined,
    never null. Grams come from :func:`..text.word_grams`, the single
    shared tokenizer, so novelty and decontamination can never drift.

    Scale shape: one equi-join of exploded (id, gram) pairs against
    the DISTINCT reference gram set — the reference never self-joins,
    the corpus shuffles once on the gram key. At reference sets too
    large even for that shuffle, put :mod:`.bloom` in front: bloom the
    reference grams once and only join the bloom-positive occurrences
    (no false negatives means misses are exact; the join then confirms
    the sliver, same composition as ``bloom_prefilter_anti_join``).
    """
    from .text import word_grams

    ref_grams = (
        reference.select(
            F.explode(word_grams(text_col, k)).alias("gram")
        )
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    occ = df.select(
        F.col(id_col), F.explode(word_grams(text_col, k)).alias("gram")
    )
    counts = (
        occ.join(ref_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(
                F.when(F.col("__seen").isNull(), 1).otherwise(0)
            ).cast("long").alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0).cast("long")).alias("n_grams"),
            F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
        )
    )


def dup_attribution(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source duplicate attribution matrix: for every unordered
    pair of sources, how much exact-duplicate mass they share. The
    curation question this answers is "which of my data vendors /
    crawl snapshots overlap, and by how much?" — the report that
    decides whether a source is worth its license fee or is 80%
    re-crawl of one you already have (the overlap audits in the Pile
    and RefinedWeb papers are exactly this table).

    One row per source pair (``source_a`` < ``source_b``; null
    sources drop out of the matrix — a document with no source cannot
    be attributed to one, and SQL's null comparison removes it from
    the pair filter in both engines): ``n_groups`` = distinct
    duplicate-text groups both sources share, ``n_pairs`` = total
    cross-source doc pairs (a group with 2 copies in A and 3 in B
    contributes 6), ``n_docs_a`` / ``n_docs_b`` = this pair's doc
    counts inside those shared groups.

    Scale shape: hash the text once (md5 — the same portable key the
    exact-dedup row uses), aggregate to the (hash, source) grain
    FIRST (one corpus-keyed shuffle, output bounded by
    |distinct texts| x |sources|), then self-join that aggregate on
    the hash key. Per-hash fan-out is at most the source count — a
    handful — so the self-join is skew-proof by construction and
    never touches document rows. The corpus itself shuffles exactly
    once.
    """
    per_source = (
        df.select(
            F.md5(F.col(text_col)).alias("__h"), F.col(source_col)
        )
        .filter(F.col("__h").isNotNull())
        .groupBy("__h", source_col)
        .agg(F.count("*").cast("long").alias("__n"))
    )
    a = per_source.select(
        F.col("__h"),
        F.col(source_col).alias("source_a"),
        F.col("__n").alias("__na"),
    )
    b = per_source.select(
        F.col("__h"),
        F.col(source_col).alias("source_b"),
        F.col("__n").alias("__nb"),
    )
    pairs = a.join(b, "__h").filter(F.col("source_a") < F.col("source_b"))
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_groups"),
        F.sum(F.col("__na") * F.col("__nb")).cast("long").alias("n_pairs"),
        F.sum("__na").cast("long").alias("n_docs_a"),
        F.sum("__nb").cast("long").alias("n_docs_b"),
    )
