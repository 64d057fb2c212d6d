"""Document-corpus intake: JSONL / CSV readers with declared schemas
and corrupt-record quarantine.

Web-scale text corpora arrive as line-delimited JSON (one doc per line —
the Common Crawl / Dolma / RedPajama interchange shape) or CSV exports.
Both are line-splittable, so a 100 TB corpus parallelizes by input
split with no coordination; the two rules that keep intake scan-shaped:

- **Declare the schema.** Schema inference is a full extra pass over
  the data before the real read; a declared schema makes intake
  single-pass and pins column types against drifting producers.
- **Quarantine, don't crash.** One malformed line in a terabyte shard
  must not kill the job (FAILFAST) or silently vanish (DROPMALFORMED).
  PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps bad lines as
  raw strings in a side column; :func:`split_corrupt` separates them
  into a quarantine frame for inspection/repair while clean rows flow
  on. (Spark requires the corrupt column to be reachable via a cache
  boundary — filtering it straight off the lazy reader is documented
  as unreliable, hence the ``cache()``.)

The reference pipeline reads only parquet/WRDS (SURVEY §2.1); this is
part of the beyond-parity corpus-intake surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import pin

DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars int"
)
CORRUPT_COL = "_corrupt_record"


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Read a JSONL corpus with a declared schema. Malformed lines land
    in ``_corrupt_record`` (PERMISSIVE); use :func:`split_corrupt` to
    separate them. ``multiLine`` stays False — multiline JSON is not
    splittable and would serialize the whole file through one task."""
    return (
        spark.read.schema(f"{schema}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv_corpus(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
    header: bool = True,
) -> DataFrame:
    """CSV twin of :func:`read_jsonl_corpus` (same quarantine contract).
    ``multiLine`` is off, so quoted embedded newlines are unsupported —
    corpora with raw newlines in text belong in JSONL/parquet."""
    return (
        spark.read.schema(f"{schema}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .csv(path)
    )


def split_corrupt(raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean, quarantine): clean rows with the corrupt column dropped,
    and the raw text of every malformed line. The pin is required
    correctness, not an optimization — Spark documents that filtering
    on the corrupt column directly against the lazy file reader may
    see it unpopulated."""
    raw = pin(raw)
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_line")
    )
    return clean, quarantine


def write_jsonl_corpus(
    df: DataFrame,
    path: str,
    shards: int | None = None,
    shard_col: str = "doc_id",
    compression: str | None = None,
    one_file_per_shard: bool = False,
) -> None:
    """Export a curated corpus as line-delimited JSON — the interchange
    shape training stacks consume (Dolma/RedPajama style), and the
    inverse of :func:`read_jsonl_corpus`.

    ``shards`` adds a deterministic ``shard = pmod(shard_col, shards)``
    Hive partition column, so the export is addressable per shard
    (``{path}/shard=K/``) and re-runs land identical rows in identical
    shards. Default shape is SCAN-ONLY: each input partition streams
    its rows into its shard directories with no shuffle — the right
    plan at 100 TB, at the cost of (input partitions x shards) files.
    ``one_file_per_shard`` instead hash-repartitions on the shard key
    first (one exchange, exactly one file per shard) — only sane when
    ``shards`` is large enough that a single shard fits one task.

    ``compression``: any Spark JSON codec (``gzip``, ``zstd``, ...).
    JSONL stays line-splittable uncompressed or with splittable codecs;
    gzip shards are whole-file units, so size shards accordingly.
    """
    out = df
    writer_df = out
    if shards is not None:
        if shards <= 0:
            raise ValueError(f"shards={shards} must be positive")
        out = df.withColumn(
            "shard",
            F.pmod(F.col(shard_col).cast("long"), F.lit(shards)).cast("int"),
        )
        writer_df = out.repartition("shard") if one_file_per_shard else out
    writer = writer_df.write.mode("overwrite")
    if shards is not None:
        writer = writer.partitionBy("shard")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def export_manifest(
    spark: SparkSession,
    path: str,
    schema: str = DOCUMENTS_SCHEMA,
) -> DataFrame:
    """Per-shard manifest of a sharded JSONL export, computed by
    READING THE EXPORT BACK (one aggregation over the written files, no
    driver-side listing): (shard, n_docs, chars_total, text_chars,
    min_doc_id, max_doc_id). Because the stats come from the re-read,
    the manifest doubles as a round-trip check — a JSON escaping bug or
    a dropped row changes ``text_chars``/``n_docs`` against the source
    corpus."""
    back = spark.read.schema(f"{schema}, shard int").json(path)
    return back.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum(F.length("text")).cast("long").alias("text_chars"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
