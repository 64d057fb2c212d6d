"""Source-adapter tests that run without a WRDS server: the JDBC
reader's pushdown SQL and membership-filter strategy, and the FRED
fetcher's parse-with-reject semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from quantlab_data_pipeline_spark.sources.fred import fetch_macro, synthetic_fred_fetcher
from quantlab_data_pipeline_spark.sources.wrds import (
    JdbcWrdsSource,
    SyntheticWrdsSource,
    _semi_filter,
)


def test_semi_filter_small_list_is_in_predicate(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    out = _semi_filter(df, "k", [3, 5, 7])
    assert sorted(r["k"] for r in out.collect()) == [3, 5, 7]
    # small lists stay a Filter (no join node in the plan)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan


def test_semi_filter_large_list_is_semi_join(spark):
    df = spark.range(5000).withColumnRenamed("id", "k")
    wanted = list(range(0, 4000, 2))  # 2000 values > threshold
    out = _semi_filter(df, "k", wanted)
    assert out.count() == len(wanted)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_semi_filter_large_list_is_a_local_scan(spark):
    """The >1000-value key frame is an Arrow-built local scan typed like
    the filtered column, not a Python RDD."""
    df = spark.range(5000).select(F.col("id").cast("int").alias("k"))
    out = _semi_filter(df, "k", list(range(0, 4000, 2)))
    plan = _plan(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert out.count() == 2000


def test_jdbc_queries_push_predicates_serverside(spark):
    """No live server needed: the reader's SQL must carry the date
    predicates (the reference pushes them in every query) and never
    string-splice id lists (its _sql_list injection hazard)."""
    captured = []

    class Probe(JdbcWrdsSource):
        def _read(self, query, partition_on_date=None):
            captured.append((query, partition_on_date))
            # return an empty frame of plausible shape for chaining
            return spark.createDataFrame([], "permno long, asset_id long, "
                                             "ticker string, gvkey string, date date")

    src = Probe(spark)
    src.daily_prices([1, 2], "2020-01-01", "2020-12-31")
    src.fundamentals(["001"], "2020-01-01", "2020-12-31")
    src.sp500_universe("2020-01-01", "2020-12-31")

    prices_q, prices_part = captured[0]
    assert "between '2020-01-01' and '2020-12-31'" in prices_q
    assert prices_part == ("2020-01-01", "2020-12-31")  # parallel date read
    assert "in (" not in prices_q.lower()  # membership is Spark-side

    funda_q, _ = captured[1]
    assert "indfmt='INDL'" in funda_q and "between" in funda_q

    uni_q, _ = captured[2]
    assert "crsp.dsp500list" in uni_q


def test_synthetic_source_is_deterministic(spark):
    a = SyntheticWrdsSource(spark, n_assets=4, seed=7)
    b = SyntheticWrdsSource(spark, n_assets=4, seed=7)
    pa = a.daily_prices(a._permnos(), "2020-01-01", "2020-02-28").toPandas()
    pb = b.daily_prices(b._permnos(), "2020-01-01", "2020-02-28").toPandas()
    assert pa.equals(pb)
    c = SyntheticWrdsSource(spark, n_assets=4, seed=8)
    pc = c.daily_prices(c._permnos(), "2020-01-01", "2020-02-28").toPandas()
    assert not pa["ret"].equals(pc["ret"])


def test_fred_fetch_rejects_non_numeric(spark):
    fetched = synthetic_fred_fetcher()("CPIAUCSL", "2020-01-01", "2020-12-31")
    assert any(o["value"] == "." for o in fetched)  # generator emits markers
    df = fetch_macro(spark, "2020-01-01", "2020-12-31",
                     series=["CPIAUCSL"], fetcher=synthetic_fred_fetcher())
    out = df.toPandas()
    assert len(out) == sum(1 for o in fetched if o["value"] != ".")
    assert out["value"].notna().all()


def test_fred_fetch_empty_series(spark):
    df = fetch_macro(spark, "2020-01-01", "2020-12-31", series=[],
                     fetcher=synthetic_fred_fetcher())
    assert df.count() == 0
    assert df.columns == ["date", "series_name", "value"]


class FlakyJdbc(JdbcWrdsSource):
    """JdbcWrdsSource whose reads fail for configured table names and
    otherwise serve canned frames — exercises the probe/degrade layer
    without a live server."""

    def __init__(self, spark, missing=(), canned=None):
        super().__init__(spark)
        self.missing = tuple(missing)
        self.canned = canned or {}
        self.attempted = []

    def _read(self, query, partition_on_date=None):
        self.attempted.append(query)
        for frag in self.missing:
            if frag in query:
                raise RuntimeError(f'relation "{frag}" does not exist')
        for frag, df in self.canned.items():
            if frag in query:
                return df
        raise RuntimeError(f"no canned frame for: {query[:60]}")


def test_delist_probe_falls_back_to_legacy_tables(spark):
    """StkDelists absent -> the legacy dsedelist table (already named
    dlret) serves the same (asset_id, date, dlret) shape."""
    import datetime as dt

    legacy = spark.createDataFrame(
        [(1, dt.date(2020, 3, 2), -0.15)], "asset_id long, date date, dlret double"
    )
    src = FlakyJdbc(spark, missing=("StkDelists",), canned={"dsedelist": legacy})
    out = src.delist_events([1], "2020-01-01", "2020-12-31")
    assert [(r["asset_id"], r["dlret"]) for r in out.collect()] == [(1, -0.15)]
    assert any("StkDelists" in q for q in src.attempted)  # tried in order


def test_delist_probe_degrades_to_empty_when_all_absent(spark):
    src = FlakyJdbc(spark, missing=("StkDelists", "dsedelist", "msedelist"))
    out = src.delist_events([1], "2020-01-01", "2020-12-31")
    assert out.count() == 0
    assert out.columns == ["asset_id", "date", "dlret"]
    assert len(src.attempted) == 3


def test_degraded_branch_is_a_local_scan(spark):
    """The empty frame an unavailable optional table degrades to is an
    Arrow-built local scan with the declared schema."""
    src = FlakyJdbc(spark, missing=("StkDelists", "dsedelist", "msedelist"))
    out = src.delist_events([1], "2020-01-01", "2020-12-31")
    assert out.schema.simpleString() == "struct<asset_id:bigint,date:date,dlret:double>"
    plan = _plan(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_optional_branches_degrade_to_declared_empty(spark):
    src = FlakyJdbc(
        spark,
        missing=("tr_ibes.id", "recdsum", "recddet", "det_rec",
                 "g_company", "msedist", "factors_daily"),
    )
    assert src.ibes_ids("2020-12-31").columns == [
        "ticker", "cusip", "cname", "start_date", "end_date"
    ]
    assert src.consensus(["IB0"], "2020-01-01", "2020-12-31").count() == 0
    assert src.ratings_detail(["IB0"], "2020-01-01", "2020-12-31").count() == 0
    assert src.ipo_dates([1]).columns == ["asset_id", "ipodate"]
    assert src.dividends([1], "2020-01-01", "2020-12-31").count() == 0
    assert src.ff_momentum("2020-01-01", "2020-12-31").columns == ["date", "umd"]


def test_benchmark_probes_caldt_then_raises(spark):
    """date column absent -> caldt candidate; both absent -> raise
    (benchmark is mandatory, like the reference)."""
    import datetime as dt

    bench = spark.createDataFrame(
        [(dt.date(2020, 1, 2), 0.01)], "date date, ret double"
    )

    class DateLess(FlakyJdbc):
        def _read(self, query, partition_on_date=None):
            self.attempted.append(query)
            if "select date" in query:
                raise RuntimeError('column "date" does not exist')
            return bench

    src = DateLess(spark)
    out = src.benchmark("2020-01-01", "2020-12-31")
    assert out.count() == 1
    assert "caldt" in src.attempted[-1]

    src2 = FlakyJdbc(spark, missing=("dsp500",))
    with pytest.raises(RuntimeError, match="all candidates failed"):
        src2.benchmark("2020-01-01", "2020-12-31")


def test_fundamentals_falls_back_to_core_fields(spark):
    import datetime as dt

    core = spark.createDataFrame(
        [("001", dt.date(2020, 3, 31), 5.0, None, 1.0, 10.0, None, 2.0,
          None, 1.5, None, None)],
        "gvkey string, datadate date, revt double, sale double, ni double, "
        "at double, ceq double, dltt double, pstk double, oancf double, "
        "capx double, xrd double",
    )
    src = FlakyJdbc(spark, missing=("revt, sale,",), canned={"comp.funda": core})
    out = src.fundamentals(["001"], "2020-01-01", "2020-12-31")
    assert out.count() == 1
    assert len(src.attempted) == 2  # full field set tried first


def test_sql_date_validation_rejects_injection(spark):
    src = FlakyJdbc(spark)
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        src.daily_prices([1], "2020-01-01'; drop table --", "2020-12-31")
    with pytest.raises(ValueError, match="YYYY-MM-DD"):
        src.benchmark("01/02/2020", "2020-12-31")
    assert src.attempted == []  # rejected before any SQL was built


# ------------------------------------------------------------ corpus intake


def test_jsonl_corpus_quarantines_corrupt_lines(spark, tmp_path):
    """PERMISSIVE JSONL intake: clean docs parse with the declared
    schema, malformed lines land in quarantine verbatim, nothing is
    silently dropped."""
    from quantlab_data_pipeline_spark.sources.corpus import (
        read_jsonl_corpus,
        split_corrupt,
    )

    p = tmp_path / "shard.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", '
        '"source": "web", "n_chars": 11}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "second doc", "lang": "en", '
        '"source": "web", "n_chars": 10}\n'
        '{"doc_id": 3, "text": "unclosed\n',
    )
    clean, quarantine = split_corrupt(read_jsonl_corpus(spark, str(p)))
    rows = {r["doc_id"]: r for r in clean.collect()}
    bad = [r["raw_line"] for r in quarantine.collect()]
    assert set(rows) == {1, 2}
    assert rows[1]["text"] == "hello world" and rows[1]["n_chars"] == 11
    assert len(bad) == 2
    assert "this is not json at all" in bad
    assert clean.count() + quarantine.count() == 4


def test_csv_corpus_reads_declared_schema(spark, tmp_path):
    from quantlab_data_pipeline_spark.sources.corpus import (
        read_csv_corpus,
        split_corrupt,
    )

    p = tmp_path / "docs.csv"
    p.write_text(
        "doc_id,text,lang,source,n_chars\n"
        "1,hello,en,web,5\n"
        "2,world,en,web,not_an_int\n"
    )
    clean, quarantine = split_corrupt(read_csv_corpus(spark, str(p)))
    assert [r["doc_id"] for r in clean.collect()] == [1]
    assert quarantine.count() == 1


def test_jsonl_export_round_trips_hostile_text(spark, tmp_path):
    """write_jsonl_corpus -> read_jsonl_corpus preserves every row and
    byte of text through JSON escaping: newlines, tabs, quotes,
    backslashes, unicode, and nulls in optional columns."""
    from quantlab_data_pipeline_spark.sources.corpus import (
        read_jsonl_corpus,
        split_corrupt,
        write_jsonl_corpus,
    )

    rows = [
        (0, 'line one\nline "two"\t\\backslash', "en", "web", 30),
        (1, "unicode: é中文 \U0001f600", None, "wiki", 20),
        (2, "", "de", None, 0),
        (3, None, None, None, None),
    ]
    src = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    )
    out = str(tmp_path / "export")
    write_jsonl_corpus(src, out, shards=2)
    clean, quarantine = split_corrupt(read_jsonl_corpus(spark, out + "/shard=*"))
    assert quarantine.count() == 0
    got = {r["doc_id"]: (r["text"], r["lang"], r["source"], r["n_chars"])
           for r in clean.collect()}
    assert got == {d: (t, lg, s, n) for d, t, lg, s, n in rows}


def test_jsonl_export_shards_deterministic_and_gzip(spark, tmp_path):
    """Shard dirs follow doc_id % shards exactly; gzip compression
    round-trips; one_file_per_shard writes a single file per shard."""
    import glob

    from quantlab_data_pipeline_spark.sources.corpus import (
        export_manifest,
        write_jsonl_corpus,
    )

    src = spark.range(20).selectExpr(
        "id AS doc_id",
        "concat('doc ', id) AS text",
        "'en' AS lang",
        "'web' AS source",
        "CAST(length(concat('doc ', id)) AS INT) AS n_chars",
    )
    out = str(tmp_path / "gz")
    write_jsonl_corpus(
        src, out, shards=4, compression="gzip", one_file_per_shard=True
    )
    for k in range(4):
        files = glob.glob(f"{out}/shard={k}/*.json.gz")
        assert len(files) == 1, (k, files)
    m = {r["shard"]: r for r in export_manifest(spark, out).collect()}
    assert set(m) == {0, 1, 2, 3}
    assert all(m[k]["n_docs"] == 5 for k in m)
    assert all(m[k]["min_doc_id"] % 4 == k for k in m)
    # Manifest text stats equal the source (round trip through gzip).
    assert sum(r["text_chars"] for r in m.values()) == sum(
        len(f"doc {i}") for i in range(20)
    )


def test_jsonl_export_rejects_bad_shards(spark, tmp_path):
    from quantlab_data_pipeline_spark.sources.corpus import write_jsonl_corpus

    src = spark.range(3).selectExpr("id AS doc_id", "'x' AS text")
    with pytest.raises(ValueError, match="shards"):
        write_jsonl_corpus(src, str(tmp_path / "bad"), shards=0)


class _RecordingReader:
    """Stand-in for ``spark.read``: records the format and options, and
    ``load`` returns them."""

    def __init__(self):
        self.opts = {}

    def format(self, fmt):
        self.opts["format"] = fmt
        return self

    def option(self, key, value):
        self.opts[key] = value
        return self

    def load(self):
        return self.opts


class _StubSpark:
    @property
    def read(self):
        return _RecordingReader()


def test_jdbc_reader_options_of_both_branches():
    """Both reads share one reader (url, fetchsize, credentials); the
    date-partitioned read adds only its subquery and partition options."""
    src = JdbcWrdsSource(_StubSpark(), url="jdbc:x", user="u", password="p",
                         fetch_partitions=7)
    shared = {"format": "jdbc", "url": "jdbc:x", "fetchsize": 10_000,
              "user": "u", "password": "p"}
    assert src._read("select 1") == {**shared, "query": "select 1"}
    assert src._read("select 1", partition_on_date=("2020-01-01", "2020-12-31")) == {
        **shared, "dbtable": "(select 1) q", "partitionColumn": "date",
        "lowerBound": "2020-01-01", "upperBound": "2020-12-31", "numPartitions": 7,
    }
    anon = JdbcWrdsSource(_StubSpark(), url="jdbc:x")._read("select 1")
    assert anon == {"format": "jdbc", "url": "jdbc:x", "fetchsize": 10_000,
                    "query": "select 1"}
