"""Source/sink + SQL-surface tests (SURVEY.md §2.1).

S1: schema'd CSV scan over a hive-partitioned raw zone (the
reference's MinIO layout, ``batch_data_consumer.py:32``);
S2: partitioned parquet write; S10/S11: SQL views and the pure-SQL
mart twin; S13: clustered write layout.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def test_hive_partitioned_csv_roundtrip(spark, tmp_path):
    from stock_market_data_pipeline_v2_spark.operators.bars import clean_daily_bars
    from stock_market_data_pipeline_v2_spark.schemas import RAW_DAILY_BARS
    from stock_market_data_pipeline_v2_spark.sources.io import read_csv

    # Reference raw zone: raw/historical/year=YYYY/month=MM/day=DD/*.csv
    base = tmp_path / "raw" / "historical" / "year=2024" / "month=01" / "day=02"
    os.makedirs(base)
    (base / "aapl_120000.csv").write_text(
        "symbol,date,daily_open,daily_high,daily_low,daily_close,daily_volume,batch_load_timestamp\n"
        "AAPL,2024-01-02,100.0,110.0,95.0,105.0,1000,2024-01-03T00:00:00\n"
        "MSFT,2024-01-02,50.0,55.0,49.0,0.0,10,2024-01-03T00:00:00\n"
    )
    raw = read_csv(spark, str(tmp_path / "raw" / "historical"), RAW_DAILY_BARS)
    # hive partition discovery adds year/month/day columns
    assert {"year", "month", "day"} <= set(raw.columns)
    clean = clean_daily_bars(raw.drop("year", "month", "day"))
    rows = clean.collect()
    assert len(rows) == 1 and rows[0].symbol == "AAPL"  # zero-close filtered


def test_partitioned_and_clustered_writes(spark, tmp_path):
    from stock_market_data_pipeline_v2_spark.sources.io import (
        write_clustered,
        write_parquet,
    )

    df = spark.range(100).select(
        (F.col("id") % 4).cast("string").alias("k"), F.col("id").alias("v")
    )
    write_parquet(df, str(tmp_path / "p"), partition_cols=["k"])
    parts = [d for d in os.listdir(tmp_path / "p") if d.startswith("k=")]
    assert len(parts) == 4

    write_clustered(df, str(tmp_path / "c"), cluster_cols=["k", "v"], target_files=2)
    back = spark.read.parquet(str(tmp_path / "c"))
    assert back.count() == 100


def test_sql_twin_matches_dataframe(spark):
    from stock_market_data_pipeline_v2_spark.operators.dims import pricing_summary
    from stock_market_data_pipeline_v2_spark.plans.sql_api import pricing_summary_sql
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    via_sql = pricing_summary_sql(spark, sf).collect()
    via_df = pricing_summary(load_table(spark, sf, "lineitem")).collect()
    assert via_sql == via_df


def test_session_memo_builds_once_and_hands_out_fresh_datasets(spark):
    """session_memo builds once per (session, sf_dir, name). A
    DataFrame value comes back as a fresh Dataset on every call, so
    one caller's executed AQE plan never reaches the next caller; any
    other value (an index, a table handle) comes back as is."""
    from stock_market_data_pipeline_v2_spark.session import session_memo

    builds = []

    def build():
        builds.append(1)
        return spark.range(10).groupBy((F.col("id") % 3).alias("k")).count()

    first = session_memo(spark, "memo-test", "grouped", build)
    rows = sorted(map(tuple, first.collect()))
    second = session_memo(spark, "memo-test", "grouped", build)
    assert len(builds) == 1
    assert second is not first

    def final(df):
        return "isFinalPlan=true" in df._jdf.queryExecution().executedPlan().toString()

    assert final(first) and not final(second)
    assert sorted(map(tuple, second.collect())) == rows

    index = object()
    assert session_memo(spark, "memo-test", "index", lambda: index) is index
    assert session_memo(spark, "memo-test", "index", object) is index


def test_save_as_table(spark, tmp_path):
    from stock_market_data_pipeline_v2_spark.plans.sql_api import save_as_table

    df = spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v"))
    save_as_table(df, "t_ddl_test")
    assert spark.table("t_ddl_test").count() == 10
    spark.sql("DROP TABLE t_ddl_test")


def test_ticker_seed_enrichment_and_sketches(spark):
    import duckdb

    from stock_market_data_pipeline_v2_spark.operators.dims import (
        load_ticker_dim,
        sector_activity_sketch,
    )
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    tickers = load_ticker_dim(spark, "data/tickers_seed.csv")
    assert tickers.count() == 5
    out = sector_activity_sketch(
        load_table(spark, "/root/testdata/sf0.01", "events"), tickers
    ).collect()
    sectors = {r.sector: r for r in out}
    assert set(sectors) == {"Technology", "Consumer", "Communication"}
    # r7: the rollup rides the in-house cross-engine sketches, and the
    # exact twins are output columns — accuracy is checked against the
    # query's OWN exact columns plus an independent DuckDB recount.
    exact = duckdb.sql(
        """SELECT count(DISTINCT user_id) u, quantile_disc(value, 0.95) p
           FROM read_parquet('/root/testdata/sf0.01/events.parquet')
           WHERE upper(trim(event_type)) IN ('CLICK','ERROR','SIGNUP')"""
    ).fetchone()
    tech = sectors["Technology"]
    assert tech.exact_users == exact[0]
    assert abs(tech.exact_p95 - exact[1]) < 1e-9
    # sketch tolerance: HLL within the 3-sigma band of the raw
    # estimator (1.04/sqrt(m), same bound as test_round6_ops.py — the
    # no-ln estimator is biased low at n ~ 5m and the bias is a
    # first-class output, users_rel_error); p95 within one bin width
    # of exact (structural bound for the histogram).
    assert abs(tech.users_rel_error) < 3 * 1.04 / 32**0.5
    assert abs(tech.err_p95) <= tech.bin_width + 1e-9


def test_compact_zone(spark, tmp_path):
    from stock_market_data_pipeline_v2_spark.sources.io import compact_zone

    path = str(tmp_path / "zone")
    # simulate many micro-batch appends → many small files
    for i in range(12):
        spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        ).write.mode("append").parquet(path)
    import glob

    before = len(glob.glob(f"{path}/**/*.parquet", recursive=True))
    assert before >= 12
    n = compact_zone(spark, path, target_file_bytes=10**9, cluster_cols=["k"])
    assert n == 1
    df = spark.read.parquet(path)
    assert df.count() == 1200 and df.agg(F.sum("id")).first()[0] == sum(range(1200))


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Scale technique: two tables bucketed+sorted on the join key
    co-locate rows at WRITE time, so the join plans with zero
    Exchange operators — the 100 TB answer to repeated big joins."""
    from stock_market_data_pipeline_v2_spark.sources.io import load_table

    sf = "/root/testdata/sf0.001"
    lineitem = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    (lineitem.write.mode("overwrite").bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey").saveAsTable("li_b"))
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey").saveAsTable("ord_b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            spark.table("li_b").l_orderkey == spark.table("ord_b").o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, "bucketed join must not shuffle"
        assert "SortMergeJoin" in plan
        assert joined.count() == lineitem.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE li_b")
    spark.sql("DROP TABLE ord_b")


def test_jdbc_warehouse_roundtrip(spark, tmp_path):
    """S8/S9 warehouse boundary exercised END-TO-END against embedded
    Derby (bundled with Spark): parallel range-sliced read returns
    exactly what two append writes landed, across the declared
    partition count."""
    from pyspark.sql import Row

    from stock_market_data_pipeline_v2_spark.sources.warehouse import (
        read_jdbc,
        write_jdbc,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    df = spark.createDataFrame(
        [Row(id=i, sym="AB"[i % 2] * 2, px=100.0 + i) for i in range(50)]
    )
    # createTableColumnTypes: Derby's dialect maps StringType to CLOB,
    # which cannot be grouped/compared — pin a comparable SQL type.
    write_jdbc(
        df, url, "ticks", mode="append", driver=drv,
        options={"createTableColumnTypes": "sym VARCHAR(8)"},
    )
    write_jdbc(df.limit(5), url, "ticks", mode="append", driver=drv)

    back = read_jdbc(
        spark, url, "ticks", driver=drv,
        partition_column="id", lower_bound=0, upper_bound=50, num_partitions=4,
    )
    assert back.rdd.getNumPartitions() == 4
    got = sorted((r.id, r.sym, r.px) for r in back.collect())
    exp = sorted(
        [(i, "AB"[i % 2] * 2, 100.0 + i) for i in range(50)]
        + [(i, "AB"[i % 2] * 2, 100.0 + i) for i in range(5)]
    )
    assert got == exp
    # subquery pushdown form (Derby upcases unquoted identifiers,
    # Spark created quoted-lowercase columns — quote them)
    agg = read_jdbc(
        spark, url,
        '(select "sym" as "sym", count(*) as "n" from ticks group by "sym") t',
        driver=drv,
    )
    assert {(r.sym, r.n) for r in agg.collect()} == {("AA", 28), ("BB", 27)}
    # missing range quartet is a hard error, not a silent 1-connection scan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quartet"):
        read_jdbc(spark, url, "ticks", driver=drv, partition_column="id")


def test_registry_integrity():
    """Driver-contract meta-gate: every oracle_sql key names a
    registered query, and every oracle string is valid DuckDB SQL
    against the registered views (EXPLAIN only — catches column/
    syntax drift without executing 64 queries)."""
    import duckdb

    import __spark_entry__ as m

    qs, os_ = m.queries(), m.oracle_sql()
    assert set(os_) <= set(qs), sorted(set(os_) - set(qs))
    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    for name, sql in os_.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # noqa: BLE001
            raise AssertionError(f"oracle {name} fails DuckDB EXPLAIN: {e}")


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL sink → scan roundtrip; malformed lines land in the
    corrupt-record column instead of failing the job."""
    from stock_market_data_pipeline_v2_spark.sources.io import (
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = tmp_path / "corpus"
    write_jsonl(docs.select("doc_id", "text", "lang", "source"), str(out))
    back = read_jsonl(
        spark,
        str(out),
        "doc_id long, text string, lang string, source string",
    ).cache()
    assert back.filter("_corrupt_record IS NOT NULL").count() == 0
    a = {r.doc_id: (r.text, r.lang) for r in back.collect()}
    b = {r.doc_id: (r.text, r.lang) for r in docs.collect()}
    assert a == b
    # plant a malformed line next to the good ones (unpersist first:
    # the cached identical plan would otherwise mask the new file)
    back.unpersist()
    (out / "zz_bad.json").write_text('{"doc_id": 1, "text": "ok"}\n{not json\n')
    # Spark disallows filtering ONLY the corrupt column on a raw scan
    # (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — quarantine passes cache first.
    mixed = read_jsonl(
        spark,
        str(out),
        "doc_id long, text string, lang string, source string",
    ).cache()
    bad = mixed.filter("_corrupt_record IS NOT NULL")
    assert bad.count() == 1
    assert "{not json" in bad.collect()[0]._corrupt_record
    assert mixed.count() == docs.count() + 2
