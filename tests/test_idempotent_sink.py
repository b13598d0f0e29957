"""Exactly-once semantics: replaying an epoch must not duplicate rows —
strictly better than the reference's at-least-once bundle restart
(SURVEY.md §7)."""

from __future__ import annotations

from crypto_data_service_loader_spark.sinks.idempotent import IdempotentParquetSink


def test_replayed_batch_does_not_duplicate(spark, tmp_path):
    sink = IdempotentParquetSink(str(tmp_path / "out"))
    df1 = spark.range(10).withColumnRenamed("id", "v")

    sink.write(df1, batch_id=0)
    sink.write(df1, batch_id=0)  # epoch replay (e.g. post-failure re-execution)
    assert sink.read(spark).count() == 10  # not 20

    sink.write(spark.range(5).withColumnRenamed("id", "v"), batch_id=1)
    assert sink.read(spark).count() == 15

    # a replay with corrected data fully replaces the epoch's output
    sink.write(spark.range(3).withColumnRenamed("id", "v"), batch_id=1)
    assert sink.read(spark).count() == 13


def test_upload_fallback_preserves_all_files_under_idempotent_sink(spark, tmp_path):
    """Regression (review finding): the per-file failure fallback must not
    issue multiple writes under one batch_id — dynamic partition overwrite
    would keep only the LAST file's rows while marking all FINISHED."""
    import datetime
    import os

    from crypto_data_service_loader_spark.schemas import REGISTRY
    from crypto_data_service_loader_spark.streaming.upload import run_upload_batch

    root = str(tmp_path / "data")
    os.makedirs(os.path.join(root, "2024-03-13"))
    line = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
    for name, n in [("AAA", 2), ("BBB", 3)]:
        with open(os.path.join(root, "2024-03-13", name), "w") as fh:
            fh.write("\n".join([line] * n))
    claimed = spark.createDataFrame(
        [("AAA", datetime.date(2024, 3, 13), "READY_FOR_PROCESSING"),
         ("BBB", datetime.date(2024, 3, 13), "READY_FOR_PROCESSING")],
        REGISTRY,
    )

    class FlakyIdempotent(IdempotentParquetSink):
        def __init__(self, path):
            super().__init__(path)
            self.calls = 0

        def write(self, df, batch_id=None):
            self.calls += 1
            if self.calls == 1:
                raise RuntimeError("transient")
            super().write(df, batch_id=batch_id)

    sink = FlakyIdempotent(str(tmp_path / "out"))
    res = run_upload_batch(
        spark, claimed, lambda d: os.path.join(root, d), sink, batch_id=5
    )
    assert {r["filename"]: r["ok"] for r in res.collect()} == {"AAA": True, "BBB": True}
    assert sink.read(spark).count() == 5  # ALL rows survived, not just BBB's


def test_discovery_day_rollover(spark, tmp_path):
    """New date-dir appearing after the stream started is picked up by the
    globbed source — the reference needed explicit watcher re-init
    (SaveNewFilesToDbFlow.java:254-272); the glob makes rollover free."""
    import os

    from crypto_data_service_loader_spark.schemas import REGISTRY
    from crypto_data_service_loader_spark.streaming.discovery import (
        discovered_files_stream,
    )

    root = str(tmp_path / "data")
    reg, ckpt = str(tmp_path / "reg"), str(tmp_path / "ck")

    def run_once():
        q = (
            discovered_files_stream(spark, root)
            .writeStream.format("parquet")
            .option("path", reg)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    os.makedirs(os.path.join(root, "2024-03-14"))
    with open(os.path.join(root, "2024-03-14", "A_PST_2024-03-14"), "w") as fh:
        fh.write("x")
    run_once()

    # midnight: a new dir appears
    os.makedirs(os.path.join(root, "2024-03-15"))
    with open(os.path.join(root, "2024-03-15", "B_PST_2024-03-15"), "w") as fh:
        fh.write("y")
    run_once()

    got = [(r["filename"], str(r["create_date"]))
           for r in spark.read.schema(REGISTRY).parquet(reg).collect()]
    assert sorted(got) == [("A_PST_2024-03-14", "2024-03-14"),
                           ("B_PST_2024-03-15", "2024-03-15")]


def test_jdbc_sink_options_repartition_and_retry(spark):
    """ClickHouseJdbcSink without a driver jar: option assembly, the
    numPartitions repartition, and the retry wrap are all pinned at the
    `_save` seam — the only untestable line left is the literal
    `.save()`, which needs a jar.

    Integration recipe (not runnable in this image — no JDBC driver):
    start a ClickHouse server, launch with
    `--jars clickhouse-jdbc-<ver>-all.jar`, then
    ClickHouseJdbcSink(url="jdbc:clickhouse://host:8123/db"
    "?compress=1&async_insert=1&wait_for_async_insert=1",
    table="tickers_data").write(df).
    """
    from crypto_data_service_loader_spark.sinks.writers import (
        ClickHouseJdbcSink,
    )

    calls: list[int] = []

    class Probe(ClickHouseJdbcSink):
        def _save(self, df):
            calls.append(df.rdd.getNumPartitions())
            if len(calls) < 3:
                raise RuntimeError("injected transient jdbc failure")

    sink = Probe(
        url="jdbc:clickhouse://h:8443/db?compress=1&async_insert=1",
        table="tickers_data",
        batchsize=50_000,
        num_partitions=8,
        attempts=3,
        sleep_sec=0.0,
        properties={"isolationLevel": "NONE"},
    )
    assert sink.options_dict() == {
        "url": "jdbc:clickhouse://h:8443/db?compress=1&async_insert=1",
        "dbtable": "tickers_data",
        "batchsize": "50000",
        "numPartitions": "8",
        "isolationLevel": "NONE",
    }
    sink.write(spark.range(100))
    # two transient failures retried; every attempt saw the 8-way repartition
    assert calls == [8, 8, 8]


def test_jdbc_sink_exhausted_retries_rethrow(spark):
    from crypto_data_service_loader_spark.sinks.writers import (
        ClickHouseJdbcSink,
    )
    import pytest as _pytest

    class AlwaysDown(ClickHouseJdbcSink):
        def _save(self, df):
            raise RuntimeError("connection refused")

    sink = AlwaysDown(url="jdbc:clickhouse://h:8443/db", table="t",
                      attempts=2, sleep_sec=0.0)
    with _pytest.raises(RuntimeError, match="connection refused"):
        sink.write(spark.range(1))


def test_compact_requires_row_identity(spark, tmp_path):
    """ADVICE r5: a refold after a crash between the base rewrite and the
    epoch-dir deletes re-unions already-folded rows; without dedup_cols
    those duplicates would become PERMANENT — so compact() refuses None
    instead of silently degrading."""
    import pytest

    sink = IdempotentParquetSink(str(tmp_path / "out"))
    sink.write(spark.range(3).withColumnRenamed("id", "v"), batch_id=0)
    with pytest.raises(ValueError, match="dedup_cols"):
        sink.compact(spark)
    with pytest.raises(ValueError, match="dedup_cols"):
        sink.compact(spark, dedup_cols=[])
