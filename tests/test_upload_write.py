"""The upload write path: its plan shape, its build-time cost and the
determinism of what it puts on the wire.

- The claimed files' rows reach the POSTs through exactly one exchange: a
  hash exchange on `filename` (O15 `bundle_split`), with no range
  partitioner (each one starts a sampling job that re-reads every CSV)
  and no round-robin re-split in the sink.
- Building the upload frame runs no Spark job, even over more claimed
  files than Spark's parallel-listing threshold (32 paths).
- A bundle's bytes are a pure function of its rows, so re-uploading the
  same claim under the same sink batch re-sends identical chunks under
  identical insert_deduplication_tokens, and the server drops them all.
"""

from __future__ import annotations

import datetime
import os
import re

from pyspark.sql import functions as F

from crypto_data_service_loader_spark.functions.localrel import local_values_df
from crypto_data_service_loader_spark.sinks.clickhouse_http import (
    ClickHouseHttpSink,
)
from crypto_data_service_loader_spark.streaming.upload import (
    _listed_filenames,
    bundled_ticks,
    run_upload_batch,
)
from tests.clickhouse_fake import FakeClickHouse

DATES = ("2024-03-12", "2024-03-13")


def _mk_tree(root, files_per_day, lines=5):
    """`files_per_day` files per date, every line distinct."""
    names = []
    for d in DATES:
        os.makedirs(os.path.join(root, d), exist_ok=True)
        for t in range(files_per_day):
            name = f"T{t:02d}-USDT_PST_{d}"
            ms = int(datetime.datetime.fromisoformat(d).timestamp()) * 1000
            rows = [
                f"T{t:02d}-USDT,{i},0.{t + 1},{i + 1},0.5,5,0.49,7,{ms + i}"
                for i in range(lines)
            ]
            with open(os.path.join(root, d, name), "w") as fh:
                fh.write("\n".join(rows))
            names.append((name, datetime.date.fromisoformat(d)))
    return names


def _claimed(spark, names, batch=7):
    return local_values_df(
        spark,
        [(n, d.isoformat(), "READY_FOR_PROCESSING", batch) for n, d in names],
        "filename string, create_date string, status string, sink_batch long",
    ).withColumn("create_date", F.to_date("create_date"))


def _sink(url):
    sink = ClickHouseHttpSink(url, "tickers_data")
    sink.execute(
        "CREATE TABLE IF NOT EXISTS tickers_data (x String) ENGINE = Null"
    )
    return sink


def _settle(spark):
    """Let the listener bus deliver every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _last_write_plan(spark) -> str:
    """Executed plan description of the latest query that ran MapInArrow
    (the sink's POST stage), as the SQL status store recorded it."""
    _settle(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plans = [
        (e.executionId(), e.physicalPlanDescription())
        for e in (execs.apply(i) for i in range(execs.size()))
    ]
    return max(p for p in plans if "MapInArrow" in p[1])[1]


def _depth(line: str) -> int:
    """Column at which a plan-tree line's node name starts."""
    return len(line) - len(line.lstrip(" :+-*|"))


def test_upload_write_has_one_hash_exchange(spark, tmp_path):
    """Between the CSV scan and MapInArrow the executed plan holds exactly
    one shuffle exchange, hash-partitioned on filename. The sink runs at
    its default `num_partitions`, which posts the bundles as they are."""
    root = str(tmp_path / "data")
    names = _mk_tree(root, files_per_day=20)
    fake = FakeClickHouse(lite=True)
    url = fake.start()
    try:
        # a checkpointed claim, as the service cycle hands it over
        claimed = _claimed(spark, names).localCheckpoint()
        out = run_upload_batch(
            spark, claimed, lambda d: os.path.join(root, d), _sink(url),
            bundles=4,
        )
        assert {r["ok"] for r in out.collect()} == {True}
        desc = _last_write_plan(spark)
    finally:
        fake.stop()
    # walk the final plan's tree from the CSV scan up to MapInArrow
    tree = desc.split("== Initial Plan ==")[0].splitlines()
    at = next(i for i, ln in enumerate(tree) if "Scan csv" in ln)
    path = []
    while "MapInArrow" not in tree[at]:
        depth = _depth(tree[at])
        path.append(tree[at])
        at = max(i for i in range(at) if _depth(tree[i]) < depth)
    exchanges = [
        m.group(1) for ln in path
        if (m := re.search(r"(?<![A-Za-z])Exchange \((\d+)\)", ln))
    ]
    assert len(exchanges) == 1, "\n".join(tree)
    args = re.search(
        rf"^\({exchanges[0]}\) Exchange\n(?:.*\n)*?Arguments: (.*)$",
        desc, re.M,
    ).group(1)
    assert args.startswith("hashpartitioning(filename#"), args
    assert ", 4)" in args
    assert "rangepartitioning" not in desc.lower()
    assert "roundrobinpartitioning" not in desc.lower()


def test_upload_build_starts_no_job(spark, tmp_path):
    """More claimed files than the parallel-listing threshold (40 in one
    date directory): building the read and the listing lists on the
    driver, so no Spark job starts before the write."""
    root = str(tmp_path / "data")
    names = [n for n in _mk_tree(root, files_per_day=40) if n[1].day == 13]
    claimed = _claimed(spark, names)
    dirs = [os.path.join(root, "2024-03-13")]
    tracker = spark.sparkContext.statusTracker()
    _settle(spark)
    before = set(tracker.getJobIdsForGroup())
    ticks = bundled_ticks(spark, claimed, dirs, 32)
    listed = _listed_filenames(spark, dirs)
    _settle(spark)
    assert set(tracker.getJobIdsForGroup()) - before == set()
    assert len(ticks.collect()) == len(names) * 5
    assert {r["filename"] for r in listed.collect()} == {n for n, _ in names}


def test_reupload_of_same_claim_is_dropped_by_dedup_tokens(spark, tmp_path):
    """The same claim written twice under the same sink batch: every POST of
    the second write carries a token the server has seen, so all of them
    are dropped and each row is stored exactly once."""
    root = str(tmp_path / "data")
    names = _mk_tree(root, files_per_day=6)
    fake = FakeClickHouse()
    url = fake.start()
    try:
        sink = _sink(url)
        claimed = _claimed(spark, names)
        dfd = lambda d: os.path.join(root, d)  # noqa: E731
        first = run_upload_batch(spark, claimed, dfd, sink, bundles=4)
        assert {r["ok"] for r in first.collect()} == {True}
        stored = list(fake.tables["tickers_data"])
        assert fake.duplicate_inserts_dropped == 0

        posts_before = fake.requests_seen
        second = run_upload_batch(spark, claimed, dfd, sink, bundles=4)
        assert {r["ok"] for r in second.collect()} == {True}
        second_posts = fake.requests_seen - posts_before
    finally:
        fake.stop()
    assert second_posts > 0
    assert fake.duplicate_inserts_dropped == second_posts
    rows = fake.tables["tickers_data"]
    assert rows == stored
    assert len(rows) == len(names) * 5
    assert len({tuple(r) for r in rows}) == len(rows)
