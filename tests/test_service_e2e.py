"""End-to-end service parity test: the full reference behavior over a real
temp dir-per-day tree — discover, progress, upload, rollup, cleanup —
through the event-log registry. Mirrors what the reference's four flows do
collectively (SURVEY.md §3)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from crypto_data_service_loader_spark.sinks.writers import MemorySink
from crypto_data_service_loader_spark.streaming.service import RegistryLog, run_cycle

VALID = "AVA-USDT,1,0.5,10,0.51,5,0.49,7,1710400000000"
INVALID = "bad,line"


def _mk_tree(root, dates_files):
    for d, files in dates_files.items():
        os.makedirs(os.path.join(root, d), exist_ok=True)
        for name, lines in files.items():
            with open(os.path.join(root, d, name), "w") as fh:
                fh.write("\n".join(lines))


def test_service_cycles_end_to_end(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-13": {"AAA_PST_2024-03-13": [VALID, VALID, INVALID],
                        "BBB_PST_2024-03-13": [VALID]},
        "2024-03-14": {"CCC_PST_2024-03-14": [VALID]},
    })
    sink = MemorySink()

    # cycle 0: discover everything; past files go READY -> uploaded
    s0 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
    assert s0["discovered"] == 3
    assert s0["uploaded"] == 2 and s0["failed"] == 0

    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["AAA_PST_2024-03-13"] == "FINISHED"
    assert state["BBB_PST_2024-03-13"] == "FINISHED"
    assert state["CCC_PST_2024-03-14"] == "DOWNLOADING"  # today's file waits

    # 3 valid rows landed (invalid line dropped, batch not failed)
    assert sum(len(b[1]) for b in sink.batches) == 3

    # cycle 1: new file appears for yesterday; day rolls over
    _mk_tree(root, {"2024-03-13": {"DDD_PST_2024-03-13": [VALID]}})
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=1)
    assert s1["discovered"] == 1
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["DDD_PST_2024-03-13"] == "FINISHED"
    # yesterday's DOWNLOADING file became READY and uploaded on rollover
    assert state["CCC_PST_2024-03-14"] == "FINISHED"

    # idempotence: a no-change cycle discovers/uploads nothing
    s2 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=2)
    assert s2 == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}


def test_service_cleanup_respects_retention(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-10": {"OLD_PST_2024-03-10": [VALID]},
        "2024-03-13": {"NEW_PST_2024-03-13": [VALID]},
    })
    sink = MemorySink()
    run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=0)
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1,
                   do_cleanup=True)
    # FINISHED window is 03-10..03-13, min+1 != today -> cleanup runs;
    # only dirs strictly older than last_uploaded-1 are eligible
    assert s1["skipped"] is False
    assert not os.path.exists(os.path.join(root, "2024-03-10", "OLD_PST_2024-03-10"))
    assert os.path.exists(os.path.join(root, "2024-03-13", "NEW_PST_2024-03-13"))


def test_registry_compaction_preserves_state(spark, tmp_path):
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    run_cycle(spark, root, reg, MemorySink(), today="2024-03-14", cycle=0)
    log = RegistryLog(spark, reg)
    before = {(r["filename"], r["status"]) for r in log.state().collect()}
    assert log.events().count() > len(before)  # multiple events per file
    kept = log.compact()
    assert kept == len(before)
    after = {(r["filename"], r["status"]) for r in log.state().collect()}
    assert after == before
    assert log.events().count() == len(before)  # log physically shrank
    # cycles resume with fresh seq/batch numbering after compaction
    assert log.next_cycle() >= 1


def test_empty_root_is_quiet_cycle(spark, tmp_path):
    out = run_cycle(spark, str(tmp_path / "nothing"), str(tmp_path / "reg"),
                    MemorySink(), today="2024-03-14", cycle=0)
    assert out == {"discovered": 0, "progressed": 0, "uploaded": 0, "failed": 0}


def test_cli_resume_does_not_reuse_batch_ids(spark, tmp_path):
    from crypto_data_service_loader_spark.streaming.service import RegistryLog as RL

    root = str(tmp_path / "data")
    reg = str(tmp_path / "reg")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    run_cycle(spark, root, reg, MemorySink(), today="2024-03-14", cycle=0)
    assert RL(spark, reg).next_cycle() == 1  # restart continues, not repeats


def test_stale_in_progress_files_are_reclaimed(spark, tmp_path):
    """A crash between the IN_PROGRESS claim and the FINISHED rollup must
    not orphan files: the next cycle reclaims stale claims and uploads."""
    import datetime

    from crypto_data_service_loader_spark.schemas import REGISTRY_EVENTS

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    # simulate the crashed cycle 0: claim appended, rollup never happened
    spark.createDataFrame(
        [("AAA_PST_2024-03-13", datetime.date(2024, 3, 13), "DISCOVERED", 0, 0),
         ("AAA_PST_2024-03-13", datetime.date(2024, 3, 13), "IN_PROGRESS", 2, 0)],
        REGISTRY_EVENTS,
    ).write.parquet(reg)

    sink = MemorySink()
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1)
    assert s1["uploaded"] == 1
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state["AAA_PST_2024-03-13"] == "FINISHED"


def test_streaming_service_mode(spark, tmp_path):
    """Full pipeline driven by the discovery STREAM: files appearing in the
    tree are registered, progressed, uploaded, and rolled up within
    foreachBatch epochs; restart resumes from the checkpoint, and a date
    directory created after the stream started is picked up by the globbed
    source (day rollover — the reference needed an explicit watcher
    re-init, SaveNewFilesToDbFlow.java:254-272)."""
    from crypto_data_service_loader_spark.streaming.service import (
        start_service_stream,
    )

    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    ckpt = str(tmp_path / "ckpt")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID, VALID]}})
    sink = MemorySink()

    q = start_service_stream(spark, root, reg, sink, ckpt,
                             today="2024-03-14", available_now=True)
    q.awaitTermination(180)
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert state == {"AAA_PST_2024-03-13": "FINISHED"}
    assert sum(len(b[1]) for b in sink.batches) == 2

    # midnight: a new date directory appears; a restarted stream on the
    # next day processes only the delta
    _mk_tree(root, {"2024-03-14": {"BBB_PST_2024-03-14": [VALID]}})
    q2 = start_service_stream(spark, root, reg, sink, ckpt,
                              today="2024-03-15", available_now=True)
    q2.awaitTermination(180)
    state2 = {r["filename"]: r["status"]
              for r in RegistryLog(spark, reg).state().collect()}
    assert state2["BBB_PST_2024-03-14"] == "FINISHED"
    assert state2["AAA_PST_2024-03-13"] == "FINISHED"
    assert sum(len(b[1]) for b in sink.batches) == 3


def test_cycle_reads_registry_state_once(spark, tmp_path, monkeypatch):
    """One compaction of the event log per cycle: discover, progress and
    claim all derive from a single `RegistryLog.state()` read, in the
    polling cycle and in every streaming epoch alike."""
    from crypto_data_service_loader_spark.streaming.service import (
        start_service_stream,
    )

    calls = []
    real_state = RegistryLog.state

    def counted_state(self):
        calls.append(self.path)
        return real_state(self)

    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]},
                    "2024-03-14": {"BBB_PST_2024-03-14": [VALID]}})
    monkeypatch.setattr(RegistryLog, "state", counted_state)
    s = run_cycle(spark, root, str(tmp_path / "reg"), MemorySink(),
                  today="2024-03-14", cycle=0)
    assert s["discovered"] == 2 and s["uploaded"] == 1
    assert len(calls) == 1

    calls.clear()
    q = start_service_stream(spark, root, str(tmp_path / "reg2"), MemorySink(),
                             str(tmp_path / "ckpt"), today="2024-03-15",
                             available_now=True, max_files_per_trigger=1)
    q.awaitTermination(180)
    epochs = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(epochs) == 2  # one file per epoch
    assert len(calls) == len(epochs)


def test_cli_entrypoint(spark, tmp_path):
    from crypto_data_service_loader_spark.__main__ import main

    root = str(tmp_path / "data")
    _mk_tree(root, {"2024-03-13": {"AAA_PST_2024-03-13": [VALID]}})
    rc = main([
        "run", "--root", root, "--registry", str(tmp_path / "reg"),
        "--cycles", "1", "--today", "2024-03-14", "--interval-sec", "0",
    ])
    assert rc == 0
    out = spark.read.parquet(root.rstrip("/") + "_out")
    assert out.count() == 1


def test_two_day_rollover_soak(spark, tmp_path):
    """Two clock rollovers with discovery, upload, AND cleanup running in
    every cycle — the reference's day-rollover re-init hazard
    (SaveNewFilesToDbFlow.java:254-272). Each day's new file must upload
    exactly once after its date rolls past, retention cleanup must trail
    the upload watermark (delete < last_uploaded - 1, never fresher), and
    no file may regress status across the rollovers."""
    root = str(tmp_path / "data")
    reg = str(tmp_path / "registry")
    _mk_tree(root, {
        "2024-03-11": {"AAA_PST_2024-03-11": [VALID, VALID]},
        "2024-03-12": {"BBB_PST_2024-03-12": [VALID]},
    })
    sink = MemorySink()

    # day 1 (today = 03-13): backfill uploads both past days; window
    # [03-11, 03-12] is too fresh for any deletion (cutoff 03-11)
    s0 = run_cycle(spark, root, reg, sink, today="2024-03-13", cycle=0,
                   do_cleanup=True)
    assert s0["discovered"] == 2 and s0["uploaded"] == 2 and s0["failed"] == 0
    assert s0["skipped"] is False and s0["deleted"] == 0

    # rollover 1: a file lands in yesterday's dir (03-13), clock -> 03-14
    _mk_tree(root, {"2024-03-13": {"CCC_PST_2024-03-13": [VALID, VALID, VALID]}})
    s1 = run_cycle(spark, root, reg, sink, today="2024-03-14", cycle=1,
                   do_cleanup=True)
    assert s1["discovered"] == 1 and s1["uploaded"] == 1 and s1["failed"] == 0
    # watermark moved to 03-13 -> 03-11 (< 03-12) is now deletable
    assert s1["deleted"] == 1 and s1["dirs_removed"] == 1
    assert not os.path.exists(os.path.join(root, "2024-03-11"))
    assert os.path.exists(os.path.join(root, "2024-03-12"))

    # rollover 2: same pattern one day later
    _mk_tree(root, {"2024-03-14": {"DDD_PST_2024-03-14": [VALID]}})
    s2 = run_cycle(spark, root, reg, sink, today="2024-03-15", cycle=2,
                   do_cleanup=True)
    assert s2["discovered"] == 1 and s2["uploaded"] == 1 and s2["failed"] == 0
    assert s2["deleted"] == 1 and s2["dirs_removed"] == 1
    assert not os.path.exists(os.path.join(root, "2024-03-12"))
    assert os.path.exists(os.path.join(root, "2024-03-13"))
    assert os.path.exists(os.path.join(root, "2024-03-14"))

    # nothing regressed, nothing double-uploaded: 4 files FINISHED (the
    # registry remembers deleted files), 7 valid rows landed exactly once
    state = {r["filename"]: r["status"]
             for r in RegistryLog(spark, reg).state().collect()}
    assert set(state.values()) == {"FINISHED"} and len(state) == 4
    assert sum(len(b[1]) for b in sink.batches) == 7


def test_cli_ingest_corpus(spark, tmp_path):
    """The ingest-corpus subcommand drains a drop dir through incremental
    dedup (with boilerplate cleaning + compaction flags) end-to-end."""
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    docs = spark.createDataFrame(
        [(0, "HEADER\nunique one"), (1, "HEADER\nunique two"),
         (2, "HEADER\nunique one"), (3, "HEADER")],
        "doc_id long, text string",
    ).select(
        "doc_id", "text", F.lit("en").alias("lang"),
        F.lit("src0").alias("source"), F.length("text").alias("n_chars"),
    )
    docs.write.parquet(str(tmp_path / "drop"), mode="append")
    rc = main([
        "ingest-corpus",
        "--input", str(tmp_path / "drop"),
        "--corpus", str(tmp_path / "corpus"),
        "--index", str(tmp_path / "index"),
        "--clean-boilerplate", "--compact",
    ])
    assert rc == 0
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(str(tmp_path / "corpus")).collect()}
    # header stripped everywhere; 2 collapsed into 0; all-boilerplate 3 gone
    assert set(corpus) == {0, 1}
    assert corpus[0] == "unique one"


def test_cli_profile_and_convert(spark, tmp_path, capsys, sf_dir):
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    src = f"{sf_dir}/documents.parquet"
    rc = main(["profile", "--input", src, "--columns", "doc_id,lang"])
    assert rc == 0
    lines = [_json.loads(l) for l in
             capsys.readouterr().out.strip().splitlines()]
    byc = {l["column"]: l for l in lines}
    assert byc["doc_id"]["n_nulls"] == 0
    assert byc["doc_id"]["n_distinct"] == byc["doc_id"]["n_rows"]
    dst = str(tmp_path / "orc")
    rc = main(["convert", "--input", src, "--output", dst,
               "--to-format", "orc", "--files", "2"])
    assert rc == 0
    got = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert got["rows"] == spark.read.parquet(src).count()
    assert spark.read.orc(dst).count() == got["rows"]
    zdst = str(tmp_path / "z")
    rc = main(["convert", "--input", f"{sf_dir}/events.parquet",
               "--output", zdst, "--zorder", "user_id,event_id",
               "--files", "2"])
    assert rc == 0


def test_cli_mixture_subcommand(tmp_path, capsys, sf_dir):
    """`mixture` prints one JSON row per source: explicit targets give
    the rebalance table (weights realize the targets); omitting targets
    self-derives them via temperature smoothing (shares sum to ~1)."""
    import json as _json

    from crypto_data_service_loader_spark.__main__ import main

    src = f"{sf_dir}/documents.parquet"
    rc = main(["mixture", "--input", src,
               "--targets", "src0=0.6,src1=0.4"])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines()]
    by_src = {r["source"]: r for r in rows}
    assert by_src["src0"]["target_share"] == 0.6
    assert by_src["src2"]["weight"] == 0.0

    rc = main(["mixture", "--input", src, "--temperature", "0.5"])
    assert rc == 0
    rows = [_json.loads(line) for line in
            capsys.readouterr().out.strip().splitlines()]
    assert abs(sum(r["target_share"] for r in rows) - 1.0) < 1e-3
    assert all(r["weight"] is not None for r in rows)
