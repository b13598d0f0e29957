"""The service workloads: ``backfill`` and ``steady``.

Both drive ``streaming.service.run_cycle`` against the ClickHouse HTTP
stand-in and a registry of their own. Input generation is the
benchmark's work and is never inside a timed region. Each workload
yields one record per timed unit (a backfill cycle or a steady cycle):
its wall time, the files that reached FINISHED and the rows the
stand-in accepted. The correctness gates run after every unit, untimed.
"""

from __future__ import annotations

import contextlib
import os
import time

from pyspark.sql import functions as F

import gen

#: catch-up ingest: days × tickers files, rows_per_day tick lines a day
BACKFILL = {"days": 4, "tickers": 40, "rows_per_day": 40_000}
#: daily rollover: a compacted registry history of history_days ×
#: history_tickers FINISHED files, then one new day of small files per
#: cycle. The last cycle of every Steady.PERIOD runs cleanup and is
#: followed by a compaction, so that every period starts from a compacted log
STEADY = {
    "history_days": 180, "history_tickers": 200,
    "tickers": 100, "rows_per_day": 2_000,
}
#: the tiny throwaway cycle of the backfill set-up
WARMUP = {"tickers": 3, "rows_per_day": 90}


class GateError(AssertionError):
    """An output of the program did not match what the generator wrote."""


class Unit:
    """One timed cycle: wall time and what it moved."""

    def __init__(self, uid, wall: float, files: int, rows: int,
                 failed: int, stats: dict):
        self.uid, self.wall, self.files, self.rows = uid, wall, files, rows
        self.failed, self.stats = failed, stats
        self.traced = False


def registry_status_counts(spark, service, path: str,
                           filenames: list[str] | None = None) -> dict:
    """Current status -> file count of a registry, optionally only over
    `filenames`."""
    state = service.RegistryLog(spark, path).state()
    if filenames is not None:
        names = spark.createDataFrame([(f,) for f in filenames], "filename string")
        state = state.join(F.broadcast(names), "filename", "left_semi")
    return {r["status"]: r["n"] for r in
            state.groupBy("status").agg(F.count("*").alias("n")).collect()}


def gate(cond: bool, what: str) -> None:
    if not cond:
        raise GateError(what)


def gate_landed(ctx, batch: int, expected: int, what: str) -> int:
    """The stand-in holds exactly `expected` rows under sink batch `batch`
    and has seen no malformed CSV line. Returns the rows landed."""
    stats = ctx.standin.stats(10**12)
    landed = stats["batches"].get(str(batch), 0)
    gate(landed == expected,
         f"{what}: stand-in rows {landed} != valid rows written {expected}")
    gate(stats["bad_rows"] == 0,
         f"{what}: {stats['bad_rows']} malformed lines reached the stand-in")
    return landed


# -- backfill ------------------------------------------------------------------
class Backfill:
    """Catch-up ingest: a dated tree of past days is drained by one
    ``run_cycle`` against a fresh registry, with ``today`` after the last
    date. Each timed unit repeats that on the same tree with a new
    registry and a new sink batch, two units at a time."""

    PERIOD = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "backfill", "root")
        self.days = [
            gen.write_day(self.root, ctx.seed, d, BACKFILL["rows_per_day"],
                          BACKFILL["tickers"])
            for d in range(BACKFILL["days"])
        ]
        self.files = sorted(f for dd in self.days for f in dd.files)
        self.valid_rows = sum(dd.valid_rows for dd in self.days)
        self.today = gen.day(BACKFILL["days"])
        self.n = 0

    def warmup(self) -> float:
        """One tiny throwaway cycle on its own tree, registry and sink
        batch, so the Python workers are spawned and the JIT has run the
        cycle's code before the first timed unit. Returns its wall time;
        writing its input is not timed."""
        ctx = self.ctx
        base = os.path.join(ctx.work, "warmup")
        day = gen.write_day(os.path.join(base, "root"), ctx.seed, 0,
                            WARMUP["rows_per_day"], WARMUP["tickers"])
        batch = 900_000
        with untimed(batch) as clock:
            ctx.service.run_cycle(
                ctx.spark, os.path.join(base, "root"),
                os.path.join(base, "reg"), ctx.sink, gen.day(1), cycle=batch,
            )
        gate_landed(ctx, batch, day.valid_rows, "warm-up cycle")
        return clock.wall

    def final_gate(self) -> None:
        pass  # every cycle is gated on its own

    def run_unit(self, timed) -> Unit:
        ctx = self.ctx
        cycle = 1000 + self.n
        reg = os.path.join(ctx.work, "backfill", f"reg{self.n}")
        self.n += 1
        with timed(cycle) as clock:
            stats = ctx.service.run_cycle(
                ctx.spark, self.root, reg, ctx.sink, self.today, cycle=cycle
            )
        landed = gate_landed(ctx, cycle, self.valid_rows,
                             f"backfill cycle {cycle}")
        counts = registry_status_counts(ctx.spark, ctx.service, reg)
        gate(counts == {"FINISHED": len(self.files)},
             f"backfill cycle {cycle}: registry {counts}, expected "
             f"{len(self.files)} FINISHED")
        return Unit(cycle, clock.wall, len(self.files), landed,
                    counts.get("ERROR", 0), stats)

    def registry_path(self) -> str:
        return os.path.join(self.ctx.work, "backfill", f"reg{self.n - 1}")


# -- steady --------------------------------------------------------------------
class Steady:
    """Daily-rollover polling over a long registry history. Each cycle
    lands one new day of small files and runs ``run_cycle`` with ``today``
    the day after; the last cycle of each PERIOD also runs cleanup and a
    compaction of the registry log.
    Closed loop: a cycle starts when the previous one returns."""

    PERIOD = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "steady", "root")
        self.reg = os.path.join(ctx.work, "steady", "reg")
        self.landed_days: list[gen.DayFiles] = []
        self.j = 0

    def warmup(self) -> float:
        """Seed the history (not timed), then run the first cycle on it as
        the warm-up: it also pays the Python-worker spawn, and the first
        cycle over a freshly written log is slower than the ones after it.
        Returns that cycle's wall time."""
        ctx = self.ctx
        gen.seed_registry_history(
            ctx.spark, ctx.service.RegistryLog(ctx.spark, self.reg),
            STEADY["history_days"], STEADY["history_tickers"], ctx.seed,
        )
        return self.cycle(False).wall

    def run_unit(self, timed) -> Unit:
        heavy = self.j % self.PERIOD == self.PERIOD - 1
        self.j += 1
        return self.cycle(heavy, timed)

    def cycle(self, heavy: bool, timed=None) -> Unit:
        """Land the next day, run one cycle on it and gate its outputs."""
        ctx = self.ctx
        d = STEADY["history_days"] + len(self.landed_days)
        day = gen.write_day(self.root, ctx.seed, d, STEADY["rows_per_day"],
                            STEADY["tickers"])
        self.landed_days.append(day)
        with (timed or untimed)(d) as clock:
            stats = ctx.service.run_cycle(
                ctx.spark, self.root, self.reg, ctx.sink, gen.day(d + 1),
                cycle=d, do_cleanup=heavy,
            )
            if heavy:
                ctx.service.RegistryLog(ctx.spark, self.reg).compact()
        landed = gate_landed(ctx, d, day.valid_rows, f"steady cycle {d}")
        gate(stats.get("uploaded") == len(day.files) and not stats.get("failed"),
             f"steady cycle {d}: {stats} for {len(day.files)} files")
        return Unit(d, clock.wall, stats["uploaded"], landed,
                    stats.get("failed", 0), stats)

    def final_gate(self) -> None:
        ctx = self.ctx
        landed = [f for day in self.landed_days for f in day.files]
        counts = registry_status_counts(ctx.spark, ctx.service, self.reg,
                                        landed)
        gate(counts == {"FINISHED": len(landed)},
             f"steady: registry {counts} for {len(landed)} landed files")
        everywhere = registry_status_counts(ctx.spark, ctx.service, self.reg)
        gate("ERROR" not in everywhere, f"steady: registry holds {everywhere}")

    def registry_path(self) -> str:
        return self.reg


WORKLOADS = {"backfill": Backfill, "steady": Steady}


def log_size(spark, path: str) -> tuple[int, int]:
    """(events, bytes) of a registry event log on disk."""
    size = 0
    for dirpath, _, files in os.walk(path):
        size += sum(os.path.getsize(os.path.join(dirpath, f))
                    for f in files if f.endswith(".parquet"))
    events = spark.read.parquet(path).count()
    return events, size


class Clock:
    def __init__(self):
        self.t0 = self.t1 = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


@contextlib.contextmanager
def untimed(uid):
    """The `timed` stand-in for cycles outside the measurement."""
    clock = Clock()
    clock.t0 = time.monotonic()
    yield clock
    clock.t1 = time.monotonic()
