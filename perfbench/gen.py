"""Input generators. Every input is a pure function of the seed and the
workload's fixed sizes; the program under test only sees the files.

Tick rows come from ``sources.tickgen.tick_row`` and are rendered into
the 9-field KuCoin CSV layout (FIXTURES.md F1): ticker, sequence, price,
size, bestAsk, bestAskSize, bestBid, bestBidSize, transactionTime as
epoch millis. A fixed share of lines is malformed — one field short or
one field too many — which the ingest must drop, never fail on.
"""

from __future__ import annotations

import datetime
import os
from dataclasses import dataclass

from crypto_data_service_loader_spark.sources.tickgen import tick_row

#: first day of every generated tree and registry history
DAY0 = datetime.date(2024, 1, 1)
_EPOCH = datetime.datetime(1970, 1, 1)
#: one line in MALFORMED_EVERY is malformed
MALFORMED_EVERY = 97


def day(i: int) -> str:
    return (DAY0 + datetime.timedelta(days=i)).isoformat()


def file_name(ticker: str, date: str) -> str:
    """The reference's `<TICKER>_PST_<YYYY-MM-DD>` file naming."""
    return f"{ticker}_PST_{date}"


def _line(seed: int, i: int, tickers: int) -> tuple[str, str, bool]:
    ticker, seq, price, size, ts = tick_row(seed, i, tickers)
    spread = round(0.01 + (seq % 7) / 100.0, 2)
    millis = int((ts - _EPOCH).total_seconds() * 1000)
    fields = [
        ticker, str(seq), f"{price}", f"{size}",
        f"{price + spread:.2f}", f"{size * 2:.1f}",
        f"{price - spread:.2f}", f"{size / 2:.2f}", str(millis),
    ]
    # malformed lines are picked by (seed, i), like the values themselves
    bad = (i * 2654435761 + seed) % MALFORMED_EVERY == 0
    if bad:
        fields = fields[:-1] if i % 2 else fields + ["x"]
    return ticker, ",".join(fields) + "\n", not bad


@dataclass
class DayFiles:
    """What one generated day holds: file names and their valid rows."""

    date: str
    files: dict[str, int]  # file name -> valid rows in it

    @property
    def valid_rows(self) -> int:
        return sum(self.files.values())


def write_day(root: str, seed: int, day_index: int, rows: int,
              tickers: int) -> DayFiles:
    """Write one day directory: `rows` tick lines, row i of the day going
    to its own ticker's file. Row indexes continue across days, so every
    day holds different rows."""
    date = day(day_index)
    ddir = os.path.join(root, date)
    os.makedirs(ddir, exist_ok=True)
    by_file: dict[str, list[str]] = {}
    valid: dict[str, int] = {}
    for i in range(day_index * rows, (day_index + 1) * rows):
        ticker, text, ok = _line(seed, i, tickers)
        name = file_name(ticker, date)
        by_file.setdefault(name, []).append(text)
        valid[name] = valid.get(name, 0) + ok
    for name, lines in by_file.items():
        with open(os.path.join(ddir, name), "w") as fh:
            fh.writelines(lines)
    return DayFiles(date, valid)


def seed_registry_history(spark, log, days: int, tickers: int,
                          seed: int) -> None:
    """Append a registry history of `days` × `tickers` FINISHED files to
    `log` (a ``RegistryLog``) in one ``append``, as a compaction leaves
    it: one event per file — the FINISHED event a polling cycle writes
    for a past-dated file, with seq = day index × 10 + 3 and cycle id =
    day index. The ticker names are offset by the seed."""
    events = spark.range(days * tickers).selectExpr(
        f"CAST(id DIV {tickers} AS INT) AS d",
        f"CAST(id % {tickers} + {seed % 1000} AS INT) AS t",
    ).selectExpr(
        "concat('H', lpad(CAST(t AS STRING), 4, '0'), '-USDT_PST_',"
        f" CAST(date_add(DATE'{DAY0}', d) AS STRING)) AS filename",
        f"date_add(DATE'{DAY0}', d) AS create_date",
        "'FINISHED' AS status",
        "CAST(d * 10 + 3 AS BIGINT) AS seq",
        "CAST(d AS BIGINT) AS batch_id",
    )
    log.append(events)
