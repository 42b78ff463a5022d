"""Seeded XSMB crawl-CSV generator and a plain-Python model of the mart the
warehouse job must produce from it.

One file ``data_ddMMyyyy.csv`` per draw date, 27 rows per draw in the
reference crawler's tiers and number widths. The SURVEY section 2.7 traps
recur at a fixed rate (each once every ``TRAP_PERIOD`` days, at seeded
offsets): a UTF-8-BOM file, a short row, a one-character number, a row with
an unparseable date, and a duplicated number within one date. The model
applies the pipeline's documented semantics to the generated rows without
Spark, so it is an independent check of the mart, fact and date dimension.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

TIERS = [
    ("Giải Đặc Biệt", 5, 1),
    ("Giải Nhất", 5, 1),
    ("Giải Nhì", 5, 2),
    ("Giải Ba", 5, 6),
    ("Giải Tư", 4, 4),
    ("Giải Năm", 4, 6),
    ("Giải Sáu", 3, 3),
    ("Giải Bảy", 2, 4),
]
BAY = "Giải Bảy"
HEADER = "prize,number_value,full_date,created_at"
TRAPS = ("bom", "short_row", "one_char", "bad_date", "duplicate")
TRAP_PERIOD = 10

#: Physical schema of the mart layer the warehouse job writes.
MART_SCHEMA = pa.schema([
    ("number_value", pa.string()),
    ("total_occurrences", pa.decimal128(32, 0)),
    ("total_draws", pa.int32()),
    ("probability", pa.decimal128(36, 4)),
    ("last_appeared_date", pa.date32()),
    ("days_since_last", pa.int32()),
])


class Corpus:
    """``n_days`` consecutive draws from a seeded start date."""

    def __init__(self, seed: int, n_days: int):
        rng = random.Random(seed)
        self.start = dt.date(2020, 1, 1) + dt.timedelta(days=rng.randrange(1500))
        self.as_of = self.start + dt.timedelta(days=n_days)
        offsets = {t: rng.randrange(TRAP_PERIOD) for t in TRAPS}
        self.days = [self._draw(rng, i, offsets) for i in range(n_days)]

    def _draw(self, rng: random.Random, i: int, offsets: dict) -> dict:
        date = self.start + dt.timedelta(days=i)
        traps = {t for t, off in offsets.items() if (i + off) % TRAP_PERIOD == 0}
        rows = []
        for tier, width, count in TIERS:
            for _ in range(count):
                rows.append([tier, "".join(str(rng.randrange(10)) for _ in range(width))])
        bay = [r for r in rows if r[0] == BAY]
        if "duplicate" in traps:
            bay[1][1] = bay[0][1]
        if "one_char" in traps:
            bay[2][1] = str(rng.randrange(10))
        fd = date.strftime("%d-%m-%Y")
        created = f"{date.isoformat()}T19:05:00.000Z"
        lines = [HEADER] + [f"{t},{n},{fd},{created}" for t, n in rows]
        if "bad_date" in traps:
            lines.append(f"{BAY},{rng.randrange(100):02d},30-02-{date.year},{created}")
        if "short_row" in traps:
            lines.append(f"{BAY},{rng.randrange(100):02d}")
        # The numbers that survive the silver transform: Giải Bảy rows whose
        # number has at least two characters.
        silver = [int(n[-2:]) for t, n in rows if t == BAY and len(n) >= 2]
        return {
            "date": date,
            "name": f"data_{date.strftime('%d%m%Y')}.csv",
            "text": "\n".join(lines) + "\n",
            "encoding": "utf-8-sig" if "bom" in traps else "utf-8",
            "silver": silver,
        }

    def land(self, i: int, csv_dir: str) -> int:
        """Write day ``i``'s crawl file; returns its size in bytes."""
        day = self.days[i]
        path = os.path.join(csv_dir, day["name"])
        data = day["text"].encode(day["encoding"])
        with open(path, "wb") as f:
            f.write(data)
        return len(data)


class MartModel:
    """The mart, fact and date-dimension sizes over a prefix of the corpus,
    maintained incrementally one day at a time."""

    def __init__(self, as_of: dt.date):
        self.as_of = as_of
        self.total_draws = 0
        self.dates: set[dt.date] = set()
        self.fact_rows = 0
        self.occurrences: dict[int, int] = {}
        self.last_seen: dict[int, dt.date] = {}

    def add(self, day: dict) -> None:
        if not day["silver"]:
            return
        self.total_draws += len(day["silver"])
        self.dates.add(day["date"])
        for n in set(day["silver"]):
            self.fact_rows += 1
            self.occurrences[n] = self.occurrences.get(n, 0) + 1
            self.last_seen[n] = max(self.last_seen.get(n, day["date"]), day["date"])

    def mart_rows(self) -> list[dict]:
        """Mart rows ordered by number, with the pipeline's decimal
        semantics: decimal(32,0) / int is evaluated at scale 6 and then
        cast to decimal(36,4), both rounding half-up."""
        rows = []
        for n in sorted(self.occurrences):
            occ = self.occurrences[n]
            p6 = (Decimal(occ) / Decimal(self.total_draws)).quantize(
                Decimal("0.000001"), ROUND_HALF_UP
            )
            rows.append({
                "number_value": str(n),
                "total_occurrences": Decimal(occ),
                "total_draws": self.total_draws,
                "probability": p6.quantize(Decimal("0.0001"), ROUND_HALF_UP),
                "last_appeared_date": self.last_seen[n],
                "days_since_last": (self.as_of - self.last_seen[n]).days,
            })
        return rows


def mart_problems(path: str, model: MartModel) -> list[str]:
    """Differences between the mart layer at ``path`` and the model."""
    table = pq.read_table(path)
    rows = sorted(table.to_pylist(), key=lambda r: int(r["number_value"]))
    problems = []
    got = [(f.name, f.type) for f in table.schema]
    want = [(f.name, f.type) for f in MART_SCHEMA]
    if got != want:
        problems.append(f"mart schema {got} != {want}")
    expected = model.mart_rows()
    if rows != expected:
        diff = next(
            ((a, b) for a, b in zip(rows, expected) if a != b),
            (len(rows), len(expected)),
        )
        problems.append(f"mart rows differ: {diff}")
    return problems


def parquet_rows(path: str) -> int:
    """Row count of a (possibly partitioned) parquet layer from footers."""
    n = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                n += pq.read_metadata(os.path.join(root, name)).num_rows
    return n


def write_mart(rows: list[dict], path: str) -> None:
    """Write a mart version as the warehouse job lays it out: a directory
    holding one parquet part file and a ``_SUCCESS`` marker."""
    os.makedirs(path)
    table = pa.Table.from_pylist(rows, schema=MART_SCHEMA)
    pq.write_table(table, os.path.join(path, "part-00000-c000.snappy.parquet"))
    open(os.path.join(path, "_SUCCESS"), "wb").close()
