"""End-to-end pipeline parity over a FIXTURES.md-shaped lottery corpus.

Generates the reference's actual input shape — one `data_ddMMyyyy.csv` per
draw date, 27 rows per draw (1 ĐB + 1 Nhất + 2 Nhì + 6 Ba + 4 Tư + 6 Năm +
3 Sáu + 4 Bảy) with tier number widths 5,5,5,5,4,4,3,2
(crawl_data/.../LotteryCrawler.java:252-261,301) — including every §2.7
trap: a UTF-8-BOM file, a malformed short row, a <2-char number, an
unparseable date, an intra-date duplicate Giải-Bảy number, and one date
delivered in the ALT column layout. Then asserts the full medallion
output invariants (silver row accounting, fact grain, total_draws
semantics, mart denominator and probability sums) against values computed
independently in plain Python from the generated draws.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from datawarehouse_group10_spark.plans.medallion import run_full_pipeline
from datawarehouse_group10_spark.sources import (
    read_alt_crawl_csv,
    read_crawl_csv_dir,
)

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

N_DATES = 70
START = dt.date(2024, 1, 1)
AS_OF = "2024-06-01"


def _gen_corpus(root):
    """Returns (canonical_dir, alt_dir, bay_by_date) where bay_by_date maps
    date -> the Giải-Bảy number strings that SURVIVE the silver transform."""
    rng = random.Random(7)
    canon = root / "canon"
    alt = root / "alt"
    canon.mkdir()
    alt.mkdir()
    bay_by_date: dict[dt.date, list[str]] = {}

    for i in range(N_DATES):
        d = START + dt.timedelta(days=i)
        rows = []
        bay: list[str] = []
        for tier, width, count in TIERS:
            for _ in range(count):
                if tier == "Giải Bảy":
                    # pool 00-49 so numbers repeat across dates AND 50-99
                    # never appear (absent from dim_number)
                    num = f"{rng.randrange(50):02d}"
                    bay.append(num)
                else:
                    num = "".join(str(rng.randrange(10)) for _ in range(width))
                rows.append((tier, num, d.strftime("%d-%m-%Y")))
        if i == 0:
            # intra-date duplicate Bảy number: fact must collapse it while
            # total_draws still counts 4
            rows = [r for r in rows if r[0] != "Giải Bảy"]
            bay = ["07", "07", "23", "45"]
            rows += [("Giải Bảy", n, d.strftime("%d-%m-%Y")) for n in bay]
        if i == 2:
            # one Bảy number shorter than 2 chars -> dropped at transform
            idx = next(j for j, r in enumerate(rows) if r[0] == "Giải Bảy")
            rows[idx] = ("Giải Bảy", "7", d.strftime("%d-%m-%Y"))
            bay = [r[1] for r in rows if r[0] == "Giải Bảy" and len(r[1]) >= 2]
        bay_by_date[d] = bay

        created = f"{d.isoformat()}T19:05:00.000Z"
        lines = ["prize,number_value,full_date,created_at"]
        lines += [f"{t},{n},{fd},{created}" for t, n, fd in rows]
        if i == 3:
            # extra row with an unparseable date -> dropped at transform
            lines.append(f"Giải Bảy,88,31-02-2024,{created}")
        if i == 4:
            # malformed short row (<4 fields) -> dropped at read
            lines.append("Giải Bảy,12")
        if i == 5:
            # this date ships in the ALT layout instead
            alt_lines = [
                "process_code,ngay_trung,thu,ten_giai,so_trung,range_group,"
                "is_weekend,is_even,crawl_time"
            ]
            alt_lines += [
                f"P1,{d.isoformat()},Thứ 2,{t},{n},,false,false,{created}"
                for t, n, fd in rows
            ]
            (alt / f"data_{d.strftime('%d%m%Y')}.csv").write_text(
                "\n".join(alt_lines) + "\n", encoding="utf-8"
            )
            continue
        enc = "utf-8-sig" if i == 1 else "utf-8"  # one BOM-prefixed file
        (canon / f"data_{d.strftime('%d%m%Y')}.csv").write_text(
            "\n".join(lines) + "\n", encoding=enc
        )
    return canon, alt, bay_by_date


@pytest.fixture(scope="module")
def fixture_layers(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("lottery_fixture")
    canon, alt, bay_by_date = _gen_corpus(root)
    bronze = read_crawl_csv_dir(spark, str(canon)).unionByName(
        read_alt_crawl_csv(spark, str(alt))
    )
    layers = run_full_pipeline(bronze, as_of=AS_OF)
    return layers, bay_by_date, bronze


def test_bronze_row_accounting(fixture_layers):
    layers, bay, bronze = fixture_layers
    # 27 per date + the bad-date extra (it dies at the silver transform);
    # the malformed short row is skipped at read, like the reference's
    # load-time skip of lines with fewer than 4 fields (CsvLoader.java:39),
    # and every query of bronze sees the same rows.
    assert bronze.count() == 27 * N_DATES + 1
    assert len(bronze.collect()) == 27 * N_DATES + 1
    assert bronze.filter(F.col("full_date").isNull()).count() == 0


def test_silver_drops_exactly_the_trap_rows(fixture_layers):
    layers, bay, _ = fixture_layers
    silver = layers["silver"]
    expected = sum(len(v) for v in bay.values())  # 4 per date, 3 on date[2]
    assert expected == 4 * N_DATES - 1
    assert silver.count() == expected
    # only Giải Bảy survives, as ints 0-99
    rng = silver.agg(F.min("number_value"), F.max("number_value")).first()
    assert 0 <= rng[0] and rng[1] <= 99


def test_dim_date_covers_every_draw_date(fixture_layers):
    layers, bay, _ = fixture_layers
    dim_date = layers["dim_date"].collect()
    assert len(dim_date) == N_DATES
    keys = {r["date_key"] for r in dim_date}
    assert keys == {
        int((START + dt.timedelta(days=i)).strftime("%Y%m%d"))
        for i in range(N_DATES)
    }


def test_dim_number_membership_and_normalization(fixture_layers):
    layers, bay, _ = fixture_layers
    dim = layers["dim_number"].collect()
    appeared = {str(int(n)) for v in bay.values() for n in v}
    assert {r["number_value"] for r in dim} == appeared
    # leading-zero forms are normalized ('07' -> '7'), so no zero-PADDED
    # member exists (bare '0' itself is fine), and pool 50-99 is absent
    assert all(
        len(r["number_value"]) == 1 or not r["number_value"].startswith("0")
        for r in dim
    )
    assert all(int(r["number_value"]) < 50 for r in dim)
    # surrogate keys are dense 1..n in numeric order
    keys = sorted((r["number_key"], int(r["number_value"])) for r in dim)
    assert [k for k, _ in keys] == list(range(1, len(dim) + 1))
    assert [v for _, v in keys] == sorted(int(n) for n in appeared)


def test_fact_grain_and_draw_semantics(fixture_layers):
    layers, bay, _ = fixture_layers
    fact = layers["fact_prize"]
    # grain: one row per (date, number) — intra-date duplicate collapsed
    assert fact.groupBy("date_key", "number_key").count().filter("count > 1").count() == 0
    expected_rows = sum(len(set(v)) for v in bay.values())
    assert fact.count() == expected_rows
    # date[0]: 4 draws, 3 distinct numbers, probability 1/4 on every row
    d0 = fact.filter(F.col("date_key") == int(START.strftime("%Y%m%d"))).collect()
    assert len(d0) == 3
    assert all(r["total_draws"] == 4 and float(r["probability_value"]) == 0.25 for r in d0)
    # date[2]: the '7' row was dropped -> only 3 draws that date
    d2 = START + dt.timedelta(days=2)
    r2 = fact.filter(F.col("date_key") == int(d2.strftime("%Y%m%d"))).first()
    assert r2["total_draws"] == 3
    assert all(r["occurrence_count"] == 1 for r in d0)


def test_days_since_last_lag(fixture_layers):
    layers, bay, _ = fixture_layers
    fact = layers["fact_prize"].collect()
    # recompute the lag independently: per normalized number, ordered dates
    by_num: dict[str, list[dt.date]] = {}
    for d, nums in bay.items():
        for n in set(nums):
            by_num.setdefault(str(int(n)), []).append(d)
    expected: dict[tuple[int, str], int | None] = {}
    for n, dates in by_num.items():
        prev = None
        for d in sorted(dates):
            expected[(int(d.strftime("%Y%m%d")), n)] = (
                None if prev is None else (d - prev).days
            )
            prev = d
    dim = {r["number_key"]: r["number_value"] for r in layers["dim_number"].collect()}
    for r in fact:
        key = (r["date_key"], dim[r["number_key"]])
        assert r["days_since_last"] == expected[key], key


def test_mart_denominator_and_probability_sums(fixture_layers):
    layers, bay, _ = fixture_layers
    mart = layers["mart"].collect()
    total_draws = sum(len(v) for v in bay.values())
    occ = {}
    last = {}
    for d, nums in bay.items():
        for n in set(nums):
            k = str(int(n))
            occ[k] = occ.get(k, 0) + 1
            last[k] = max(last.get(k, d), d)
    assert {r["number_value"] for r in mart} == set(occ)
    as_of = dt.date.fromisoformat(AS_OF)
    for r in mart:
        n = r["number_value"]
        assert r["total_draws"] == total_draws
        assert int(r["total_occurrences"]) == occ[n]
        assert float(r["probability"]) == pytest.approx(
            round(occ[n] / total_draws, 4), abs=1e-4
        )
        assert r["last_appeared_date"] == last[n]
        assert r["days_since_last"] == (as_of - last[n]).days
    # occurrences across the mart account for every fact row exactly once
    assert sum(int(r["total_occurrences"]) for r in mart) == sum(
        len(set(v)) for v in bay.values()
    )
