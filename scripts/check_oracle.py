"""Local replica of the driver's correctness gate: run every queries()
entry and its DuckDB oracle side by side, compare row count, column names,
and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

#: Quadratic-BY-CONTRACT surfaces: their outputs (and thus their
#: oracles) enumerate a pair set that grows ~K^2 with the data generator's
#: copy count, so at sweep tiers above sf0.3 the wall time is literal
#: pair enumeration on BOTH engines, not a Spark scale signal (PERF.md
#: r8 #16: 848s + 206s of the sf1.0 sweep). With --cap-quadratic DIR
#: these run against DIR instead of the sweep dir, marked CAP in the
#: output so the coverage claim stays explicit.
QUADRATIC = {"ann_label_blocked_pairs", "j7_range_join", "dedup_semantic"}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    sc, oc = sorted(spark_df.columns), sorted(oracle_df.columns)
    if sc != oc:
        problems.append(f"columns spark={sc} oracle={oc}")
        return problems
    s, o = normalize(spark_df), normalize(oracle_df)
    if len(s) == len(o):
        for c in s.columns:
            a, b = s[c], o[c]
            if pd.api.types.is_float_dtype(a) and pd.api.types.is_float_dtype(b):
                bad = ~((a - b).abs() < 1e-9) & ~(a.isna() & b.isna())
            else:
                bad = (a.astype(str) != b.astype(str))
            if bad.any():
                i = bad.idxmax()
                problems.append(
                    f"value col={c} row{i}: spark={s[c][i]!r} oracle={o[c][i]!r} "
                    f"({int(bad.sum())} diffs)"
                )
    return problems


def main() -> int:
    args = list(sys.argv[1:])
    cap_dir = None
    if "--cap-quadratic" in args:
        i = args.index("--cap-quadratic")
        cap_dir = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from datawarehouse_group10_spark.contract import ORACLES, QUERIES
    from datawarehouse_group10_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)

    def make_con(d: str):
        c = duckdb.connect()
        for t in TABLES:
            p = os.path.join(d, f"{t}.parquet")
            if os.path.exists(p):
                c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return c

    con = make_con(sf_dir)
    cap_con = make_con(cap_dir) if cap_dir else None

    n_pass = n_fail = n_rows_only = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        capped = cap_dir is not None and name in QUADRATIC
        run_dir, run_con = (cap_dir, cap_con) if capped else (sf_dir, con)
        tag = " (CAP)" if capped else ""
        t0 = time.time()
        try:
            sdf = fn(spark, run_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in ORACLES:
            print(f"ROWS  {name}{tag}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            odf = run_con.execute(ORACLES[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle raised {type(e).__name__}: {e}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL  {name}{tag}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"OK    {name}{tag}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
