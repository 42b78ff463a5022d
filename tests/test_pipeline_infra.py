"""Sources, orchestration ledger, streaming, and the driver contract's
internal consistency."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datawarehouse_group10_spark.plans.medallion import bronze_to_silver
from datawarehouse_group10_spark.plans.orchestrator import ProcessLog
from datawarehouse_group10_spark.sources import (
    database_config,
    jdbc_read_options,
    read_crawl_csv_dir,
    source_config,
    write_config_tables,
    write_crawl_csv,
)
from datawarehouse_group10_spark.streaming import (
    read_crawl_csv_stream,
    run_stream_to_table,
)


@pytest.fixture(params=["posix", "memory"])
def meta_store(request):
    """Runs the OCC tests twice: against the default PosixMetaStore and
    against the in-memory fake whose ONLY atomic primitive is a locked
    dict — pinning that the snapshot commit protocol has no hidden
    POSIX dependence (VERDICT r12 #2)."""
    import datawarehouse_group10_spark.sources.layout as L

    if request.param == "posix":
        yield L.META_STORE
        return
    old = L.META_STORE
    L.META_STORE = L.MemoryMetaStore()
    try:
        yield L.META_STORE
    finally:
        L.META_STORE = old


@pytest.fixture()
def csv_dir(tmp_path):
    (tmp_path / "data_01012024.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,07,01-01-2024,2024-01-01T19:05:00.000Z\n"
        "Giải Bảy,23,01-01-2024,2024-01-01T19:05:00.000Z\n",
        encoding="utf-8",
    )
    # BOM variant + malformed row (both must be tolerated)
    (tmp_path / "data_02012024.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,41,02-01-2024,2024-01-02T19:05:00.000Z\n"
        "short-row\n",
        encoding="utf-8-sig",
    )
    (tmp_path / "ignore.txt").write_text("not a csv")
    return str(tmp_path)


def test_s3_csv_dir_scan(spark, csv_dir):
    df = read_crawl_csv_dir(spark, csv_dir)
    rows = df.collect()
    assert len(rows) == 3                      # malformed + txt skipped
    assert {r["number_value"] for r in rows} == {"07", "23", "41"}
    assert all(r["load_timestamp"] is not None for r in rows)  # S6 audit col


def test_csv_field_count_rule_matches_reference(spark, tmp_path):
    """The reference keeps a line when Java's ``split(",")`` gives at
    least four fields (CsvLoader.java:38-39), and ``split`` drops
    trailing empty fields: a trailing comma or an extra field keeps the
    row, an empty fourth field drops it. The batch and streaming readers
    share one parse policy, so both give the reference's rows."""
    created = "2024-01-01T19:05:00.000Z"
    (tmp_path / "data_01012024.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        f"Giải Bảy,07,01-01-2024,{created}\n"
        f"Giải Bảy,11,01-01-2024,{created},\n"
        f"Giải Bảy,12,01-01-2024,{created},extra\n"
        "Giải Bảy,13,01-01-2024,\n"
        "Giải Bảy,14,01-01-2024\n"
        "Giải Bảy,15\n",
        encoding="utf-8",
    )
    batch = read_crawl_csv_dir(spark, str(tmp_path))
    stream = run_stream_to_table(
        read_crawl_csv_stream(spark, str(tmp_path)), "csv_field_rule_stream",
        output_mode="append",
    )
    for df in (batch, stream):
        rows = sorted(tuple(r) for r in df.drop("load_timestamp").collect())
        assert rows == [
            ("Giải Bảy", n, "01-01-2024", created) for n in ("07", "11", "12")
        ]


def test_s2_csv_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("a", "1")], "x string, y string")
    out = str(tmp_path / "out")
    write_crawl_csv(df, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.collect()[0]["x"] == "a"


def test_jdbc_options():
    opts = jdbc_read_options("t", partition_column="id", lower_bound=0,
                             upper_bound=1000, num_partitions=16)
    assert opts["numPartitions"] == "16" and opts["partitionColumn"] == "id"
    with pytest.raises(ValueError):
        jdbc_read_options("t", partition_column="id")


def test_config_tables_roundtrip(spark, tmp_path):
    sp, dp = str(tmp_path / "cs"), str(tmp_path / "cd")
    write_config_tables(
        spark,
        [{"source_id": 2, "source_name": "xsmb", "source_url": "http://localhost",
          "file_location": "/data", "destination_staging": "stg"}],
        {"staging_schema": "staging", "staging_table": "stg_lottery_data"},
        sp, dp,
    )
    cfg = source_config(spark, sp, 2)
    assert cfg["destination_staging"] == "stg"
    db = database_config(spark, dp)
    assert db["staging_table"] == "stg_lottery_data"
    with pytest.raises(KeyError):
        source_config(spark, sp, 99)


def _ledger_statuses(store, path: str) -> list[str]:
    """Status column of every event file in the ledger, read with pyarrow
    through ``store`` (the in-memory store has no files on disk)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return [s for name in store.list(path) if name.endswith(".parquet")
            for s in pq.read_table(pa.py_buffer(store.read(os.path.join(path, name))))
            .column("status").to_pylist()]


def test_process_log_gating(meta_store, tmp_path):
    """Gating on the ledger built from MetaStore primitives alone: the
    same run against the POSIX store and the in-memory fake."""
    path = str(tmp_path / "ledger")
    log = ProcessLog(path)
    assert log.can_start("P1")                 # first stage always startable
    assert not log.can_start("P2")             # P1 never succeeded
    log.run_stage("P1", lambda: 42)
    assert log.latest_status("P1") == "SUCCESS"
    assert log.can_start("P2")
    # failure is recorded and re-raised
    with pytest.raises(RuntimeError, match="boom"):
        log.run_stage("P2", lambda: (_ for _ in ()).throw(RuntimeError("boom")))
    assert log.latest_status("P2") == "FAILED"
    # a gated-out attempt writes GATED, not FAILED, and doesn't poison state
    log.log("P3", "RUNNING")
    with pytest.raises(RuntimeError, match="gated"):
        log.run_stage("P3", lambda: 1)
    assert log.latest_status("P3") == "RUNNING"  # GATED is history only
    assert "GATED" in _ledger_statuses(meta_store, path)
    assert not log.can_start("P3")


def test_process_log_recovery_reopens_crashed_stage(meta_store, tmp_path):
    """A run that crashed mid-stage leaves RUNNING, which blocks the stage
    (every attempt is GATED) until one logged FAILED re-opens it."""
    class Crash(BaseException):
        """The driver dying mid-stage: nothing logs FAILED."""

    def crash():
        raise Crash

    log = ProcessLog(str(tmp_path / "ledger"))
    log.run_stage("P1", lambda: 1)
    with pytest.raises(Crash):
        log.run_stage("P2", crash)
    for _ in range(2):
        with pytest.raises(RuntimeError, match="gated"):
            log.run_stage("P2", lambda: 2)
    assert log.latest_status("P2") == "RUNNING"
    log.log("P2", "FAILED", message="operator: run crashed")
    assert log.run_stage("P2", lambda: 2) == 2
    assert log.latest_status("P2") == "SUCCESS"


def test_put_atomic_is_atomic_across_threads(meta_store, tmp_path):
    """Four threads replacing one key while a fifth reads it: no write
    raises, and every read returns one of the written values whole."""
    import threading

    key = str(tmp_path / "meta" / "_P1.status")
    values = [b"RUNNING", b"SUCCESS", b"FAILED", b"GATED"]
    meta_store.put_atomic(key, values[0])
    errors, bad_reads = [], []
    writers_done = threading.Event()

    def write(value):
        try:
            for _ in range(500):
                meta_store.put_atomic(key, value)
        except Exception as e:
            errors.append(e)

    def read():
        while not writers_done.is_set():
            got = meta_store.read(key)
            if got not in values:
                bad_reads.append(got)

    reader = threading.Thread(target=read)
    writers = [threading.Thread(target=write, args=(v,)) for v in values]
    reader.start()
    for t in writers:
        t.start()
    for t in writers:
        t.join()
    writers_done.set()
    reader.join()
    assert errors == [] and bad_reads == []


def test_process_log_gate_reads_are_constant_in_history(monkeypatch):
    """One gate check reads the same objects after 10 logged runs as after
    1,000, and never lists the ledger: the gate is O(1) in history."""
    from collections import Counter

    import datawarehouse_group10_spark.sources.layout as L

    class CountingStore(L.MemoryMetaStore):
        def __init__(self):
            super().__init__()
            self.calls = Counter()

        def read(self, key):
            self.calls["read"] += 1
            return super().read(key)

        def list(self, dirpath):
            self.calls["list"] += 1
            return super().list(dirpath)

    store = CountingStore()
    monkeypatch.setattr(L, "META_STORE", store)
    log = ProcessLog("/ledger")
    gate_calls = {}
    done = 0
    for runs in (10, 1000):
        for _ in range(runs - done):
            for code in ("P1", "P2", "P3", "P4"):
                log.run_stage(code, lambda: 1)
        done = runs
        store.calls.clear()
        assert log.can_start("P2")
        gate_calls[runs] = dict(store.calls)
    assert gate_calls[10] == gate_calls[1000] == {"read": 2}


def test_process_log_gate_admits_one_of_two_concurrent_runs(tmp_path, monkeypatch):
    """Two runs that both pass the gate's status reads before either logs
    RUNNING (forced by a barrier right after the gate check): the
    conditional RUNNING write lets exactly one run the stage; the other
    raises and logs GATED."""
    import threading

    barrier = threading.Barrier(2, timeout=30)
    gate = ProcessLog.can_start

    def gate_then_meet(self, code):
        ok = gate(self, code)
        barrier.wait()
        return ok

    monkeypatch.setattr(ProcessLog, "can_start", gate_then_meet)
    path = str(tmp_path / "ledger")
    loser_done = threading.Event()
    results = []

    def attempt():
        try:
            # The winner holds the stage until the loser has given up.
            results.append(ProcessLog(path).run_stage("P1", lambda: loser_done.wait(30) and 7))
        except RuntimeError as e:
            results.append(e)
            loser_done.set()

    threads = [threading.Thread(target=attempt) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 2 and results.count(7) == 1
    loser = next(r for r in results if r != 7)
    assert isinstance(loser, RuntimeError) and "gated" in str(loser)
    monkeypatch.undo()
    import pyarrow.parquet as pq

    assert sorted(pq.read_table(path).column("status").to_pylist()) == ["GATED", "RUNNING", "SUCCESS"]
    assert ProcessLog(path).latest_status("P1") == "SUCCESS"


def test_streaming_silver_matches_batch(spark, csv_dir):
    stream = bronze_to_silver(read_crawl_csv_stream(spark, csv_dir))
    got = run_stream_to_table(stream, "silver_stream_test", output_mode="append")
    batch = bronze_to_silver(read_crawl_csv_dir(spark, csv_dir))
    a = {tuple(r) for r in got.drop("load_timestamp").collect()}
    b = {tuple(r) for r in batch.drop("load_timestamp").collect()}
    assert a == b and len(a) == 3


def test_contract_registry_consistent():
    from datawarehouse_group10_spark.contract import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    # round 3: every registered query carries a full DuckDB oracle
    assert set(QUERIES) - set(ORACLES) == set()


def test_alt_crawl_format_maps_to_bronze(spark, tmp_path):
    from datawarehouse_group10_spark.sources.csv_source import read_alt_crawl_csv

    (tmp_path / "alt.csv").write_text(
        "process_code,ngay_trung,thu,ten_giai,so_trung,range_group,"
        "is_weekend,is_even,crawl_time\n"
        "CRAWL_001,2025-10-23,Thứ năm,Giải Bảy,74,70-79,false,true,"
        "2025-10-23 00:56:14\n"
        "CRAWL_001,2025-10-23,Thứ năm,Giải Đặc Biệt,49274,00000-99999,false,"
        "true,2025-10-23 00:56:14\n",
        encoding="utf-8-sig",  # the reference artifact is BOM-prefixed
    )
    bronze = read_alt_crawl_csv(spark, str(tmp_path))
    rows = {r["prize"]: r for r in bronze.collect()}
    assert rows["Giải Bảy"]["number_value"] == "74"
    assert rows["Giải Bảy"]["full_date"] == "23-10-2025"  # re-rendered dd-MM-yyyy
    silver = bronze_to_silver(bronze)
    out = silver.collect()
    assert len(out) == 1 and out[0]["number_value"] == 74


def test_alt_crawl_reader_drops_short_rows(spark, tmp_path):
    """The alt-layout reader applies the canonical reader's rule: a row
    cut short before its crawl time (5 of 9 fields) is dropped, and
    count() and collect() see the same rows, none with a NULL
    created_at."""
    from datawarehouse_group10_spark.sources.csv_source import read_alt_crawl_csv

    (tmp_path / "alt.csv").write_text(
        "process_code,ngay_trung,thu,ten_giai,so_trung,range_group,"
        "is_weekend,is_even,crawl_time\n"
        "CRAWL_001,2025-10-23,Thứ năm,Giải Bảy,74,70-79,false,true,2025-10-23 00:56:14\n"
        "CRAWL_001,2025-10-23,Thứ năm,Giải Bảy,75\n",
        encoding="utf-8",
    )
    bronze = read_alt_crawl_csv(spark, str(tmp_path))
    rows = bronze.collect()
    assert bronze.count() == len(rows) == 1
    assert rows[0]["number_value"] == "74"
    assert bronze.filter(F.col("created_at").isNull()).count() == 0


def test_warehouse_job_end_to_end(spark, tmp_path):
    from datawarehouse_group10_spark.plans.warehouse_job import (
        SQL_MART_STATISTIC,
        register_views,
        run_warehouse_job,
    )
    from datawarehouse_group10_spark.sources import write_config_tables

    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "data.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,07,01-01-2024,x\nGiải Bảy,23,01-01-2024,x\n"
        "Giải Bảy,23,02-01-2024,x\n",
        encoding="utf-8",
    )
    cfg = str(tmp_path / "config_source")
    write_config_tables(
        spark,
        [{"source_id": 3, "source_name": "t", "source_url": "u",
          "file_location": str(csv), "destination_staging": "s"}],
        {}, cfg, str(tmp_path / "config_db"),
    )
    out_dir = str(tmp_path / "dwh")
    layers = run_warehouse_job(
        spark, config_source_path=cfg, source_id=3,
        output_dir=out_dir, as_of="2024-01-10",
    )
    # layers landed as parquet and the ledger shows the full SUCCESS chain
    mart = spark.read.parquet(f"{out_dir}/mart")
    assert mart.count() == 2
    ledger = spark.read.parquet(f"{out_dir}/process_log")
    events = [(r["process_code"], r["status"], r["message"])
              for r in ledger.orderBy("process_id").collect()]
    # P2/P3/P4 count bronze, silver and fact_prize rows from the footers
    assert events == [
        ("P1", "RUNNING", None), ("P1", "SUCCESS", "rows=1"),
        ("P2", "RUNNING", None), ("P2", "SUCCESS", "rows=3"),
        ("P3", "RUNNING", None), ("P3", "SUCCESS", "rows=3"),
        ("P4", "RUNNING", None), ("P4", "SUCCESS", "rows=3"),
    ]
    # the SQL view layer answers Q2 identically to the DataFrame path
    register_views(spark, {"mart": mart})
    stats = spark.sql(SQL_MART_STATISTIC).first()
    assert stats["most_number"] == 23 and stats["least_number"] == 7


def test_warehouse_job_runs_on_event_only_ledger(spark, tmp_path):
    """A ledger written before the per-stage status objects existed (event
    files only, every stage SUCCESS) is taken over by the next run: P1..P4
    run to SUCCESS, each stage gets its ``_P*.status`` object, and Spark
    still reads only the event rows."""
    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job

    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "data.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,07,01-01-2024,x\nGiải Bảy,23,02-01-2024,x\n",
        encoding="utf-8",
    )
    out_dir = str(tmp_path / "dwh")
    ledger = os.path.join(out_dir, "process_log")
    old = ProcessLog(ledger)
    for code in ("P1", "P2", "P3", "P4"):
        old.log(code, "RUNNING")
        old.log(code, "SUCCESS", message="rows=1")
    for name in os.listdir(ledger):
        if name.startswith("_"):
            os.remove(os.path.join(ledger, name))
    assert all(n.startswith("part-") for n in os.listdir(ledger))

    run_warehouse_job(spark, csv_dir=str(csv), output_dir=out_dir, as_of="2024-01-10")
    for code in ("P1", "P2", "P3", "P4"):
        with open(os.path.join(ledger, f"_{code}.status"), "rb") as fh:
            assert fh.read() == b"SUCCESS"
    rows = spark.read.parquet(ledger).collect()
    assert len(rows) == 16                     # 8 old events + 8 new ones
    assert {r["status"] for r in rows} == {"RUNNING", "SUCCESS"}


def test_warehouse_job_reads_upper_case_csv_suffix(spark, tmp_path):
    """The P1 gate and the P2 reader agree on which files are CSVs: a
    directory holding only ``*.CSV`` passes P1, so its rows must reach
    bronze rather than publishing an empty mart."""
    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job

    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "xsmb_01102025.CSV").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,07,01-10-2025,x\nGiải Bảy,23,01-10-2025,x\n",
        encoding="utf-8",
    )
    (csv / "notes.txt").write_text("prize,number_value,full_date,created_at\nx,1,2,3\n")
    out_dir = str(tmp_path / "dwh")
    run_warehouse_job(spark, csv_dir=str(csv), output_dir=out_dir, as_of="2025-10-10")
    assert spark.read.parquet(f"{out_dir}/bronze").count() == 2
    mart = spark.read.parquet(f"{out_dir}/mart")
    assert sorted(r["number_value"] for r in mart.collect()) == ["23", "7"]


def _land_crawl_days(csv_dir, days):
    """One crawl CSV per draw day, four Giải-Bảy rows each (one of them an
    intra-date duplicate), like the daily crawler lands them."""
    import datetime as dt

    csv_dir.mkdir()
    for d in range(days):
        day = (dt.date(2024, 1, 1) + dt.timedelta(days=d)).strftime("%d-%m-%Y")
        nums = [f"{(7 * d) % 100:02d}", f"{(7 * d + 3) % 100:02d}", "23", "23"]
        (csv_dir / f"xsmb_{day}.csv").write_text(
            "prize,number_value,full_date,created_at\n"
            + "".join(f"Giải Bảy,{n},{day},x\n" for n in nums),
            encoding="utf-8",
        )


def _parquet_files(path):
    return [os.path.join(d, f) for d, _, fs in os.walk(path)
            for f in fs if f.endswith(".parquet")]


#: Spark jobs of a daily run_warehouse_job on a warm output directory,
#: measured on the 2-day fixture below (the perfbench 30-day corpus takes
#: the same 8): bronze 1, silver 1, dim_date 2 (it materializes the gold
#: rollup, whose group is the run's one exchange), then dim_number,
#: fact_prize and the mart 1 each. A rise means a gold layer shuffles
#: again, a layer re-derives another layer's lineage or a read infers a
#: schema again.
DAILY_RUN_MAX_JOBS = 8


def test_daily_run_job_and_file_counts(spark, tmp_path):
    """Pin the fixed per-run costs, which do not depend on the host: the
    second daily run uses at most DAILY_RUN_MAX_JOBS Spark jobs (counted
    by job group), no run starts a job outside its job group (the gold
    writes on driver threads inherit it), and fact_prize is written as
    the same number of files for 2 and for 20 draw days (no file per
    date)."""
    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job

    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))

    def land_and_run(days, runs):
        csv, out = tmp_path / f"csv{days}", str(tmp_path / f"dwh{days}")
        _land_crawl_days(csv, days)
        for run in range(runs):
            sc.setJobGroup(f"daily-run-{days}-{run}", "daily run")
            try:
                run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-02-01")
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return len(_parquet_files(os.path.join(out, "fact_prize")))

    files_2_days = land_and_run(2, runs=2)
    jobs = len(sc.statusTracker().getJobIdsForGroup("daily-run-2-1"))
    assert 0 < jobs <= DAILY_RUN_MAX_JOBS, jobs
    assert land_and_run(20, runs=1) == files_2_days
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped


def test_failed_gold_write_keeps_the_published_mart(spark, tmp_path, monkeypatch):
    """A failed gold write fails P4 as a whole: the ledger logs FAILED, the
    mart link still resolves to the version the previous run published,
    and no Spark job of the run is still active when the call returns
    (the concurrent gold writes are waited for before P4 raises)."""
    from datawarehouse_group10_spark.plans import warehouse_job

    csv, out = tmp_path / "csv", str(tmp_path / "dwh")
    _land_crawl_days(csv, 2)
    warehouse_job.run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-02-01")
    served = os.path.realpath(os.path.join(out, "mart"))
    write_layer = warehouse_job.write_layer
    finished = []

    def write_failing_fact(df, path):
        if os.path.basename(path) == "fact_prize":
            raise OSError("fact_prize write failed")
        write_layer(df, path)
        finished.append(os.path.basename(path))

    monkeypatch.setattr(warehouse_job, "write_layer", write_failing_fact)
    with pytest.raises(OSError, match="fact_prize write failed"):
        warehouse_job.run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-02-01")
    # Every other write had finished when P4 raised.
    assert sorted(finished) == ["bronze", "dim_date", "dim_number", "mart", "silver"]
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert os.path.realpath(os.path.join(out, "mart")) == served
    assert spark.read.parquet(served).count() > 0
    log = ProcessLog(os.path.join(out, "process_log"))
    assert log.latest_status("P4") == "FAILED"
    p4 = [r for r in spark.read.parquet(log.path).orderBy("process_id").collect()
          if r["process_code"] == "P4"]
    assert (p4[-1]["status"], p4[-1]["message"]) == ("FAILED", "fact_prize write failed")


def test_warehouse_job_replaces_date_partitioned_fact(spark, tmp_path):
    """An output directory written by the date-partitioned layout (one
    ``date_key=`` directory per draw day) is replaced by one unpartitioned
    fact_prize layer: no partition directory is left, the footer row count
    is the fact's, and date_key reads back as a data column with the same
    values."""
    import pyarrow.parquet as pq

    from datawarehouse_group10_spark.plans.medallion import run_full_pipeline
    from datawarehouse_group10_spark.plans.warehouse_job import (
        _written_rows,
        run_warehouse_job,
    )

    csv, out = tmp_path / "csv", str(tmp_path / "dwh")
    _land_crawl_days(csv, 3)
    fact_dir = os.path.join(out, "fact_prize")
    old = run_full_pipeline(read_crawl_csv_dir(spark, str(csv)), as_of="2024-02-01")
    old["fact_prize"].write.partitionBy("date_key").parquet(fact_dir)
    assert sum(n.startswith("date_key=") for n in os.listdir(fact_dir)) == 3
    want = sorted(tuple(r) for r in old["fact_prize"].select("date_key", "number_key").collect())

    layers = run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-02-01")
    assert [n for n in os.listdir(fact_dir) if n.startswith("date_key=")] == []
    assert _written_rows(fact_dir) == layers["fact_prize"].count() == len(want)
    assert all("date_key" in pq.read_schema(f).names for f in _parquet_files(fact_dir))
    got = spark.read.parquet(fact_dir).select("date_key", "number_key").collect()
    assert sorted(tuple(r) for r in got) == want


def test_vocabulary_and_cluster_resolution(spark):
    from datawarehouse_group10_spark.functions.dedup import (
        resolve_duplicate_clusters,
    )
    from datawarehouse_group10_spark.functions.text import vocabulary

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id bigint, text string"
    )
    vocab = {r["token"]: (r["tf"], r["df"]) for r in vocabulary(docs).collect()}
    assert vocab["a"] == (2, 1) and vocab["b"] == (2, 2) and vocab["c"] == (1, 1)

    # chain 1-2, 2-3 plus isolated pair 8-9 -> two components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "id_a bigint, id_b bigint"
    )
    out = {r["doc_id"]: r["canonical_id"]
           for r in resolve_duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics, as Spark actually implements them: the
    watermark is a STATE-EVICTION bound. A late row merging into
    still-live state is kept; a late row arriving after its window was
    finalized and evicted is dropped. Three micro-batches
    (maxFilesPerTrigger=1, files ordered by mtime) stage exactly that:

    - batch a: 00:10 + 03:00 -> max event 03:00
    - batch b: 03:30 — at its end, watermark 02:00 evicts+emits the
      00:00 window (n=1)
    - batch c: 00:30 — LATE, its window's state is gone -> dropped
    """
    import datetime as dt
    import glob
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.streaming import run_stream_to_table

    stream_dir = tmp_path / "stream"
    stream_dir.mkdir()
    now = time.time()

    def write_events(name, rows, mtime):
        df = spark.createDataFrame(rows, "event_id bigint, ts timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        src = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        dst = str(stream_dir / f"{name}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (mtime, mtime))  # file source orders batches by mtime

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    write_events("a", [(1, t0 + 10 * m), (2, t0 + 180 * m)], now - 300)
    write_events("b", [(3, t0 + 210 * m)], now - 200)
    write_events("c", [(4, t0 + 30 * m)], now - 100)  # late arrival

    ev = (
        spark.readStream.schema("event_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(stream_dir))
    )
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    out = run_stream_to_table(agg, "late_data_test", output_mode="append")
    rows = [(r["ws"], r["n"]) for r in out.collect()]
    # the 00:00 window emitted exactly once with only the on-time event;
    # the late 00:30 row neither re-opened it nor produced a duplicate
    assert rows.count((t0, 1)) == 1
    assert (t0, 2) not in rows
    assert len([r for r in rows if r[0] == t0]) == 1


def test_parquet_sink_restart_processes_only_new_files(spark, tmp_path):
    """The deployable sink's checkpoint WAL: a second AvailableNow run with
    the same checkpoint dir picks up ONLY files that landed after the
    first run — nothing is reprocessed, nothing is lost."""
    import glob
    import shutil

    from datawarehouse_group10_spark.streaming import (
        EVENTS_SCHEMA_NANOS,
        run_stream_to_parquet,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def land(name, rows):
        df = spark.createDataFrame(rows, EVENTS_SCHEMA_NANOS)
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(part, str(src / f"{name}.parquet"))

    def stream():
        return spark.readStream.schema(EVENTS_SCHEMA_NANOS).parquet(str(src))

    land("a", [(1, 10, 7, "x", 1.0, "{}"), (2, 20, 7, "x", 2.0, "{}")])
    run_stream_to_parquet(stream(), out, ckpt)
    assert spark.read.parquet(out).count() == 2

    land("b", [(3, 30, 8, "y", 3.0, "{}"),
               (4, 40, 8, "y", 4.0, "{}"),
               (5, 50, 9, "z", 5.0, "{}")])
    run_stream_to_parquet(stream(), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 5                      # 2 + 3, no reprocessing
    assert {r["event_id"] for r in got.collect()} == {1, 2, 3, 4, 5}


def _derby_jar_present() -> bool:
    import glob
    import os

    import pyspark

    return bool(glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "derby-*.jar")))


@pytest.mark.skipif(not _derby_jar_present(), reason="Derby JDBC driver jar not on Spark classpath")
def test_jdbc_roundtrip_embedded_derby(spark, tmp_path):
    """LIVE JDBC round-trip (S4 write + S5 partitioned read) through the
    embedded Derby database that ships with Spark: rows actually move
    through prepared-statement batches and bounded range scans, not just
    option plumbing. For a networked database (the reference's MySQL) the
    same calls apply with the driver jar added via spark-submit --jars —
    recipe in DEPLOY.md."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.jdbc_source import (
        read_jdbc_table,
        write_jdbc_table,
    )

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(0, 100).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id * 1.5 AS DOUBLE) AS v"
    )
    write_jdbc_table(df.coalesce(2), url, "t_round", mode="overwrite",
                     batchsize=16, properties=props)

    back = read_jdbc_table(spark, url, "t_round", properties=props)
    assert back.count() == 100
    assert back.agg(F.sum("v")).first()[0] == sum(i * 1.5 for i in range(100))

    # S5 partitioned scan: 4 bounded range predicates, one task each
    part = read_jdbc_table(
        spark, url, "t_round", properties=props,
        partition_column="k", lower_bound=0, upper_bound=100, num_partitions=4,
    )
    assert part.rdd.getNumPartitions() == 4
    assert {r["k"] for r in part.collect()} == set(range(100))


def test_http_mart_serving(spark, tmp_path):
    """The reference's REST surface (GET /mart/all, /mart/statistic —
    MartController.java:19-31) served from a materialized mart parquet:
    Spark computes the layer, the serving tier reads the artifact (no
    SparkSession on the request path), and a re-written artifact is
    picked up without a restart. A mart caught mid-overwrite or missing
    never replaces the last good one, and with no good mart yet the
    server answers 503 rather than an empty success."""
    import datetime as dt
    import json
    import shutil
    import urllib.error
    import urllib.request

    from datawarehouse_group10_spark.serving import MartServer

    mart = spark.createDataFrame(
        [("7", 5, 20, 0.25, dt.date(2024, 1, 9), 2),
         ("23", 8, 20, 0.4, dt.date(2024, 1, 10), 1),
         ("45", 5, 20, 0.25, dt.date(2024, 1, 8), 3)],
        "number_value string, total_occurrences long, total_draws int, "
        "probability double, last_appeared_date date, days_since_last int",
    )
    path = str(tmp_path / "mart.parquet")
    mart.coalesce(1).write.mode("overwrite").parquet(path)

    srv = MartServer(path)
    srv.start()
    try:
        base = f"http://127.0.0.1:{srv.port}"
        rows = json.load(urllib.request.urlopen(f"{base}/mart/all"))
        assert {r["number_value"] for r in rows} == {"7", "23", "45"}
        # a query string (a dashboard's cache-buster) routes on the path
        assert json.load(urllib.request.urlopen(f"{base}/mart/all?_=1")) == rows
        stat = json.load(urllib.request.urlopen(f"{base}/mart/statistic"))
        assert stat == {
            "totalOccurrences": 20,
            "mostNumber": 23,
            "leastNumber": 7,   # tie 5 vs 5 -> lower numeric value
            "lastUpdate": "2024-01-10",
        }
        mart.withColumn("total_draws", F.lit(21)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        stat2 = json.load(urllib.request.urlopen(f"{base}/mart/statistic"))
        assert stat2["totalOccurrences"] == 21
        # what an overwrite leaves mid-write, then no mart at all
        shutil.rmtree(path)
        os.makedirs(os.path.join(path, "_temporary", "0"))
        assert json.load(urllib.request.urlopen(f"{base}/mart/statistic")) == stat2
        shutil.rmtree(path)
        assert json.load(urllib.request.urlopen(f"{base}/mart/statistic")) == stat2
        mart.withColumn("total_draws", F.lit(22)).coalesce(1).write.parquet(path)
        stat3 = json.load(urllib.request.urlopen(f"{base}/mart/statistic"))
        assert stat3["totalOccurrences"] == 22
    finally:
        srv.stop()

    cold = MartServer(str(tmp_path / "not_yet_published"))
    cold.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as err:
            urllib.request.urlopen(f"http://127.0.0.1:{cold.port}/mart/all")
        assert err.value.code == 503
        err.value.close()
    finally:
        cold.stop()


def test_publish_layer_swaps_one_link(spark, tmp_path):
    """``publish_layer`` converts a plain layer directory (the in-place
    layout) into a link on its first publish, keeps only the version a
    publish replaced, leaves the last version published when a write
    fails, and Spark and pyarrow both read through the link."""
    import pyarrow.parquet as pq

    from datawarehouse_group10_spark.sources.parquet_source import (
        publish_layer,
        remove_layer,
    )

    path = str(tmp_path / "mart")
    versions = tmp_path / "_mart.versions"
    spark.range(3).write.parquet(path)
    targets = []
    for n in (4, 5, 6):
        publish_layer(path, spark.range(n).write.parquet)
        targets.append(os.path.realpath(path))
    assert os.path.islink(path)
    assert targets[-1] != targets[-2] and targets[-1].startswith(str(versions))
    assert sorted(str(versions / v / "mart") for v in os.listdir(versions)) == targets[1:]
    assert spark.read.parquet(path).count() == 6
    assert pq.read_table(path).num_rows == 6

    def fail(target):
        spark.range(9).write.parquet(target)
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        publish_layer(path, fail)
    assert os.path.realpath(path) == targets[-1]
    assert pq.read_table(path).num_rows == 6
    publish_layer(path, spark.range(7).write.parquet)
    assert len(os.listdir(versions)) == 2  # the failed version is gone
    assert spark.read.parquet(path).count() == 7

    remove_layer(path)
    assert not os.path.lexists(path) and not versions.exists()


def test_mart_server_under_concurrent_requests_and_publishes(tmp_path):
    """Eight request threads with a short switch interval against a
    MartServer while 20 versions are published: every response is one
    whole published version, and once publishing stops every thread gets
    the last version."""
    import datetime as dt
    import json
    import sys
    import threading
    import urllib.request

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse_group10_spark.serving import MartServer
    from datawarehouse_group10_spark.sources.parquet_source import publish_layer

    path = str(tmp_path / "mart")

    def publish(v):
        def write(target):
            os.makedirs(target)
            pq.write_table(pa.table({
                "number_value": ["07", "23"], "total_occurrences": [v, 1],
                "total_draws": [v + 1, v + 1], "probability": [0.5, 0.5],
                "last_appeared_date": [dt.date(2024, 1, 1)] * 2,
                "days_since_last": [1, 1],
            }), os.path.join(target, "part-0.parquet"))
        publish_layer(path, write)

    publish(1)
    srv = MartServer(path)
    srv.start()
    assert srv.rows()  # the first good load: no 503 from here on
    stop, last = threading.Event(), {}
    bad: list = []

    def client(i):
        url = f"http://127.0.0.1:{srv.port}/mart/all"
        while not stop.is_set():
            try:
                with urllib.request.urlopen(url, timeout=10) as r:
                    draws = {row["total_draws"] for row in json.load(r)}
            except Exception as e:  # noqa: BLE001 - every failure is reported
                bad.append(repr(e))
                continue
            if len(draws) != 1:
                bad.append(draws)  # rows of two versions in one body
            last[i] = draws

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for v in range(2, 22):
            publish(v)
        stop.wait(0.3)
        last.clear()
        stop.wait(0.3)
    finally:
        stop.set()
        sys.setswitchinterval(old)
        for t in threads:
            t.join(timeout=30)
        srv.stop()
    assert not any(t.is_alive() for t in threads)
    assert bad == []
    assert last == {i: {22} for i in range(8)}


def test_mart_readers_see_whole_marts_while_the_job_republishes(spark, tmp_path):
    """Run the daily job twice on one output directory while a thread
    polls the mart with pyarrow (resolving the link once per read) and
    through a MartServer: every read and every response is the first or
    the second run's whole mart, and both are seen."""
    import json
    import threading
    import urllib.request

    import pyarrow.parquet as pq

    from datawarehouse_group10_spark.plans.warehouse_job import run_warehouse_job
    from datawarehouse_group10_spark.serving import MartServer

    csv = tmp_path / "csv"
    csv.mkdir()
    header = "prize,number_value,full_date,created_at\n"
    (csv / "d1.csv").write_text(
        header + "Giải Bảy,07,01-01-2024,x\nGiải Bảy,23,01-01-2024,x\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "dwh")
    mart = os.path.join(out, "mart")

    def job():
        run_warehouse_job(spark, csv_dir=str(csv), output_dir=out, as_of="2024-01-10")

    def read_mart():
        rows = pq.read_table(os.path.realpath(mart)).to_pylist()
        return repr(sorted(rows, key=lambda r: r["number_value"]))

    def get_all():
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/mart/all") as r:
            return json.dumps(sorted(json.load(r), key=lambda r: r["number_value"]))

    job()
    srv = MartServer(mart)
    srv.start()
    marts = [(read_mart(), get_all())]
    seen, errors = set(), []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                seen.add((read_mart(), get_all()))
            except Exception as e:  # noqa: BLE001 - every failure is reported
                errors.append(repr(e))
            stop.wait(0.002)

    poller = threading.Thread(target=poll)
    poller.start()
    try:
        (csv / "d2.csv").write_text(header + "Giải Bảy,23,02-01-2024,x\n", encoding="utf-8")
        job()
        marts.append((read_mart(), get_all()))
        stop.wait(0.5)
    finally:
        stop.set()
        poller.join()
        srv.stop()
    assert errors == []
    pq_marts, http_marts = (set(m) for m in zip(*marts))
    assert len(pq_marts) == len(http_marts) == 2
    assert {m for m, _ in seen} == pq_marts
    assert {b for _, b in seen} == http_marts


def test_no_row_at_a_time_python_in_any_registered_query(spark):
    """Global anti-pattern guard: no registered query's physical plan may
    contain BatchEvalPython (row-at-a-time Python UDF — the slow path the
    design bans). Arrow-batched MapInPandas/ArrowEvalPython is allowed
    ONLY in the multimodal query, where batch-Python is the point."""
    from datawarehouse_group10_spark.contract import QUERIES

    sf = "/root/testdata/sf0.001"
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    offenders = {}
    for name, fn in QUERIES.items():
        plan = fn(spark, sf)._jdf.queryExecution().explainString(mode)
        if "BatchEvalPython" in plan:
            offenders[name] = "BatchEvalPython"
        if "InPandas" in plan and name != "multimodal_decode":
            offenders[name] = "MapInPandas outside multimodal"
    assert offenders == {}, offenders


def test_stream_interval_join_matches_batch(spark):
    """Stream-stream attribution join (availableNow) produces exactly the
    batch interval-join result: every purchase paired with the same
    user's clicks in the preceding hour."""
    from datawarehouse_group10_spark.streaming import (
        attributed_conversions,
        run_stream_to_table,
    )

    sf = "/root/testdata/sf0.001"
    stream = attributed_conversions(spark, f"{sf}/events.parquet")
    got = run_stream_to_table(
        stream, "attr_stream_test", output_mode="append"
    )

    from datawarehouse_group10_spark.sources import read_events

    ev = read_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS cu", "event_id AS click_id", "ts AS click_ts"
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS purchase_id", "ts AS purchase_ts",
        "value AS purchase_value"
    )
    batch = purchases.join(
        clicks,
        F.expr(
            "user_id = cu AND click_ts >= purchase_ts - interval 1 hour"
            " AND click_ts <= purchase_ts"
        ),
    ).select(
        "user_id", "purchase_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts"
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b
    assert len(a) > 0


def test_stream_mart_upsert_matches_batch(spark, csv_dir, tmp_path):
    """foreachBatch incremental view maintenance: streaming the crawl dir
    one file per microbatch and merging each partial mart into the
    persisted one must end at EXACTLY the batch full-load mart (same
    as_of) — and a restart with the same checkpoint must be a no-op
    (exactly-once over the file source)."""
    from datawarehouse_group10_spark.plans.medallion import run_full_pipeline
    from datawarehouse_group10_spark.streaming import run_stream_mart_upsert

    mart_dir = str(tmp_path / "mart")
    ckpt = str(tmp_path / "ckpt")
    as_of = "2024-01-10"

    def go():
        run_stream_mart_upsert(
            read_crawl_csv_stream(spark, csv_dir, max_files_per_trigger=1),
            mart_dir,
            ckpt,
            as_of=as_of,
        )

    go()

    def rows(df):
        return {
            tuple(r)
            for r in df.withColumn(
                "total_occurrences", F.col("total_occurrences").cast("bigint")
            )
            .withColumn("probability", F.col("probability").cast("double"))
            .collect()
        }

    got = rows(spark.read.parquet(mart_dir))
    batch = rows(
        run_full_pipeline(
            read_crawl_csv_dir(spark, csv_dir), as_of=as_of
        )["mart"]
    )
    assert got == batch and len(got) == 3

    go()  # restart: checkpoint says everything is committed -> no change
    assert rows(spark.read.parquet(mart_dir)) == batch


def test_stream_mart_upsert_leaves_pipeline_caches_alone(spark, csv_dir, tmp_path):
    """A mart-only caller caches nothing and releases nothing: the silver
    and gold rollup caches of an earlier run_full_pipeline call are still
    resident after a stream upserts the mart."""
    from datawarehouse_group10_spark.plans.medallion import run_full_pipeline
    from datawarehouse_group10_spark.streaming import run_stream_mart_upsert

    def n_cached() -> int:
        # Other tests' caches may be resident: compare counts, not values.
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    layers = run_full_pipeline(read_crawl_csv_dir(spark, csv_dir), as_of="2024-01-10")
    layers["fact_prize"].count()
    layers["mart"].count()
    before = n_cached()
    run_stream_mart_upsert(
        read_crawl_csv_stream(spark, csv_dir),
        str(tmp_path / "mart"),
        str(tmp_path / "ckpt"),
        as_of="2024-01-10",
    )
    assert n_cached() == before


def test_events_loader_adapts_to_both_physical_layouts(spark, tmp_path):
    """Round-4 regression guard: the events loader must handle BOTH
    physical ts layouts the testdata has shipped with — TIMESTAMP(NANOS)
    (read as nanos BIGINT, rebuilt) and TIMESTAMP(MICROS) (read natively)
    — and the REAL testdata artifact must load without assuming either.
    A directory of bare-INT64 nanos files reads like the NANOS layout.
    Batch (read_events) and streaming (read_events_stream) must agree on
    the same instants for the same rows in both layouts."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse_group10_spark.sources import events_ts_layout, read_events
    from datawarehouse_group10_spark.streaming import (
        read_events_stream,
        run_stream_to_table,
    )

    # (a) the real artifact, whatever layout the driver currently writes
    real = "/root/testdata/sf0.001/events.parquet"
    df = read_events(spark, real)
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.limit(1).count() == 1

    # (b) both synthetic layouts resolve to identical values end to end
    t0 = dt.datetime(2024, 1, 1, 12, 34, 56, 789000)
    cols = {
        "event_id": pa.array([1], pa.int64()),
        "user_id": pa.array([7], pa.int64()),
        "event_type": pa.array(["x"]),
        "value": pa.array([1.5], pa.float64()),
        "props": pa.array(["{}"]),
    }
    nanos = tmp_path / "ev_nanos.parquet"
    micros = tmp_path / "ev_micros.parquet"
    pq.write_table(
        pa.table({**cols, "ts": pa.array([t0], pa.timestamp("ns"))}),
        str(nanos),
        version="2.6",
    )
    pq.write_table(
        pa.table({**cols, "ts": pa.array([t0], pa.timestamp("us"))}), str(micros)
    )
    # a Spark-style directory whose ts is a bare INT64 of epoch nanos
    bare = tmp_path / "ev_bare"
    bare.mkdir()
    pq.write_table(
        pa.table({**cols, "ts": pa.array([t0], pa.timestamp("ns")).cast(pa.int64())}),
        str(bare / "part-0.parquet"),
    )
    assert events_ts_layout(str(nanos)) == "nanos-long"
    assert events_ts_layout(str(micros)) == "timestamp"
    assert events_ts_layout(str(bare)) == "nanos-long"

    vals = {}
    for p in (nanos, micros, bare):
        got = read_events(spark, str(p)).select("event_id", "ts").collect()
        vals[p.name] = [(r["event_id"], r["ts"]) for r in got]
        streamed = run_stream_to_table(
            read_events_stream(spark, str(p)).select("event_id", "ts"),
            f"layout_{p.stem}",
            output_mode="append",
        )
        assert [(r["event_id"], r["ts"]) for r in streamed.collect()] == vals[p.name]
    assert vals["ev_nanos.parquet"] == vals["ev_micros.parquet"] == vals["ev_bare"]
    assert vals["ev_micros.parquet"][0][1] == t0


def test_layout_probe_guards(spark, tmp_path):
    """events_ts_layout must fail loudly on the two silent-corruption
    shapes (ADVICE r5): a bare INT64 whose magnitude cannot be epoch
    nanos (an unannotated micros column would read 1000x off), and a
    directory mixing layout classes (one reader schema cannot cover
    both). A bare INT64 that IS nanos-scale classifies as nanos-long
    (the stream sentinel's physical shape), and results are memoized
    per (path, mtime)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.parquet_source import (
        _LAYOUT_CACHE,
        events_ts_layout,
    )

    nanos = 1_700_000_000_000_000_000  # ~2023 in epoch nanos
    micros = nanos // 1000

    ok = str(tmp_path / "ok.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([nanos, nanos + 1], pa.int64())}), ok
    )
    assert events_ts_layout(ok) == "nanos-long"
    assert any(k[0] == ok for k in _LAYOUT_CACHE)

    bad_unit = str(tmp_path / "bad_unit.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([micros, micros + 1], pa.int64())}), bad_unit
    )
    with _pytest.raises(ValueError, match="epoch nano"):
        events_ts_layout(bad_unit)

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    pq.write_table(
        pa.table({"ts": pa.array([nanos], pa.timestamp("ns"))}),
        str(mixed / "a.parquet"),
    )
    pq.write_table(
        pa.table({"ts": pa.array([1], pa.timestamp("us"))}),
        str(mixed / "b.parquet"),
    )
    with _pytest.raises(ValueError, match="mixed"):
        events_ts_layout(str(mixed))

    # ADVICE r6: a bare INT64 WITHOUT footer min/max stats must refuse
    # rather than silently classify as nanos (the unverifiable shape).
    no_stats = str(tmp_path / "no_stats.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([micros, micros + 1], pa.int64())}),
        no_stats,
        write_statistics=False,
    )
    with _pytest.raises(ValueError, match="no min/max"):
        events_ts_layout(no_stats)

    # ...and the magnitude check covers EVERY row group, not just the
    # first — a multi-group micros file (max over ALL groups still too
    # small) refuses like the single-group one.
    late_bad = str(tmp_path / "late_bad.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([micros, micros + 1, micros + 2,
                                  micros + 3], pa.int64())}),
        late_bad,
        row_group_size=2,
    )
    with _pytest.raises(ValueError, match="epoch nano"):
        events_ts_layout(late_bad)

    # In-place rewrite invalidation: same path + same dir mtime semantics
    # no longer apply — the cache keys on the sampled file's own mtime,
    # so rewriting the file re-probes and flips the classification.
    flip = str(tmp_path / "flip.parquet")
    pq.write_table(pa.table({"ts": pa.array([nanos], pa.int64())}), flip)
    assert events_ts_layout(flip) == "nanos-long"
    import os as _os
    pq.write_table(pa.table({"ts": pa.array([1], pa.timestamp("us"))}), flip)
    _os.utime(flip, (1, 2))  # distinct mtime even on coarse filesystems
    assert events_ts_layout(flip) == "timestamp"


def test_session_window_boundary_matches_batch_sessionize(spark):
    """The session_window merge rule equals the batch lag+cumsum rule at
    the edge: a pair exactly gap seconds apart MERGES (new session only
    when diff > gap) — the boundary the stream_suite 'session' oracle
    encodes. Checked with session_window in batch mode against
    operators/windows.py::sessionize on a frame containing an
    exactly-1800s pair and an 1801s pair."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.operators.windows import sessionize

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),  # exactly 1800s — same session
            (1, "2024-01-01 01:00:01"),  # 1801s — new session
            (2, "2024-01-01 05:00:00"),
        ],
        "user_id int, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))

    sw = (
        df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n"))
        .select("user_id", F.col("sw.start").alias("s"), "n")
    )
    sw_sessions = {
        (r["user_id"], str(r["s"]), r["n"]) for r in sw.collect()
    }
    batch = (
        sessionize(df, key="user_id", ts_col="ts", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s"), F.count("*").alias("n"))
        .select("user_id", "s", "n")
    )
    batch_sessions = {
        (r["user_id"], str(r["s"]), r["n"]) for r in batch.collect()
    }
    assert sw_sessions == batch_sessions
    assert (1, "2024-01-01 00:00:00", 2) in sw_sessions  # the merged pair


def test_stream_outer_interval_join_flushes_unmatched_at_eviction(spark):
    """Left-outer stream-stream interval join: unmatched purchases emit
    null-padded ONLY once the watermark proves no click can arrive —
    which on a finite backfill requires the clock-advancing sentinel to
    stay IN BAND (Catalyst pushes the type filter below the watermark
    node, so an out-of-band sentinel never advances the clock and the
    final watermark-horizon of purchases stays stuck in state). The
    result must equal the batch NOT-EXISTS set over the whole stream,
    including its last two hours."""
    import glob as _glob
    import shutil as _shutil

    import datawarehouse_group10_spark.contract as C
    from datawarehouse_group10_spark.streaming import (
        attributed_conversions,
        run_stream_to_table,
    )

    sf = "/root/testdata/sf0.001"
    staged = os.path.join(C._staged_events_work(spark, sf), "in")
    stream = attributed_conversions(
        spark, staged, how="left_outer", sentinel_type="_sentinel"
    )
    got = (
        run_stream_to_table(stream, "attr_outer_test", output_mode="append")
        .filter("click_id IS NULL AND user_id <> -1")
        .select("user_id", "purchase_id")
    )

    from datawarehouse_group10_spark.sources import read_events

    ev = read_events(spark, f"{sf}/events.parquet")
    batch = spark.sql(
        """
        SELECT p.user_id, p.event_id AS purchase_id
        FROM {ev} p
        WHERE p.event_type = 'purchase' AND NOT EXISTS (
          SELECT 1 FROM {ev} c
          WHERE c.user_id = p.user_id AND c.event_type = 'click'
            AND c.ts >= p.ts - interval 1 hour AND c.ts <= p.ts)
        """,
        ev=ev,
    )
    a = {tuple(r) for r in got.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0
    # the tail is present: some unmatched purchase within 2h of stream end
    max_ts = ev.agg(F.max("ts")).first()[0]
    tail = {
        tuple(r)
        for r in spark.sql(
            f"""
            SELECT p.user_id, p.event_id FROM {{ev}} p
            WHERE p.event_type = 'purchase'
              AND p.ts > timestamp'{max_ts}' - interval 2 hours
              AND NOT EXISTS (
              SELECT 1 FROM {{ev}} c
              WHERE c.user_id = p.user_id AND c.event_type = 'click'
                AND c.ts >= p.ts - interval 1 hour AND c.ts <= p.ts)
            """,
            ev=ev,
        ).collect()
    }
    assert tail and tail <= a


def test_stream_full_outer_interval_join_matches_batch(spark):
    """full_outer emits matched pairs plus BOTH unmatched sides
    (purchases with no click in the window AND clicks attributed to no
    purchase) — equal to the batch full-outer interval join."""
    import datawarehouse_group10_spark.contract as C
    from datawarehouse_group10_spark.streaming import (
        attributed_conversions,
        run_stream_to_table,
    )

    sf = "/root/testdata/sf0.001"
    staged = os.path.join(C._staged_events_work(spark, sf), "in")
    stream = attributed_conversions(
        spark, staged, how="full_outer", sentinel_type="_sentinel"
    )
    got = (
        run_stream_to_table(stream, "attr_fo_test", output_mode="append")
        .filter("(user_id IS NULL OR user_id <> -1)")
        .select("purchase_id", "click_id")
    )

    from datawarehouse_group10_spark.sources import read_events

    ev = read_events(spark, f"{sf}/events.parquet")
    clicks = ev.filter("event_type = 'click'").selectExpr(
        "user_id AS cu", "event_id AS click_id", "ts AS click_ts"
    )
    purchases = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id", "event_id AS purchase_id", "ts AS purchase_ts"
    )
    batch = purchases.join(
        clicks,
        F.expr(
            "user_id = cu AND click_ts >= purchase_ts - interval 1 hour"
            " AND click_ts <= purchase_ts"
        ),
        "full_outer",
    ).select("purchase_id", "click_id")
    key = lambda t: (t[0] is None, t[0] or 0, t[1] is None, t[1] or 0)
    a = sorted(((r["purchase_id"], r["click_id"]) for r in got.collect()), key=key)
    b = sorted(((r["purchase_id"], r["click_id"]) for r in batch.collect()), key=key)
    assert a == b
    assert any(p is None for p, _ in a) and any(c is None for _, c in a)


def test_compact_partitions_file_counts_and_idempotence(spark, tmp_path):
    """OPTIMIZE semantics pinned (ADVICE r9): a fragmented
    hive-partitioned table compacts to the writer's own predicted file
    count, rows survive byte-for-byte, and an immediate second call is
    a structural no-op (partitions_compacted == 0, counts unchanged) —
    including for HETEROGENEOUS partitions whose bytes/row sit far from
    the table average (the case the old bytes-based selection rewrote
    on every call)."""
    import hashlib

    from datawarehouse_group10_spark.sources.layout import (
        compact_partitions,
        partition_file_stats,
    )

    path = str(tmp_path / "tbl")
    # partition a: poorly-compressible rows (unique md5 hex); partition
    # b: constant payload (compresses ~to nothing). Global bytes/row is
    # a bad predictor for BOTH — exactly the heterogeneity trap.
    rows = []
    for i in range(2000):
        rows.append(("a", hashlib.md5(str(i).encode()).hexdigest() * 4))
        rows.append(("b", "x" * 128))
    df = spark.createDataFrame(rows, "p string, payload string")
    df.repartition(8).write.partitionBy("p").parquet(path)

    before = partition_file_stats(path, "p")
    assert all(s[0] >= 4 for s in before.values()), "fixture not fragmented"

    res1 = compact_partitions(spark, path, "p")
    assert res1["partitions_compacted"] == 2
    after = partition_file_stats(path, "p")
    # default 128 MiB target >> data: each partition lands in ONE file
    assert [s[0] for s in after.values()] == [1, 1]
    assert res1["files_after"] == 2

    got = spark.read.parquet(path)
    assert got.count() == 4000
    assert got.filter("p = 'a'").count() == 2000

    # no-op re-run, by construction of the self-consistent selection
    res2 = compact_partitions(spark, path, "p")
    assert res2["partitions_compacted"] == 0
    assert res2["files_before"] == res2["files_after"] == 2


def test_compact_partitions_multifile_target_stable(spark, tmp_path):
    """With a target small enough that one partition legitimately needs
    SEVERAL files, the rewrite lands ceil(rows/cap) files and the next
    call still selects nothing — the no-op guarantee must hold even
    when bytes/row drifts across the rewrite (slack absorbs it)."""
    import hashlib

    from datawarehouse_group10_spark.sources.layout import (
        compact_partitions,
        partition_file_stats,
    )

    path = str(tmp_path / "tbl")
    rows = [
        (str(i % 2), hashlib.md5(str(i).encode()).hexdigest() * 8)
        for i in range(4000)
    ]
    spark.createDataFrame(rows, "p string, payload string").repartition(
        16
    ).write.partitionBy("p").parquet(path)
    assert all(
        s[0] >= 8 for s in partition_file_stats(path, "p").values()
    )

    target = 64 << 10  # 64 KiB -> a handful of files per partition
    res1 = compact_partitions(spark, path, "p", target_bytes=target)
    assert res1["partitions_compacted"] == 2
    after = partition_file_stats(path, "p")
    assert all(1 < s[0] < 8 for s in after.values()), after

    res2 = compact_partitions(spark, path, "p", target_bytes=target)
    assert res2["partitions_compacted"] == 0
    assert res2["files_after"] == res1["files_after"]


def test_compacted_orders_early_return_recreates_success(
    spark, tmp_path, monkeypatch
):
    """compacted_orders' staging must come out READY (_SUCCESS present)
    even when compact_partitions early-returns without a Spark write
    (possible at tiny sf where the fragmented load leaves <=1 file per
    month) — otherwise every call wipes and rebuilds (ADVICE r9). Also
    pins warm-call idempotence: a second call leaves the files
    byte-identical (no rebuild)."""
    import glob

    import datawarehouse_group10_spark.contract as C

    monkeypatch.setattr(C, "GRAFT_WAREHOUSE", str(tmp_path))

    import datawarehouse_group10_spark.sources.layout as L

    # Force the early-return path regardless of scale: report nothing
    # fragmented, perform no write (so no job-commit _SUCCESS either).
    # compacted_orders imports compact_partitions from sources.layout at
    # call time, so the layout module is the one place to patch.

    monkeypatch.setattr(
        L,
        "compact_partitions",
        lambda *a, **k: {
            "partitions_compacted": 0,
            "files_before": 7,
            "files_after": 7,
        },
    )
    sf = "/root/testdata/sf0.001"
    path = C.compacted_orders(spark, sf)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))

    listing = sorted(glob.glob(os.path.join(path, "*", "*.parquet")))
    mtimes = [os.path.getmtime(f) for f in listing]
    assert C.compacted_orders(spark, sf) == path
    assert [
        os.path.getmtime(f)
        for f in sorted(glob.glob(os.path.join(path, "*", "*.parquet")))
    ] == mtimes, "warm call rebuilt the staging"


def test_cli_job_list_and_query(spark, tmp_path, monkeypatch, capsys):
    """The CLI's three commands through the argparse front door: `list`
    prints one line per registry key, `job` runs the daily warehouse job
    and prints each written layer's footer row count (a re-run on the
    same output prints the same counts), and an unknown `query` name
    exits 2."""
    import datawarehouse_group10_spark.session as S
    from datawarehouse_group10_spark.__main__ import main
    from datawarehouse_group10_spark.contract import QUERIES
    from datawarehouse_group10_spark.plans.warehouse_job import _written_rows

    # CLI main() stops its session in finally; the test session must
    # survive. The job hands the session itself to
    # inheritable_thread_target, so patch stop() on the real session
    # rather than wrapping it.
    monkeypatch.setattr(S, "get_spark", lambda **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    assert main(["list"]) == 0
    listed = capsys.readouterr().out.splitlines()
    assert [line.split()[0] for line in listed] == list(QUERIES)

    csv = tmp_path / "csv"
    csv.mkdir()
    (csv / "data.csv").write_text(
        "prize,number_value,full_date,created_at\n"
        "Giải Bảy,07,01-01-2024,x\nGiải Bảy,23,01-01-2024,x\n"
        "Giải Bảy,23,02-01-2024,x\n",
        encoding="utf-8",
    )
    out = str(tmp_path / "dwh")
    argv = ["job", "--csv-dir", str(csv), "--out", out, "--as-of", "2024-01-10"]
    printed = []
    for _ in range(2):
        assert main(argv) == 0
        head, *rows = capsys.readouterr().out.splitlines()
        assert head == f"wrote layers to {out}:"
        counts = {}
        for row in rows:
            name, _, n = row.strip().partition(": ")
            counts[name] = int(n.removesuffix(" rows"))
        assert counts == {name: _written_rows(os.path.join(out, name)) for name in counts}
        printed.append(counts)
    assert printed[1] == printed[0]
    assert {k: printed[0][k] for k in ("silver", "dim_date", "dim_number", "fact_prize", "mart")} == {
        "silver": 3, "dim_date": 2, "dim_number": 2, "fact_prize": 3, "mart": 2,
    }

    assert main(["query", "no_such_query"]) == 2
    assert "unknown query" in capsys.readouterr().err


def test_snapshot_layout_pointer_swap_and_reader_isolation(spark, tmp_path):
    """Snapshot-pointer maintenance (r11, VERDICT r10 #6): optimize
    stages a NEW version and swaps _COMMITTED, so a reader that
    resolved the old snapshot keeps scanning byte-identical files
    during and after the rewrite; fragmented partitions land at the
    writer's predicted file count, and a re-run is a structural no-op
    with the pointer untouched."""
    import glob
    import hashlib
    import os

    from datawarehouse_group10_spark.sources.layout import (
        partition_file_stats,
        snapshot_compact,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    # both partitions fragmented by the 8-shard write; heterogeneous
    # payloads (incompressible vs constant) as in the compact tests
    rows = []
    for i in range(2000):
        rows.append(("a", hashlib.md5(str(i).encode()).hexdigest() * 4))
    for i in range(2000):
        rows.append(("b", "x" * 128))
    df = spark.createDataFrame(rows, "p string, payload string")
    snap1 = snapshot_write(df, path, "p", shards=8)
    assert snapshot_version(path) == 1 and snap1 == os.path.join(path, "v1")
    before = partition_file_stats(snap1, "p")
    assert all(s[0] >= 4 for s in before.values())

    # a reader resolves v1 and records its exact file listing + sizes
    v1_files = {
        f: os.path.getsize(f)
        for f in glob.glob(os.path.join(snap1, "p=*", "*.parquet"))
    }
    v1_rows = spark.read.parquet(snap1).count()

    res = snapshot_compact(spark, path, "p")
    assert (res["old_version"], res["new_version"]) == (1, 2)
    assert snapshot_version(path) == 2
    # both partitions were fragmented, so v2 holds the whole table
    snap2 = os.path.join(path, "v2")

    # reader isolation: every v1 file still exists with its exact size
    for f, size in v1_files.items():
        assert os.path.getsize(f) == size
    assert spark.read.parquet(snap1).count() == v1_rows

    # new snapshot: right-sized and content-equal
    after = partition_file_stats(snap2, "p")
    assert [s[0] for s in after.values()] == [1, 1]
    got = spark.read.parquet(snap2)
    assert got.count() == 4000 and got.filter("p = 'a'").count() == 2000

    # no-op re-run: pointer untouched, no new version dir
    res2 = snapshot_compact(spark, path, "p")
    assert res2["partitions_compacted"] == 0
    assert (res2["old_version"], res2["new_version"]) == (2, 2)
    assert snapshot_version(path) == 2


def test_snapshot_compact_rereferences_untouched_partitions(spark, tmp_path):
    """O(touched) commit metadata (r12, VERDICT r11 #1): the untouched
    partition is RE-REFERENCED in the new manifest — its entry still
    names the v1 data dir verbatim, the v2 root holds ONLY the
    rewritten partition, and no file of the untouched partition is
    copied, linked, or listed. The commit's total metadata is one
    manifest + the pointer."""
    import glob
    import hashlib
    import os

    from datawarehouse_group10_spark.sources.layout import (
        _stage_version,
        snapshot_compact,
        snapshot_manifest,
        snapshot_read,
    )

    path = str(tmp_path / "tbl")
    # v1 staged via the shared commit protocol: partition a fragmented
    # (8 shards), partition c right-sized (one file) — so compact
    # rewrites a and re-references c.
    frag = spark.createDataFrame(
        [("a", hashlib.md5(str(i).encode()).hexdigest()) for i in range(1000)],
        "p string, payload string",
    )
    ok = spark.createDataFrame(
        [("c", hashlib.md5(str(-i).encode()).hexdigest()) for i in range(1, 1001)],
        "p string, payload string",
    )

    def writer(snap):
        frag.repartition(8).write.mode("append").partitionBy("p").parquet(snap)
        ok.coalesce(1).write.mode("append").partitionBy("p").parquet(snap)

    _stage_version(path, "p", {}, set(), writer)
    c_files_v1 = sorted(glob.glob(os.path.join(path, "v1", "p=c", "*.parquet")))
    assert len(c_files_v1) == 1

    res = snapshot_compact(spark, path, "p")
    assert res["partitions_compacted"] == 1
    m = snapshot_manifest(path)
    assert m["partitions"]["c"]["root"] == "v1"  # carried, not copied
    assert m["partitions"]["a"]["root"] == "v2"
    # the v2 data root holds ONLY the rewritten partition
    v2_dirs = [
        d for d in os.listdir(os.path.join(path, "v2")) if d.startswith("p=")
    ]
    assert v2_dirs == ["p=a"]
    # c's single v1 file is untouched on disk and still the one scanned
    assert sorted(
        glob.glob(os.path.join(path, "v1", "p=c", "*.parquet"))
    ) == c_files_v1
    got = snapshot_read(spark, path)
    assert got.count() == 2000
    assert got.filter("p = 'c'").count() == 1000


def test_snapshot_orphan_staging_invisible(spark, tmp_path):
    """A crash before the pointer swap leaves an orphan v<N> readers
    never resolve; the next writer allocates past it."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", str(i)) for i in range(500)], "p string, payload string"
    )
    snapshot_write(df, path, "p", shards=6)
    # crashed maintenance: a staged-but-uncommitted v2
    os.makedirs(os.path.join(path, "v2", "p=a"))
    assert snapshot_version(path) == 1  # orphan invisible

    res = snapshot_compact(spark, path, "p")  # allocates v3, commits
    assert res["new_version"] == 3
    assert snapshot_version(path) == 3
    assert snapshot_read(spark, path).count() == 500


def test_snapshot_backfill_replaces_batch_partitions_only(spark, tmp_path):
    """A backfill through snapshot_merge (the batch holds one
    partition's true rows, keyed on (p, k)) replaces exactly the
    batch's partitions as a NEW committed version — corruption repaired,
    siblings RE-REFERENCED in the manifest (the v2 root holds only the
    batch's partition; zero sibling file-system work), old snapshot
    byte-intact for in-flight readers, and a replay of the same batch
    is idempotent (a third version with identical content)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    true_rows = [(m, i, float(100 + i)) for m in ("a", "b", "c") for i in range(50)]
    df = spark.createDataFrame(true_rows, "p string, k int, v double")
    # bad first load: partition b doubled values, every 5th row missing
    bad = df.withColumn(
        "v", F.when(F.col("p") == "b", F.col("v") * 2).otherwise(F.col("v"))
    ).filter(~((F.col("p") == "b") & (F.col("k") % 5 == 0)))
    snap1 = snapshot_write(bad, path, "p")
    v1_files = {
        f: os.path.getsize(f)
        for f in glob.glob(os.path.join(snap1, "p=*", "*.parquet"))
    }

    res = snapshot_merge(spark, df.filter("p = 'b'"), path, "p", ["p", "k"])
    assert res["partitions_rewritten"] == 1
    assert (res["old_version"], res["new_version"]) == (1, 2)
    got = snapshot_read(spark, path)
    assert got.count() == 150
    assert (
        got.filter("p = 'b'").agg(F.sum("v")).first()[0]
        == df.filter("p = 'b'").agg(F.sum("v")).first()[0]
    )
    # O(touched) commit: siblings re-referenced, only p=b landed in v2
    m = snapshot_manifest(path)
    assert m["partitions"]["a"]["root"] == "v1"
    assert m["partitions"]["c"]["root"] == "v1"
    assert m["partitions"]["b"]["root"] == "v2"
    v2_dirs = [
        d for d in os.listdir(os.path.join(path, "v2")) if d.startswith("p=")
    ]
    assert v2_dirs == ["p=b"]
    # old snapshot byte-intact
    for f, size in v1_files.items():
        assert os.path.getsize(f) == size

    # replay idempotence: same batch again -> v3 with identical content
    res2 = snapshot_merge(spark, df.filter("p = 'b'"), path, "p", ["p", "k"])
    assert res2["new_version"] == 3
    again = snapshot_read(spark, path)
    assert again.count() == 150
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_snapshot_diff_scans_only_changed_partitions(spark, tmp_path):
    """snapshot_diff (r11; manifest-pruned since r12): row-level CDC
    between two retained versions. Untouched partitions keep the SAME
    manifest data-dir reference across versions and are pruned by pure
    manifest compare (zero I/O); the diff is exactly the merge's net
    row changes, duplicates respected."""
    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.layout import (
        _diff_manifests,
        snapshot_diff,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    rows = [(m, i, float(i)) for m in ("a", "b", "c") for i in range(30)]
    df = spark.createDataFrame(rows, "p string, k int, v double")
    # v1 is missing two b-rows and carries a duplicate of (b, 1)
    bad = df.filter(~((F.col("p") == "b") & (F.col("k").isin(5, 6)))).unionByName(
        df.filter("p = 'b' AND k = 1")
    )
    snapshot_write(bad, path, "p")
    snapshot_merge(spark, df.filter("p = 'b'"), path, "p", ["p", "k"])

    # manifest prune: only b's data-dir reference differs v1 -> v2
    assert sorted(_diff_manifests(path, 1, 2)[0]) == ["b"]

    diff = snapshot_diff(spark, path, 1, 2, "p")
    got = {
        (r["_change"], r["k"]): r
        for r in diff.collect()
    }
    # net changes: the two missing rows inserted, the duplicate deleted
    assert set(got) == {("insert", 5), ("insert", 6), ("delete", 1)}
    assert all(r["p"] == "b" for r in got.values())

    # identical content rewritten as v3: the ref changed (b -> v3) so b
    # is scanned, but the net diff is zero rows
    snapshot_merge(spark, df.filter("p = 'b'"), path, "p", ["p", "k"])  # v3 == v2 content
    assert sorted(_diff_manifests(path, 2, 3)[0]) == ["b"]
    assert snapshot_diff(spark, path, 2, 3, "p").count() == 0


def test_snapshot_time_travel_and_history(spark, tmp_path):
    """Time travel (r11; manifests since r12): snapshot_read(version=N)
    reads the table AS OF commit N for any committed version; versions
    above the pointer (uncommitted staging) fail loudly instead of
    silently reading wrong data. The v2 snapshot spans two version
    roots (a carried from v1, b rewritten in v2)."""
    import os

    import pytest as _pytest

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(m, i, float(i)) for m in ("a", "b") for i in range(20)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    assert snapshot_version(path) == 1
    fixed = df.withColumn(
        "v", F.when(F.col("p") == "b", F.col("v") + 1000).otherwise(F.col("v"))
    )
    snapshot_merge(spark, fixed.filter("p = 'b'"), path, "p", ["p", "k"])

    # default read = committed v2; version=1 time-travels to the pre-fix
    # state; both are simultaneously scannable (immutable dirs).
    assert snapshot_version(path) == 2
    old = snapshot_read(spark, path, version=1)
    new = snapshot_read(spark, path, version=2)
    assert old.filter("p = 'b'").agg(F.sum("v")).first()[0] == 190.0
    assert new.filter("p = 'b'").agg(F.sum("v")).first()[0] == 20190.0
    # v2 spans roots v1 + v2
    assert {k: e["root"] for k, e in snapshot_manifest(path)["partitions"].items()} == {
        "a": "v1", "b": "v2",
    }

    # uncommitted staging (a crashed writer's orphan v3) is not readable
    os.makedirs(os.path.join(path, "v3"))
    with _pytest.raises(ValueError, match="above the committed pointer"):
        snapshot_read(spark, path, version=3)
    assert snapshot_read(spark, path).count() == 40


def test_snapshot_merge_all_verbs(spark, tmp_path):
    """One MERGE batch exercising every verb: update, delete, insert
    into a NEW partition, and a key that MOVES partitions (both homes
    rewrite). The untouched partition is re-referenced in the manifest
    (zero file-system work, nothing under the v2 root for it); the old
    version stays readable (reader isolation)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0),
         (4, "b", 40.0), (5, "c", 50.0)],
        "k int, p string, v double",
    )
    snapshot_write(base, path, "p")
    batch = spark.createDataFrame(
        [(1, "a", 11.0, False),   # update in place
         (3, "b", 0.0, True),     # delete
         (4, "a", 44.0, False),   # key moves b -> a
         (9, "d", 90.0, False)],  # insert into a new partition
        "k int, p string, v double, del boolean",
    )
    st = snapshot_merge(spark, batch, path, "p", ["k"], delete_col="del")
    assert st == {
        "partitions_rewritten": 3,  # a (update+arrival), b (delete+departure), d (new)
        # batch key range 1..9 overlaps every partition's k stats here,
        # so nothing prunes (see the key-range pruning test for the
        # disjoint case)
        "probe_partitions": 3,
        # the batch's own upsert targets cover a+d; only b and c still
        # need the matched-home probe read (r18 continuation)
        "probe_read_partitions": 2,
        "partitions_total": 3,
        "write_shards": 0,  # default one-task-per-partition write
        "old_version": 1,
        "new_version": 2,
    }
    got = {
        r["k"]: (r["p"], r["v"])
        for r in snapshot_read(spark, path).collect()
    }
    assert got == {1: ("a", 11.0), 2: ("a", 20.0), 4: ("a", 44.0),
                   5: ("c", 50.0), 9: ("d", 90.0)}
    # untouched partition c: manifest still references the v1 data dir,
    # and the v2 root holds only the rewritten partitions
    m = snapshot_manifest(path)
    assert m["partitions"]["c"]["root"] == "v1"
    assert {d for d in os.listdir(os.path.join(path, "v2"))
            if d.startswith("p=")} == {"p=a", "p=d"}
    # partition b lost its last row -> dropped from the manifest
    assert "b" not in m["partitions"]
    # reader isolation: v1 is byte-for-byte the pre-merge table
    old = snapshot_read(spark, path, version=1)
    assert old.count() == 5
    assert {r["v"] for r in old.filter("k = 1").collect()} == {10.0}


def test_snapshot_merge_noop_batch_publishes_rereferencing_version(
    spark, tmp_path
):
    """An empty batch still commits: a new manifest re-referencing
    every partition (O(1) data work — and O(0) probe I/O, since an
    empty key range can match nothing)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, p string, v double"
    )
    snapshot_write(base, path, "p")
    empty = spark.createDataFrame([], "k int, p string, v double, del boolean")
    st = snapshot_merge(spark, empty, path, "p", ["k"], delete_col="del")
    assert st["partitions_rewritten"] == 0
    assert st["probe_partitions"] == 0  # empty key range probes nothing
    assert st["new_version"] == 2
    m = snapshot_manifest(path)
    assert {e["root"] for e in m["partitions"].values()} == {"v1"}
    out = snapshot_read(spark, path).orderBy("k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, 10.0), (2, 20.0)]


def test_snapshot_compact_zorder_clusters_rewritten_partitions(
    spark, tmp_path
):
    """snapshot_compact(zorder_cols=...) (r12): OPTIMIZE + ZORDER under
    reader isolation. The rewritten partition's files each cover a
    tight range in BOTH z columns (footer pruning improves on either
    predicate vs the unclustered rewrite), content is unchanged, and
    the fresh manifest stats reflect the clustered files."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        file_prune_fraction,
        snapshot_compact,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    n = 4000
    # two independent uniform columns; the 16-shard write scatters both
    rows = [("a", i % 97, (i * 31) % 89, float(i)) for i in range(n)]
    df = spark.createDataFrame(rows, "p string, x int, y int, v double")
    snapshot_write(df, path, "p", shards=16)

    res = snapshot_compact(
        spark, path, "p", target_bytes=6_000, zorder_cols=["x", "y"]
    )
    assert res["partitions_compacted"] == 1
    assert res["files_after"] >= 8  # several files, else pruning is moot
    pdir = os.path.join(path, "v2", "p=a")
    # a ~10% range on EITHER column prunes most files
    fx = file_prune_fraction(pdir, "x", 10, 19)
    fy = file_prune_fraction(pdir, "y", 10, 18)
    assert fx < 0.7 and fy < 0.7, (fx, fy)
    # content identical and the manifest carries the clustered stats
    got = snapshot_read(spark, path)
    assert got.count() == n
    assert got.agg(F.sum("v")).first()[0] == sum(r[3] for r in rows)
    m = snapshot_manifest(path)
    assert m["partitions"]["a"]["stats"]["x"] == [0, 96]


def test_snapshot_merge_key_range_pruning(spark, tmp_path):
    """Manifest-stat pruning of the MERGE probe (r12, VERDICT r11 #2):
    a 1-key batch into a key-clustered 10-partition table probes
    exactly the ONE partition whose manifest [min,max] for the key
    overlaps the batch's key range — the read side is ∝ touched, not
    table size — and the merged result is still exact."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    # key-sorted layout: partition p<i> holds keys [100*i, 100*i+49]
    rows = [
        (100 * i + j, f"p{i}", float(j)) for i in range(10) for j in range(50)
    ]
    base = spark.createDataFrame(rows, "k int, p string, v double")
    snapshot_write(base, path, "p")
    m = snapshot_manifest(path)
    # the manifest carries per-partition key stats from the write
    assert m["partitions"]["p3"]["stats"]["k"] == [300, 349]

    batch = spark.createDataFrame(
        [(307, "p3", -1.0, False)], "k int, p string, v double, del boolean"
    )
    st = snapshot_merge(spark, batch, path, "p", ["k"], delete_col="del")
    assert st["partitions_total"] == 10
    assert st["probe_partitions"] == 1  # << total: only p3's range matches
    assert st["partitions_rewritten"] == 1
    got = snapshot_read(spark, path)
    assert got.filter("k = 307").first()["v"] == -1.0
    assert got.count() == 500

    # a key that exists NOWHERE still prunes to zero probes but inserts
    ins = spark.createDataFrame(
        [(5000, "p0", 9.0, False)], "k int, p string, v double, del boolean"
    )
    st2 = snapshot_merge(spark, ins, path, "p", ["k"], delete_col="del")
    assert st2["probe_partitions"] == 0
    assert st2["partitions_rewritten"] == 1  # p0 rewritten for the insert
    assert snapshot_read(spark, path).count() == 501


def test_snapshot_merge_batch_dedup_and_null_flags(spark, tmp_path):
    """ADVICE r11: (a) a batch with several changes per key RAISES
    without seq_col instead of silently writing duplicate rows; (b)
    with seq_col the highest-sequence change wins, including a final
    delete; (c) a NULL delete flag means upsert, never a silent
    delete."""
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "k int, p string, v double",
    )
    snapshot_write(base, path, "p")

    dup = spark.createDataFrame(
        [(1, "a", 11.0, False, 1), (1, "a", 12.0, False, 2),
         (2, "a", 0.0, True, 1), (2, "a", 21.0, False, 2),
         (3, "b", 31.0, False, 1), (3, "b", 0.0, True, 2)],
        "k int, p string, v double, del boolean, seq int",
    )
    with _pytest.raises(ValueError, match="ONE change per key"):
        snapshot_merge(spark, dup, path, "p", ["k"], delete_col="del")

    st = snapshot_merge(
        spark, dup, path, "p", ["k"], delete_col="del", seq_col="seq"
    )
    assert st["new_version"] == 2
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    # last change wins per key: k=1 -> 12.0, k=2 un-deleted to 21.0,
    # k=3's final change is a delete
    assert got == {1: 12.0, 2: 21.0}

    nulls = spark.createDataFrame(
        [(1, "a", 100.0, None), (2, "a", 0.0, True)],
        "k int, p string, v double, del boolean",
    )
    snapshot_merge(spark, nulls, path, "p", ["k"], delete_col="del")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    # NULL flag upserted k=1; the true flag deleted k=2
    assert got == {1: 100.0}


def test_snapshot_read_stats_pruning(spark, tmp_path):
    """snapshot_read(prune={col: (lo, hi)}) (r12): the read-side twin
    of the MERGE probe's manifest-stat pruning — partitions whose
    manifest [min,max] provably miss the range are dropped from the
    scan plan (no listing, no footer, no task); the scan is a SUPERSET
    of matching rows and the caller's row filter yields exactly the
    full-scan answer. An empty match is a valid empty DataFrame, not
    an error."""
    from datawarehouse_group10_spark.sources.layout import (
        _scan_plan,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    rows = [
        (100 * i + j, f"p{i}", float(j)) for i in range(10) for j in range(50)
    ]
    snapshot_write(
        spark.createDataFrame(rows, "k int, p string, v double"), path, "p"
    )
    groups = _scan_plan(path, prune={"k": (300, 310)})[0]
    dirs = [d for _base, ds in groups for d in ds]
    assert len(dirs) == 1 and dirs[0].endswith("p=p3")
    got = (
        snapshot_read(spark, path, prune={"k": (300, 310)})
        .filter("k BETWEEN 300 AND 310")
        .count()
    )
    full = (
        snapshot_read(spark, path).filter("k BETWEEN 300 AND 310").count()
    )
    assert got == full == 11
    # a range nothing overlaps: empty result with the table schema
    empty = snapshot_read(spark, path, prune={"k": (5000, 6000)})
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "p", "v"}


def test_snapshot_optimistic_concurrency(spark, tmp_path, meta_store):
    """Writer OCC (r12): version numbers are claimed by exclusive
    create (two writers can never share a data root), and the commit
    token gives each base version AT MOST ONE committed successor — a
    stale writer raises ConcurrentWriteError instead of silently
    overwriting the pointer, and a winner that crashed between its
    token and its pointer swap is rolled forward by the next writer on
    that base."""
    import os

    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        ConcurrentWriteError,
        _stage_version,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(m, i, float(i)) for m in ("a", "b") for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")                                   # v1
    fix = df.filter("p = 'b'").withColumn("v", F.col("v") + 100)
    snapshot_merge(spark, fix, path, "p", ["p", "k"])               # v2

    # STALE writer: planned against v1 after v2 committed -> loses
    # loudly (its staging is orphaned, the table is untouched)
    v1_m = snapshot_manifest(path, 1)
    with _pytest.raises(ConcurrentWriteError, match="successor v2"):
        _stage_version(path, "p", v1_m, set(), None, base_version=1)
    assert snapshot_version(path) == 2

    # CRASHED winner: simulate a writer that committed its token for
    # base v2 and wrote manifest v4 but died before the pointer swap
    fix2 = df.filter("p = 'a'").withColumn("v", F.col("v") + 500)
    snapshot_merge(spark, fix2, path, "p", ["p", "k"])              # v4?
    crashed = snapshot_version(path)
    # rewind the pointer to v2 and leave the token in place — exactly
    # the state a pre-swap crash leaves (written through the store so
    # the scenario runs identically on the in-memory fake)
    meta_store.put_atomic(os.path.join(path, "_COMMITTED"), b"v2")
    # the next writer on base v2 rolls the winner forward, then loses
    with _pytest.raises(ConcurrentWriteError, match="replan"):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    assert snapshot_version(path) == crashed  # roll-forward happened
    # retry against the new committed version succeeds
    res = snapshot_merge(spark, fix, path, "p", ["p", "k"])
    assert res["old_version"] == crashed
    got = snapshot_read(spark, path)
    assert got.filter("p = 'a'").agg(F.sum("v")).first()[0] == 5045.0
    assert got.filter("p = 'b'").agg(F.sum("v")).first()[0] == 1045.0


def test_snapshot_merge_schema_evolution(spark, tmp_path):
    """Explicit schema evolution (r12): by default a batch with an
    unknown column raises (misspellings don't vanish silently) and a
    batch MISSING a table column raises (upserts replace whole rows);
    with evolve_schema=True the new column is added — touched
    partitions rewrite with it, untouched partitions keep their files
    and read back NULL for it."""
    import os

    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, p string, v double",
    )
    snapshot_write(base, path, "p")
    evolved = spark.createDataFrame(
        [(1, "a", 11.0, "gold")], "k int, p string, v double, tier string"
    )
    with _pytest.raises(ValueError, match="evolve_schema=True"):
        snapshot_merge(spark, evolved, path, "p", ["k"])
    partial = spark.createDataFrame([(2, "b")], "k int, p string")
    with _pytest.raises(ValueError, match="missing table column"):
        snapshot_merge(spark, partial, path, "p", ["k"])

    st = snapshot_merge(
        spark, evolved, path, "p", ["k"], evolve_schema=True
    )
    assert st["partitions_rewritten"] == 1
    got = {
        r["k"]: (r["v"], r["tier"])
        for r in snapshot_read(spark, path).collect()
    }
    # touched partition carries the value; untouched read back NULL
    assert got == {1: (11.0, "gold"), 2: (20.0, None), 3: (30.0, None)}
    # untouched partitions were NOT rewritten for the schema change
    assert not os.path.isdir(os.path.join(path, "v2", "p=b"))
    # a later plain merge against the evolved table must now carry tier
    with _pytest.raises(ValueError, match="missing table column"):
        snapshot_merge(
            spark,
            spark.createDataFrame([(3, "c", 31.0)], "k int, p string, v double"),
            path,
            "p",
            ["k"],
        )


def test_snapshot_two_live_writers_one_wins_one_retries(
    spark, tmp_path, meta_store
):
    """OCC under REAL concurrency: two merges race from the same
    committed base in parallel threads. Exactly one commits; the loser
    raises ConcurrentWriteError without corrupting anything; its retry
    (replanned against the winner) lands BOTH changes."""
    import threading

    from datawarehouse_group10_spark.sources.layout import (
        ConcurrentWriteError,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(m, i, float(i)) for m in ("a", "b", "c") for i in range(20)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    fix_a = df.filter("p = 'a'").withColumn("v", F.col("v") + 100)
    fix_b = df.filter("p = 'b'").withColumn("v", F.col("v") + 200)

    results: dict[str, object] = {}

    def run(tag, batch):
        try:
            results[tag] = snapshot_merge(spark, batch, path, "p", ["p", "k"])
        except ConcurrentWriteError as e:
            results[tag] = e

    ta = threading.Thread(target=run, args=("a", fix_a))
    tb = threading.Thread(target=run, args=("b", fix_b))
    ta.start(); tb.start(); ta.join(); tb.join()

    errs = [t for t, r in results.items() if isinstance(r, Exception)]
    wins = [t for t, r in results.items() if isinstance(r, dict)]
    # the schedule usually collides (same base) but a fast winner can
    # finish before the loser reads the pointer, in which case both
    # serialize cleanly — either outcome must leave the table sound
    assert len(wins) >= 1 and len(wins) + len(errs) == 2
    for tag in errs:
        # the loser retries against the new committed version
        results[tag] = snapshot_merge(
            spark, fix_a if tag == "a" else fix_b, path, "p", ["p", "k"]
        )
    got = snapshot_read(spark, path)
    assert got.count() == 60
    assert got.filter("p = 'a'").agg(F.sum("v")).first()[0] == 2190.0
    assert got.filter("p = 'b'").agg(F.sum("v")).first()[0] == 4190.0
    assert got.filter("p = 'c'").agg(F.sum("v")).first()[0] == 190.0
    assert snapshot_version(path) >= 3


def test_snapshot_time_travel_rejects_orphaned_loser_manifests(
    spark, tmp_path
):
    """ADVICE r13: an OCC loser writes its manifest BEFORE losing the
    CAS; once later commits advance the pointer past its version
    number, `version <= committed` alone would accept that
    never-committed state as readable history. Time travel validates
    against the commit chain (the succ_v* token lineage), so the
    orphan raises loudly."""
    import os

    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        ConcurrentWriteError,
        _commit_chain,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(m, i, float(i)) for m in ("a", "b") for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")                                   # v1
    # a stale writer stages v2 against base v1... but a faster writer
    # commits v2 first; the loser's staging lands as orphan v3
    fast = df.filter("p = 'a'").withColumn("v", F.col("v") + 100)
    snapshot_merge(spark, fast, path, "p", ["p", "k"])              # v2
    slow = df.filter("p = 'b'").withColumn("v", F.col("v") + 999)
    from datawarehouse_group10_spark.sources.layout import _stage_version

    with _pytest.raises(ConcurrentWriteError):
        _stage_version(
            path, "p", snapshot_manifest(path, 1), {"b"},
            lambda snap: slow.repartition("p").write.mode("append")
            .partitionBy("p").parquet(snap),
            base_version=1,
        )
    # the loser's manifest v3 exists on disk...
    assert os.path.exists(os.path.join(path, "_manifests", "v3.json"))
    # ...and later commits advance the pointer past 3
    snapshot_merge(spark, fast, path, "p", ["p", "k"])              # v4
    snapshot_merge(spark, fast, path, "p", ["p", "k"])              # v5
    assert _commit_chain(path) == [1, 2, 4, 5]
    # v3 <= committed but NOT in the chain: never readable as history
    with _pytest.raises(ValueError, match="never committed"):
        snapshot_read(spark, path, version=3)
    # real chain members still time-travel fine
    assert snapshot_read(spark, path, version=2).count() == 20


def test_snapshot_commit_tokens_and_pointer_is_monotonic(spark, tmp_path):
    """ADVICE r13: every base keeps its succ_v* commit token, each
    published atomically with its content, and _snapshot_commit refuses
    to move the pointer to a lower version (the roll-forward TOCTOU:
    a descheduled loser replaying a stale roll-forward must not
    regress the pointer below a commit that landed in between)."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        _snapshot_commit,
        snapshot_merge,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)], "p string, k int, v double"
    )
    snapshot_write(df, path, "p")                                   # v1
    snapshot_merge(spark, df, path, "p", ["p", "k"])                # v2
    snapshot_merge(spark, df, path, "p", ["p", "k"])                # v3
    mdir = os.path.join(path, "_manifests")
    tokens = sorted(f for f in os.listdir(mdir) if f.startswith("succ_"))
    assert tokens == ["succ_v0", "succ_v1", "succ_v2"]
    for t in tokens:
        assert open(os.path.join(mdir, t)).read().strip().isdigit()
    # monotonic pointer: a stale (lower-version) commit is a no-op
    assert snapshot_version(path) == 3
    _snapshot_commit(path, 1)
    assert snapshot_version(path) == 3
    _snapshot_commit(path, 4)  # forward still works (no manifest check)
    assert open(os.path.join(path, "_COMMITTED")).read() == "v4"


def test_snapshot_merge_full_delete_leaves_readable_empty_table(
    spark, tmp_path
):
    """ADVICE r13: a merge whose deletes empty EVERY partition commits
    a valid zero-partition snapshot; reading it returns an EMPTY
    DataFrame with the schema persisted in the manifest (no data file
    survives to infer from) instead of raising, and a follow-up merge
    repopulates the table."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k int, p string, v double"
    )
    snapshot_write(base, path, "p")
    wipe = spark.createDataFrame(
        [(1, "a", 0.0, True), (2, "b", 0.0, True)],
        "k int, p string, v double, del boolean",
    )
    st = snapshot_merge(spark, wipe, path, "p", ["k"], delete_col="del")
    assert st["partitions_rewritten"] == 2
    got = snapshot_read(spark, path)
    assert got.count() == 0
    assert set(got.columns) == {"k", "p", "v"}
    assert dict(got.dtypes)["v"] == "double"
    # and the empty table accepts the next merge normally
    refill = spark.createDataFrame(
        [(5, "c", 50.0, False)], "k int, p string, v double, del boolean"
    )
    snapshot_merge(spark, refill, path, "p", ["k"], delete_col="del")
    assert [
        (r["k"], r["v"]) for r in snapshot_read(spark, path).collect()
    ] == [(5, 50.0)]


def test_snapshot_commit_metadata_is_o_touched(spark, tmp_path):
    """Manifest list (r13, VERDICT r12 #1): on a ~1,000-partition
    table, a 1-partition merge writes O(1) new metadata — one small
    segment (the touched entry) + one version file (segment ids) —
    instead of re-serializing every partition's entry into one inline
    JSON. Pinned by measuring the bytes the commit actually wrote vs
    what the legacy inline layout would have written."""
    import json

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "wide")
    n_parts = 1000
    df = spark.createDataFrame(
        [(f"p{i:04d}", i * 10 + j, float(i)) for i in range(n_parts)
         for j in range(2)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    m1 = snapshot_manifest(path)
    assert len(m1["partitions"]) == n_parts
    inline_bytes = len(json.dumps(m1["partitions"]))

    batch = spark.createDataFrame(
        [("p0007", 71, 999.0)], "p string, k int, v double"
    )
    st = snapshot_merge(spark, batch, path, "p", ["k"])
    assert st["partitions_rewritten"] == 1
    # key-range stats pruning still holds on the wide table
    assert st["probe_partitions"] == 1
    commit_bytes = L.LAST_COMMIT_META_BYTES
    # O(touched): the 1-partition commit writes ~one entry + the id
    # list, orders of magnitude below the O(partitions_total) inline
    # rewrite (and absolutely tiny)
    assert commit_bytes < inline_bytes / 50, (commit_bytes, inline_bytes)
    assert commit_bytes < 4096, commit_bytes
    # the resolved view is unchanged: all partitions present, merge
    # applied, untouched entries carried through old segments
    m2 = snapshot_manifest(path)
    assert len(m2["partitions"]) == n_parts
    got = snapshot_read(spark, path, partitions={"p0007"})
    assert {r["v"] for r in got.collect()} == {7.0, 999.0}


def test_snapshot_segment_chain_consolidates(spark, tmp_path, monkeypatch):
    """The segment chain is bounded: when a commit would push the list
    past SEGMENT_CONSOLIDATE_AT, it writes one consolidated segment
    instead (amortized O(touched) commits, bounded plan-time reads),
    and every segment the committed version file lists is on disk."""
    import os

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    monkeypatch.setattr(L, "SEGMENT_CONSOLIDATE_AT", 4)
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"p{i}", i, float(i)) for i in range(6)], "p string, k int, v double"
    )
    snapshot_write(df, path, "p")
    for step in range(6):
        part = f"p{step % 3}"
        fix = df.filter(F.col("p") == part).withColumn(
            "v", F.col("v") + 10 * (step + 1)
        )
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
        m = snapshot_manifest(path)
        # delta chain bounded; consolidation may add range shards
        # (r14), but at 6 partitions they collapse to one segment
        assert sum(1 for s in m["segments"] if not s.get("c")) <= 4
        assert len(m["segments"]) <= 5
        assert len(m["partitions"]) == 6
    # final state = last write per partition
    got = {r["p"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got["p0"] == 40.0 and got["p1"] == 51.0 and got["p2"] == 62.0
    assert got["p3"] == 3.0  # never touched, carried through segments
    live = {s["i"] for s in snapshot_manifest(path)["segments"]}
    on_disk = {
        f[4:-5]
        for f in os.listdir(os.path.join(path, "_manifests"))
        if f.startswith("seg_")
    }
    assert live <= on_disk


def test_snapshot_multi_column_partitioning(spark, tmp_path):
    """Composite partitioning (r13, VERDICT r12 #3): snapshot APIs
    take an ordered list of partition columns; dirs nest a=x/b=y,
    manifest keys are 'x/y', and merge probing, stats pruning,
    partition-scoped rewrites and time travel all operate on the
    composite key."""
    import os

    from datawarehouse_group10_spark.sources.layout import (
        _scan_plan,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [
            (reg, f"2024-{m:02d}", reg_i * 100 + m * 10 + j, float(j))
            for reg_i, reg in enumerate(("EU", "US"))
            for m in (1, 2)
            for j in range(5)
        ],
        "region string, month string, k int, v double",
    )
    snapshot_write(df, path, ["region", "month"])
    m1 = snapshot_manifest(path)
    assert m1["partition_col"] == ["region", "month"]
    assert set(m1["partitions"]) == {
        "EU/2024-01", "EU/2024-02", "US/2024-01", "US/2024-02"
    }
    assert os.path.isdir(os.path.join(path, "v1", "region=EU", "month=2024-01"))
    assert snapshot_read(spark, path).count() == 20

    # partition restriction + stats pruning on the composite layout
    assert snapshot_read(
        spark, path, partitions={"US/2024-02"}
    ).count() == 5
    groups = _scan_plan(path, prune={"k": (110, 114)})[0]
    pruned_dirs = [d for _b, dirs in groups for d in dirs]
    assert len(pruned_dirs) == 1 and pruned_dirs[0].endswith(
        os.path.join("region=US", "month=2024-01")
    )

    # MERGE: update one key in EU/2024-01, delete one in US/2024-02,
    # insert a new key into a NEW composite partition
    batch = spark.createDataFrame(
        [
            ("EU", "2024-01", 11, 999.0, False),
            ("US", "2024-02", 123, 0.0, True),
            ("AP", "2024-03", 7, 7.0, False),
        ],
        "region string, month string, k int, v double, del boolean",
    )
    st = snapshot_merge(
        spark, batch, path, ["region", "month"], ["k"], delete_col="del"
    )
    assert st["partitions_rewritten"] == 3
    got = snapshot_read(spark, path)
    assert got.count() == 20  # 20 - 1 delete + 1 insert
    assert got.filter("k = 11").first()["v"] == 999.0
    assert got.filter("k = 123").count() == 0
    assert got.filter("region = 'AP'").first()["k"] == 7

    # rewrite one composite partition; untouched siblings re-referenced
    fix = df.filter("region = 'US' AND month = '2024-01'").withColumn(
        "v", F.col("v") + 50
    )
    res = snapshot_merge(spark, fix, path, ["region", "month"], ["k"])
    assert res["partitions_rewritten"] == 1
    m3 = snapshot_manifest(path)
    assert m3["partitions"]["US/2024-01"]["root"] == "v3"
    assert m3["partitions"]["EU/2024-02"]["root"] == "v1"

    # time travel across the composite history
    assert snapshot_read(spark, path, version=1).count() == 20
    assert snapshot_read(spark, path).filter(
        "region = 'US' AND month = '2024-01'"
    ).agg(F.sum("v")).first()[0] == 260.0


def test_snapshot_diff_stats_pruning(spark, tmp_path):
    """snapshot_diff(prune=...) (r13, VERDICT r12 #8): a key-scoped CDC
    question scans only the CHANGED partitions whose manifest stats
    overlap the key range in either version — pinned scanned-partition
    count, oracle-identical rows after the caller's row filter."""
    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_diff,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    # 10 partitions, disjoint k ranges: p0 holds 0-99, p1 100-199, ...
    df = spark.createDataFrame(
        [(f"p{i}", i * 100 + j, float(j)) for i in range(10) for j in range(100)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    # the merge rewrites THREE partitions (p2 changed values, p7, p9)
    fix = df.filter("p in ('p2','p7','p9')").withColumn(
        "v", F.when(F.col("p") == "p2", F.col("v") + 1000).otherwise(F.col("v"))
    )
    snapshot_merge(spark, fix, path, "p", ["k"])

    # unpruned: all three changed partitions scanned; only p2 differs
    full = snapshot_diff(spark, path, 1, 2, "p")
    assert L.LAST_DIFF_SCAN_PARTITIONS == 3
    assert set(r["p"] for r in full.select("p").distinct().collect()) == {"p2"}
    assert full.count() == 200  # 100 deletes + 100 inserts

    # key-scoped: k in [200, 250] overlaps only p2's stats -> 1 scanned
    scoped = snapshot_diff(spark, path, 1, 2, "p", prune={"k": (200, 250)})
    assert L.LAST_DIFF_SCAN_PARTITIONS == 1
    got = scoped.filter("k BETWEEN 200 AND 250")
    assert got.count() == 102  # 51 keys x (delete + insert)
    # a range overlapping NO changed partition scans nothing
    none = snapshot_diff(spark, path, 1, 2, "p", prune={"k": (400, 450)})
    assert L.LAST_DIFF_SCAN_PARTITIONS == 0
    assert none.count() == 0


def test_snapshot_merge_update_cols_partial_rows(spark, tmp_path):
    """update_cols (r13, VERDICT r12 #5): a partial-column CDC batch
    updates only the carried columns on matched keys, keeps current
    values elsewhere, inserts unmatched keys with NULL padding, and
    deletes normally — all in ONE batch. Key/partition columns are
    fenced out of update_cols, and a partial batch cannot evolve."""
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [
            (1, "a", 10.0, "one"),
            (2, "a", 20.0, "two"),
            (3, "b", 30.0, "three"),
        ],
        "k int, p string, v double, label string",
    )
    snapshot_write(base, path, "p")

    # one batch: update v only for k=1, delete k=2, insert k=9
    batch = spark.createDataFrame(
        [
            (1, "a", 111.0, False),
            (2, "a", 0.0, True),
            (9, "b", 90.0, False),
        ],
        "k int, p string, v double, del boolean",
    )
    st = snapshot_merge(
        spark, batch, path, "p", ["k"],
        delete_col="del", update_cols=["v"],
    )
    assert st["partitions_rewritten"] == 2
    got = {
        r["k"]: (r["v"], r["label"])
        for r in snapshot_read(spark, path).collect()
    }
    assert got == {
        1: (111.0, "one"),   # v updated, label KEPT
        3: (30.0, "three"),  # untouched key in rewritten partition
        9: (90.0, None),     # insert: uncarried label is NULL
    }

    # guard rails
    with _pytest.raises(ValueError, match="key or partition"):
        snapshot_merge(
            spark, batch, path, "p", ["k"],
            delete_col="del", update_cols=["p"],
        )
    short = spark.createDataFrame([(1, "a")], "k int, p string")
    with _pytest.raises(ValueError, match="missing"):
        snapshot_merge(
            spark, short, path, "p", ["k"], update_cols=["v"]
        )
    evolved = spark.createDataFrame(
        [(1, "a", 5.0, "x")], "k int, p string, v double, extra string"
    )
    with _pytest.raises(ValueError, match="partial"):
        snapshot_merge(
            spark, evolved, path, "p", ["k"],
            update_cols=["v"], evolve_schema=True,
        )
    # full-row merges still demand whole rows
    with _pytest.raises(ValueError, match="whole rows|missing table"):
        snapshot_merge(spark, batch.drop("del"), path, "p", ["k"])


def test_snapshot_partition_value_pruning(spark, tmp_path):
    """Pruning on the PARTITION COLUMN itself (r13): partition values
    carry no footer stats (they are stripped from the files), but the
    manifest key IS the value — a date-range prune on a
    date-partitioned table drops partitions by key comparison, both
    in snapshot_read and composed with data-column stats pruning."""
    from datawarehouse_group10_spark.sources.layout import (
        _scan_plan,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [
            (f"2024-{m:02d}", m * 100 + j, float(j))
            for m in range(1, 13)
            for j in range(10)
        ],
        "month string, k int, v double",
    )
    snapshot_write(df, path, "month")
    # string-range prune on the partition column: 3 of 12 months
    groups = _scan_plan(path, prune={"month": ("2024-03", "2024-05")})[0]
    dirs = [d for _b, ds in groups for d in ds]
    assert len(dirs) == 3
    got = snapshot_read(spark, path, prune={"month": ("2024-03", "2024-05")})
    assert got.count() == 30
    assert set(r["month"] for r in got.select("month").distinct().collect()) \
        == {"2024-03", "2024-04", "2024-05"}
    # composed: partition-value range AND a data-column stats range
    # that only month 04 satisfies (k 405-409; month 05 starts at 500)
    groups2 = _scan_plan(
        path, prune={"month": ("2024-03", "2024-05"), "k": (405, 495)}
    )[0]
    dirs2 = [d for _b, ds in groups2 for d in ds]
    assert len(dirs2) == 1 and dirs2[0].endswith("month=2024-04")


def test_snapshot_commit_validation_is_o1(spark, tmp_path):
    """r13: version files record their base, so 'was this version
    committed?' is one token read (the base's successor must name it)
    instead of a chain walk — pinned by counting MetaStore reads
    during a time-travel manifest resolve on a long history."""
    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(5)], "p string, k int, v double"
    )
    snapshot_write(df, path, "p")
    for _ in range(8):
        snapshot_merge(spark, df, path, "p", ["k"])  # v2..v9

    reads = {"n": 0}
    real = L.PosixMetaStore.read

    def counting_read(self, key):
        reads["n"] += 1
        return real(self, key)

    orig = L.META_STORE
    try:
        store = L.PosixMetaStore()
        store.read = counting_read.__get__(store)
        L.META_STORE = store
        snapshot_manifest(path, 3)  # time travel deep into history
    finally:
        L.META_STORE = orig
    # pointer + v3 version file + one succ token + segment resolve
    # reads — NOT a walk over all 9 bases
    assert reads["n"] <= 7, reads["n"]


def test_snapshot_layout_randomized_against_model(
    spark, tmp_path, meta_store
):
    """Model-based fuzz of the snapshot layout (r13; merge-on-read
    deletes joined r14): a seeded-random sequence of full-row merges,
    partial (update_cols) merges, MOR deletes, whole-partition
    replacements, and compactions is mirrored into a plain Python dict
    model; after EVERY commit the committed snapshot must equal the
    model exactly, and every retained version must time-travel to its
    recorded model state.
    Catches cross-op interactions no single-op pytest stages (merge
    after full-delete after a replacement, tombstoned partitions getting
    re-created, segment-chain resolution across mixed writers).
    Parametrized over BOTH MetaStores — the whole segment/commit
    metadata plane also runs against the in-memory fake."""
    import random

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    rng = random.Random(13)
    parts = ["a", "b", "c"]
    schema = "k int, p string, v double, tag string"

    def read_state():
        return {
            r["k"]: (r["p"], r["v"], r["tag"])
            for r in snapshot_read(spark, path).collect()
        }

    def check_meta(model):
        """Metadata invariants after EVERY commit (r15, VERDICT r14
        #6): the pruning metadata the scale story depends on must not
        silently decay as verbs interleave — n_live matches the live
        entry count, per-entry file/row counts match the actual
        files, fstats name real files with footer-true bounds, entry
        stats bound every live value, and key blooms never
        false-negative a live key (EXACTLY the live keys' bits for
        dv/ap-free entries, a superset otherwise)."""
        import base64
        import os

        import pyarrow.parquet as pq

        import datawarehouse_group10_spark.sources.layout as L
        from datawarehouse_group10_spark.sources.layout import (
            snapshot_manifest,
        )

        m = snapshot_manifest(path)
        pm = m["partitions"]
        raw = L._manifest_read(path, m["version"])
        if raw.get("n_live") is not None:
            assert raw["n_live"] == len(pm)
        live_by_part: dict[str, list] = {}
        for k, (p, v, tag) in model.items():
            live_by_part.setdefault(p, []).append((k, v))
        # every live partition has an entry; an entry may outlive its
        # rows only while MOR refs cover it (dv killed everything)
        assert set(live_by_part) <= set(pm), (
            set(pm), set(live_by_part)
        )
        for v0 in set(pm) - set(live_by_part):
            assert "dv" in pm[v0], "empty entry without dv: " + v0
        for val, e in pm.items():
            pdir = os.path.join(
                path, e["root"], L._part_relpath(L._entry_pc(m, e), val)
            )
            files = sorted(
                f for f in os.listdir(pdir) if f.endswith(".parquet")
            )
            ap_files = [
                f for rec in e.get("ap") or () for f in rec["files"]
            ]
            assert e["files"] == len(files) + len(ap_files), val
            rows = sum(
                pq.ParquetFile(os.path.join(pdir, f)).metadata.num_rows
                for f in files
            ) + sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in ap_files
            )
            assert e["rows"] == rows, val
            if "fstats" in e:
                assert set(e["fstats"]) <= set(files), val
                for fname, fs in e["fstats"].items():
                    md = pq.ParquetFile(
                        os.path.join(pdir, fname)
                    ).metadata
                    for j in range(md.num_columns):
                        cname = md.schema.column(j).name
                        if cname not in fs:
                            continue
                        lo = min(
                            L._stat_norm(
                                md.row_group(rg).column(j).statistics.min
                            )
                            for rg in range(md.num_row_groups)
                        )
                        hi = max(
                            L._stat_norm(
                                md.row_group(rg).column(j).statistics.max
                            )
                            for rg in range(md.num_row_groups)
                        )
                        assert fs[cname][0] <= lo and hi <= fs[cname][1]
            # entry stats bound every LIVE value of the partition
            krange = (e.get("stats") or {}).get("k")
            if krange is not None:
                for k, _v in live_by_part.get(val, ()):
                    assert krange[0] <= k <= krange[1], (val, k)
            # key bloom: never a false negative on a live key; exact
            # for entries without outstanding dv/ap refs
            kb = e.get("kb")
            if kb is not None and live_by_part.get(val):
                bits = int.from_bytes(
                    base64.b64decode(kb["b"]), "little"
                )
                keys_df = spark.createDataFrame(
                    [(k,) for k, _ in live_by_part[val]], "k int"
                )
                pos_rows = keys_df.select(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.lit(i), F.col("k")),
                                F.lit(kb["m"]),
                            ).cast("int")
                            for i in range(kb["k"])
                        ]
                    ).alias("ps")
                ).collect()
                want = {p for r in pos_rows for p in r["ps"]}
                got_bits = {
                    i for i in range(kb["m"]) if (bits >> i) & 1
                }
                assert want <= got_bits, f"bloom false-negative in {val}"
                if "dv" not in e and "ap" not in e:
                    assert want == got_bits, (
                        f"bloom of clean entry {val} is not exact"
                    )

    # initial state
    model: dict[int, tuple] = {
        k: (parts[k % 3], float(k), f"t{k}") for k in range(12)
    }
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(k, *model[k]) for k in model], schema
    )
    snapshot_write(base, path, "p", key_bloom=["k"])
    history: dict[int, dict] = {1: dict(model)}
    version = 1
    check_meta(model)

    for step in range(10):
        op = rng.choice(
            ["merge", "merge", "merge_pc", "mor_delete", "replace",
             "compact", "upsert_mor", "upsert_mor"]
        )
        if op == "merge":
            ops: dict[int, tuple] = {}
            for _ in range(rng.randint(1, 5)):
                k = rng.randint(0, 19)
                if rng.random() < 0.3:
                    ops[k] = (k, parts[k % 3], 0.0, "x", True)
                else:
                    p = rng.choice(parts + ["d"])
                    ops[k] = (k, p, float(rng.randint(0, 99)), f"s{step}", False)
            for k, (_, p, v, tag, dele) in ops.items():
                if dele:
                    model.pop(k, None)
                else:
                    model[k] = (p, v, tag)
            batch = spark.createDataFrame(
                list(ops.values()), schema + ", del boolean"
            )
            st = snapshot_merge(
                spark, batch, path, "p", ["k"], delete_col="del"
            )
            version = st["new_version"]
        elif op == "merge_pc":
            rows = []
            seen = set()
            for _ in range(rng.randint(1, 4)):
                k = rng.randint(0, 19)
                if k in seen:
                    continue
                seen.add(k)
                p = model[k][0] if k in model else rng.choice(parts)
                v = float(rng.randint(100, 199))
                rows.append((k, p, v))
                if k in model:
                    model[k] = (model[k][0], v, model[k][2])
                else:
                    model[k] = (p, v, None)
            batch = spark.createDataFrame(rows, "k int, p string, v double")
            st = snapshot_merge(
                spark, batch, path, "p", ["k"], update_cols=["v"]
            )
            version = st["new_version"]
        elif op == "mor_delete":
            from datawarehouse_group10_spark.sources.layout import (
                snapshot_delete,
            )

            ks = sorted(rng.sample(range(0, 25), rng.randint(1, 4)))
            for k in ks:
                model.pop(k, None)
            st = snapshot_delete(
                spark,
                spark.createDataFrame([(k,) for k in ks], "k int"),
                path, "p", ["k"],
            )
            version = st["new_version"]
        elif op == "upsert_mor":
            from datawarehouse_group10_spark.sources.layout import (
                snapshot_upsert_mor,
            )

            ops = {}
            for _ in range(rng.randint(1, 5)):
                k = rng.randint(0, 19)
                if rng.random() < 0.3:
                    ops[k] = (k, parts[k % 3], 0.0, "x", True)
                else:
                    p = rng.choice(parts + ["d"])
                    ops[k] = (
                        k, p, float(rng.randint(0, 99)), f"u{step}",
                        False,
                    )
            for k, (_, p, v, tag, dele) in ops.items():
                if dele:
                    model.pop(k, None)
                else:
                    model[k] = (p, v, tag)
            batch = spark.createDataFrame(
                list(ops.values()), schema + ", del boolean"
            )
            st = snapshot_upsert_mor(
                spark, batch, path, "p", ["k"], delete_col="del"
            )
            version = st["new_version"]
        elif op == "replace":
            # replace partition p's rows: one merge deletes its live
            # keys and upserts the new rows
            p = rng.choice(parts)
            rows = [
                (k, p, float(rng.randint(200, 299)), f"b{step}")
                for k in rng.sample(range(30, 60), rng.randint(1, 4))
            ]
            new = {r[0] for r in rows}
            gone = [k for k in model if model[k][0] == p and k not in new]
            for k in list(model):
                if model[k][0] == p:
                    del model[k]
            for k, pp, v, tag in rows:
                model[k] = (pp, v, tag)
            batch = spark.createDataFrame(
                [(k, p, 0.0, "x", True) for k in gone]
                + [(*r, False) for r in rows],
                schema + ", del boolean",
            )
            st = snapshot_merge(
                spark, batch, path, "p", ["k"], delete_col="del"
            )
            version = st["new_version"]
        else:
            st = snapshot_compact(spark, path, "p", target_bytes=1 << 20)
            version = st["new_version"]
        history[version] = dict(model)
        assert read_state() == model, f"divergence after step {step} ({op})"
        check_meta(model)

    # every retained version time-travels to its recorded model state
    for v, snap_model in history.items():
        got = {
            r["k"]: (r["p"], r["v"], r["tag"])
            for r in snapshot_read(spark, path, version=v).collect()
        }
        assert got == snap_model, f"time travel to v{v} diverged"


def test_snapshot_compact_zorder_on_composite_partitions(spark, tmp_path):
    """OPTIMIZE + ZORDER over a composite-partitioned snapshot (r13):
    fragmented (region, month) leaves rewrite into one right-sized
    file each, clustered on the z-key; right-sized leaves are
    re-referenced; content is byte-equal to the pre-compact state."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [
            (reg, f"2024-{m:02d}", i, float((i * 37) % 500))
            for reg in ("EU", "US")
            for m in (1, 2)
            for i in range(500)
        ],
        "region string, month string, k int, v double",
    )
    # shards=8 fragments every composite leaf
    snapshot_write(df, path, ["region", "month"], shards=8)
    m1 = snapshot_manifest(path)
    assert all(e["files"] > 1 for e in m1["partitions"].values())
    before = sorted(
        (r["region"], r["month"], r["k"], r["v"])
        for r in snapshot_read(spark, path).collect()
    )
    res = snapshot_compact(
        spark, path, ["region", "month"], zorder_cols=["k", "v"]
    )
    assert res["partitions_compacted"] == 4
    m2 = snapshot_manifest(path)
    assert all(e["files"] == 1 for e in m2["partitions"].values())
    assert all(e["root"] == "v2" for e in m2["partitions"].values())
    after = sorted(
        (r["region"], r["month"], r["k"], r["v"])
        for r in snapshot_read(spark, path).collect()
    )
    assert after == before
    # stats flowed into the new manifest entries for future pruning
    assert all("k" in e["stats"] for e in m2["partitions"].values())
    # no-op re-run on the composite layout
    res2 = snapshot_compact(spark, path, ["region", "month"])
    assert res2["new_version"] == res2["old_version"]


def test_snapshot_crash_at_every_commit_step_recovers(
    spark, tmp_path, monkeypatch
):
    """Crash injection at each stage of the commit protocol (r13):
    after the claim, during manifest build, before the CAS, and
    between the token and the pointer swap. After EVERY simulated
    crash the committed snapshot is untouched, the wreckage stays
    outside the commit chain, and the next writer allocates past it
    and commits normally (rolling a token-holding winner forward)."""
    import pytest as _pytest

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        ConcurrentWriteError,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(m, i, float(i)) for m in ("a", "b") for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    fix = df.filter("p = 'b'").withColumn("v", F.col("v") + 100)

    def state():
        return sorted(
            (r["p"], r["k"], r["v"])
            for r in snapshot_read(spark, path).collect()
        )

    baseline = state()

    class Boom(RuntimeError):
        pass

    # 1. crash right after the version CLAIM (nothing else written)
    real_alloc = L._allocate_version

    def alloc_then_die(p):
        real_alloc(p)
        raise Boom("post-claim crash")

    monkeypatch.setattr(L, "_allocate_version", alloc_then_die)
    with _pytest.raises(Boom):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    monkeypatch.setattr(L, "_allocate_version", real_alloc)
    assert state() == baseline

    # 2. crash mid-manifest-build (data written, no manifest)
    real_entry = L._partition_entry

    def entry_then_die(root_rel, pdir, recs=None):
        raise Boom("mid-manifest crash")

    monkeypatch.setattr(L, "_partition_entry", entry_then_die)
    with _pytest.raises(Boom):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    monkeypatch.setattr(L, "_partition_entry", real_entry)
    assert state() == baseline

    # 3. crash after the manifest write, before the CAS
    real_cas = L._snapshot_commit_cas

    def cas_die(p, base, version):
        raise Boom("pre-CAS crash")

    monkeypatch.setattr(L, "_snapshot_commit_cas", cas_die)
    with _pytest.raises(Boom):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    monkeypatch.setattr(L, "_snapshot_commit_cas", real_cas)
    assert state() == baseline
    # the pre-CAS wreck left a manifest but no commit: non-lineage
    chain = set(L._commit_chain(path))
    wrecks = [
        v for v in L._snapshot_versions(path)
        if v not in chain and L._manifest_read(path, v) is not None
    ]
    assert wrecks, "expected orphaned staging outside the commit chain"

    # 4. crash between the commit token and the pointer swap
    real_ptr = L._snapshot_commit
    calls = {"n": 0}

    def ptr_die(p, version):
        calls["n"] += 1
        raise Boom("post-token crash")

    monkeypatch.setattr(L, "_snapshot_commit", ptr_die)
    with _pytest.raises(Boom):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    monkeypatch.setattr(L, "_snapshot_commit", real_ptr)
    assert calls["n"] == 1
    assert state() == baseline  # pointer never moved

    # recovery: the next writer on the same base rolls the
    # token-holding winner forward, loses loudly, and its retry lands
    with _pytest.raises(ConcurrentWriteError, match="replan"):
        snapshot_merge(spark, fix, path, "p", ["p", "k"])
    rolled = snapshot_version(path)
    assert sorted(
        (r["p"], r["k"], r["v"])
        for r in snapshot_read(spark, path).collect()
    ) != baseline  # the crashed winner's merge is now live
    res = snapshot_merge(spark, fix, path, "p", ["p", "k"])
    assert res["old_version"] == rolled
    got = state()
    assert [t for t in got if t[0] == "b"][0][2] == 100.0
    # the committed version is on the commit chain; the wrecks are not
    chain = L._commit_chain(path)
    assert snapshot_version(path) in chain
    assert not set(wrecks) & set(chain)


def test_snapshot_merge_prunes_on_partition_key_columns(spark, tmp_path):
    """r13: a MERGE keyed on (partition_col, id) — the standard CDC
    shape for date-partitioned tables — prunes its probe by the
    manifest KEY for the partition leg (partition values carry no
    footer stats), instead of probing every partition."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"d{i}", j, float(i * 10 + j)) for i in range(10) for j in range(5)],
        "d string, k int, v double",
    )
    snapshot_write(df, path, "d")
    # composite business key INCLUDES the partition column; k repeats
    # across partitions, so k-stats alone cannot prune
    batch = spark.createDataFrame(
        [("d5", 2, 999.0, False)], "d string, k int, v double, del boolean"
    )
    st = snapshot_merge(
        spark, batch, path, "d", ["d", "k"], delete_col="del"
    )
    assert st["probe_partitions"] == 1, st
    assert st["partitions_rewritten"] == 1
    got = snapshot_read(spark, path)
    assert got.filter("d = 'd5' AND k = 2").first()["v"] == 999.0
    assert got.count() == 50


def test_merge_touched_set_rides_probe_agg(spark, tmp_path, monkeypatch):
    """r18 continuation: the batch's upsert-target partition keys fold
    into the probe aggregation, so the matched-home probe reads ONLY
    candidates the batch does not already rewrite — zero table-side
    probe reads when the targets cover every candidate — and the old
    separate touched-partition union job is gone. Two pins:

    1. CORRECTNESS of the restricted probe: a key that MOVES
       partitions (batch places k under p1 while the table holds it
       under p2) must still rewrite its OLD home — p2 is found by the
       residual semi-join over candidates − upsert targets.
    2. READ SHAPE: _read_version call count per merge — the key-move
       merge probes exactly the uncovered candidate {p2} then reads
       the rewrite set; the full-cover merge makes exactly ONE
       _read_version call (the rewrite read), where the old shape
       always paid probe + rewrite."""
    from datawarehouse_group10_spark.sources import layout as L

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("p1", 1, 1.0), ("p2", 2, 2.0), ("p3", 3, 3.0)],
        "p string, k int, v double",
    )
    L.snapshot_write(df, path, "p")

    calls: list[frozenset | None] = []
    real = L._read_version

    def spy(*a, **kw):
        parts = kw.get("partitions")
        if parts is None and len(a) > 3:
            parts = a[3]
        calls.append(frozenset(parts) if parts is not None else None)
        return real(*a, **kw)

    monkeypatch.setattr(L, "_read_version", spy)

    # key 2 moves p2 -> p1: p2 holds the matched old row (must be
    # rewritten to drop it) even though no batch row targets p2
    batch = spark.createDataFrame([("p1", 2, 20.0)], "p string, k int, v double")
    st = L.snapshot_merge(spark, batch, path, "p", ["k"])
    assert st["partitions_rewritten"] == 2, st
    # probe read covered exactly the uncovered candidate
    assert calls[0] == frozenset({"p2"}), calls
    got = {
        (r["p"], r["k"]): r["v"]
        for r in L.snapshot_read(spark, path).collect()
    }
    assert got == {("p1", 1): 1.0, ("p1", 2): 20.0, ("p3", 3): 3.0}

    # full-cover batch: every candidate partition receives an upsert,
    # so the table-side probe read disappears entirely — one
    # _read_version call (the rewrite read), not two
    batch2 = spark.createDataFrame(
        [("p1", 1, 10.0), ("p1", 2, 21.0), ("p3", 3, 30.0)],
        "p string, k int, v double",
    )
    calls.clear()
    st2 = L.snapshot_merge(spark, batch2, path, "p", ["k"])
    assert st2["partitions_rewritten"] == 2, st2
    assert len(calls) == 1, (
        f"{len(calls)} _read_version calls for a full-cover merge — "
        "the probe should be skipped when upsert targets cover every "
        f"candidate (calls: {calls})"
    )
    got2 = {
        (r["p"], r["k"]): r["v"]
        for r in L.snapshot_read(spark, path).collect()
    }
    assert got2 == {("p1", 1): 10.0, ("p1", 2): 21.0, ("p3", 3): 30.0}

    # a batch missing the partition column is named by a friendly
    # error BEFORE the probe agg would hit it as an unresolved column
    # (the fused touch expression references it eagerly)
    bad = spark.createDataFrame([(9, 9.0)], "k int, v double")
    with pytest.raises(ValueError, match="missing partition column"):
        L.snapshot_merge(spark, bad, path, "p", ["k"])
    with pytest.raises(ValueError, match="missing partition column"):
        L.snapshot_upsert_mor(spark, bad, path, "p", ["k"])


def test_snapshot_merge_write_shards_parallel_hot_partition(spark, tmp_path):
    """write_shards (r13): a merge into a hot partition range-shards
    the rewrite across (partition, key) buckets — several files with
    tight, mostly-disjoint key ranges per touched partition instead
    of one straggler task/file — with identical content."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(2000)]
        + [("cold", i, float(i)) for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(base, path, "p")
    batch = spark.createDataFrame(
        [("hot", 500, 999.0, False)], "p string, k int, v double, del boolean"
    )
    st = snapshot_merge(
        spark, batch, path, "p", ["k"], delete_col="del", write_shards=4
    )
    assert st["partitions_rewritten"] == 1
    m = snapshot_manifest(path)
    assert m["partitions"]["hot"]["files"] >= 3  # parallel write tasks
    assert m["partitions"]["cold"]["root"] == "v1"  # untouched
    got = snapshot_read(spark, path)
    assert got.count() == 2010
    assert got.filter("k = 500 AND p = 'hot'").first()["v"] == 999.0
    assert got.filter("p = 'hot'").agg(F.sum("v")).first()[0] == (
        1999 * 2000 / 2 - 500 + 999.0
    )


def test_snapshot_merge_update_cols_all_new_partitions(spark, tmp_path):
    """A partial (update_cols) batch whose touched partitions are ALL
    new — a pure-insert CDC microbatch into a fresh day partition
    (r14, ADVICE r13 #1) — must pad inserts to the FULL table schema
    with typed NULLs and keep the manifest-persisted table schema.
    Before the fix this wrote the slim batch columns AND persisted the
    slim schema, silently dropping the uncarried columns from every
    pre-existing partition on all subsequent reads."""
    import json

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10.0, "one"), (2, "b", 20.0, "two")],
        "k int, p string, v double, label string",
    )
    snapshot_write(base, path, "p")

    # every row of the batch lands in partition 'c' — which does not
    # exist yet, so the rewrite plan has no `current` side at all
    batch = spark.createDataFrame(
        [(9, "c", 90.0), (10, "c", 100.0)], "k int, p string, v double"
    )
    st = snapshot_merge(spark, batch, path, "p", ["k"], update_cols=["v"])
    assert st["partitions_rewritten"] == 1

    got = snapshot_read(spark, path)
    assert set(got.columns) == {"k", "p", "v", "label"}
    rows = {r["k"]: (r["v"], r["label"]) for r in got.collect()}
    assert rows == {
        1: (10.0, "one"),   # pre-existing partitions keep ALL columns
        2: (20.0, "two"),
        9: (90.0, None),    # inserts NULL-padded for uncarried columns
        10: (100.0, None),
    }
    # the persisted table schema is unchanged (4 columns, not 3)
    fields = {
        f["name"]
        for f in json.loads(snapshot_manifest(path)["schema"])["fields"]
    }
    assert fields == {"k", "p", "v", "label"}


def test_metastore_put_if_absent_same_key_thread_race(tmp_path):
    """PosixMetaStore.put_if_absent under same-process concurrency on
    ONE key with the interned b"" payload (r14, ADVICE r13 #2): the
    old tmp name f"{key}.tmp{pid}.{id(data)}" was identical for every
    thread, so racers shared a tmp path — the loser's cleanup raised
    FileNotFoundError (or truncated the winner's inode). Exactly one
    winner, zero exceptions, key content intact."""
    import threading

    from datawarehouse_group10_spark.sources.layout import PosixMetaStore

    store = PosixMetaStore()
    for i in range(20):
        key = str(tmp_path / "claims" / f"k{i}")
        wins: list[bool] = []
        errs: list[BaseException] = []
        barrier = threading.Barrier(8)

        def attempt() -> None:
            try:
                barrier.wait()
                wins.append(store.put_if_absent(key, b""))
            except BaseException as e:  # noqa: BLE001 - recorded for assert
                errs.append(e)

        threads = [threading.Thread(target=attempt) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert errs == []
        assert sum(wins) == 1
        assert store.read(key) == b""


def test_snapshot_layout_rejects_null_partition_values(spark, tmp_path):
    """NULL partition values fail fast (r14, ADVICE r13 #3): concat_ws
    silently skips NULL legs, so without the guard a NULL-valued
    partition computed a collapsed key that never matches the
    __HIVE_DEFAULT_PARTITION__ directory Spark writes — a merge could
    drop the partition's survivors. Write and merge both raise
    instead."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    bad = spark.createDataFrame(
        [(1, "a", 1.0), (2, None, 2.0)], "k int, p string, v double"
    )
    with pytest.raises((Py4JJavaError, PySparkException, Exception)) as ei:
        snapshot_write(bad, path, "p")
    assert "NULL" in str(ei.value)

    ok = spark.createDataFrame([(1, "a", 1.0)], "k int, p string, v double")
    snapshot_write(ok, path, "p")
    with pytest.raises(Exception, match="NULL"):
        snapshot_merge(spark, bad, path, "p", ["k"])


def test_snapshot_scoped_resolve_reads_o1_metadata(spark, tmp_path, monkeypatch):
    """Plan-time metadata is O(relevant), not O(partitions_total)
    (r14, VERDICT r13 #1): on a 1,000-partition table whose
    consolidated manifest is range-sharded (shard size forced to 64
    entries here), a 1-partition pruned read opens only the one shard
    whose key range covers the key (plus any overlapping delta
    segments) and parses a small constant number of bytes — while the
    explicit full snapshot_manifest parses everything. The same pin
    covers a value-prune on the partition column, a single-key MERGE,
    and a 2-version diff."""
    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    monkeypatch.setattr(L, "SEGMENT_SHARD_ENTRIES", 64)
    path = str(tmp_path / "wide")
    n_parts = 1000
    df = spark.createDataFrame(
        [(f"p{i:04d}", i, float(i)) for i in range(n_parts)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    m = snapshot_manifest(path)
    assert len(m["partitions"]) == n_parts
    full_bytes = L.LAST_RESOLVE_META_BYTES
    assert len(m["segments"]) == -(-n_parts // 64)  # 16 range shards

    # a couple of single-partition merges leave tiny delta segments
    for key in (311, 702):
        batch = spark.createDataFrame(
            [(f"p{key:04d}", key, 1000.0 + key)],
            "p string, k int, v double",
        )
        snapshot_merge(spark, batch, path, "p", ["p", "k"])

    # 1-partition read by VALUE: one shard (deltas out of range are
    # skipped too); bytes a small fraction of the full manifest
    got = snapshot_read(spark, path, partitions={"p0500"}).collect()
    assert [r["v"] for r in got] == [500.0]
    assert L.LAST_RESOLVE_SEGMENTS_READ <= 2
    assert L.LAST_RESOLVE_META_BYTES < full_bytes / 8

    # 1-partition read by partition-column PRUNE range
    got = snapshot_read(
        spark, path, prune={"p": ("p0311", "p0311")}
    ).collect()
    assert [r["v"] for r in got] == [1311.0]
    assert L.LAST_RESOLVE_SEGMENTS_READ <= 3  # shard + its delta
    assert L.LAST_RESOLVE_META_BYTES < full_bytes / 8

    # MERGE keyed on the partition column: every metadata resolve in
    # the merge (scope, probe, current read) is scoped — total bytes
    # parsed stay a small fraction of the full manifest
    resolves: list[tuple[int, int]] = []
    orig = L._manifest_resolve

    def spy(path_, raw, keys=None, key_range=None, scopes=None):
        out = orig(path_, raw, keys=keys, key_range=key_range,
                   scopes=scopes)
        resolves.append(
            (L.LAST_RESOLVE_SEGMENTS_READ, L.LAST_RESOLVE_META_BYTES)
        )
        return out

    monkeypatch.setattr(L, "_manifest_resolve", spy)
    batch = spark.createDataFrame(
        [("p0500", 500, 9999.0)], "p string, k int, v double"
    )
    st = snapshot_merge(spark, batch, path, "p", ["p", "k"])
    assert st["partitions_rewritten"] == 1
    assert st["probe_partitions"] == 1
    assert st["partitions_total"] == n_parts  # n_live, not scoped len
    assert resolves, "merge resolved no metadata?"
    # each of the merge's resolves (scope, probe plan, current read)
    # opens ~one shard; the plan total stays far below a full parse
    assert max(b for _s, b in resolves) < full_bytes / 8, resolves
    assert sum(b for _s, b in resolves) < full_bytes / 4, resolves
    assert max(s for s, _b in resolves) <= 3, resolves

    # diff of the last commit: suffix-scoped — prefix delta + its shard
    resolves.clear()
    d = L.snapshot_diff(
        spark, path, st["old_version"], st["new_version"], "p"
    )
    assert {(r["p"], r["_change"], r["v"]) for r in d.collect()} == {
        ("p0500", "insert", 9999.0),
        ("p0500", "delete", 500.0),
    }
    # four scoped resolves (both raws + both scan plans), each ~one
    # shard (+ the 1-entry prefix delta) - still a small constant
    assert sum(b for _s, b in resolves) < full_bytes / 3, resolves
    assert max(s for s, _b in resolves) <= 3, resolves

    # correctness backstop: the scoped layers changed nothing about
    # the resolved view
    monkeypatch.setattr(L, "_manifest_resolve", orig)
    m2 = snapshot_manifest(path)
    assert len(m2["partitions"]) == n_parts
    assert m2["n_live"] == n_parts
    total = snapshot_read(spark, path).count()
    assert total == n_parts


def test_snapshot_read_file_level_stats_pruning(spark, tmp_path):
    """Per-FILE column stats in manifest entries (r14, VERDICT r13
    #2): a hot partition sharded by write_shards carries each file's
    [min, max] key bounds in its entry, so a selective
    snapshot_read(prune=...) plans a strict subset of the partition's
    files — no parquet footer I/O at plan time — with identical
    results to the unpruned read filtered row-wise."""
    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("hot", i, float(i)) for i in range(4000)]
        + [("cold", i, float(i)) for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(base, path, "p")
    # shard the hot partition: range-partitioned on (p, k) => files
    # with tight, mostly-disjoint k ranges, each recorded in fstats
    batch = spark.createDataFrame(
        [("hot", 1, -1.0, False)], "p string, k int, v double, del boolean"
    )
    snapshot_merge(
        spark, batch, path, "p", ["k"], delete_col="del", write_shards=8
    )
    entry = snapshot_manifest(path)["partitions"]["hot"]
    assert entry["files"] >= 4
    assert "fstats" in entry and len(entry["fstats"]) == entry["files"]

    got = snapshot_read(spark, path, prune={"k": (3900, 3950)})
    rows = got.filter("k between 3900 and 3950").collect()
    assert len(rows) == 51
    assert L.LAST_SCAN_FILES_TOTAL == entry["files"]
    assert 0 < L.LAST_SCAN_FILES_READ < entry["files"]

    # superset contract: the pruned scan may hold extra rows but never
    # misses one; a range fully outside the stats reads zero files
    full = {
        (r["p"], r["k"]) for r in
        snapshot_read(spark, path).filter("k between 3900 and 3950").collect()
    }
    assert {(r["p"], r["k"]) for r in rows} == full
    none = snapshot_read(spark, path, prune={"k": (90000, 90001)})
    assert none.count() == 0


def test_snapshot_merge_key_bloom_prunes_uuid_probe(spark, tmp_path):
    """Per-partition key blooms (r14, VERDICT r13 #4): on a table
    keyed by unordered hash strings, the manifest [min,max] range
    check prunes nothing — every partition's range spans every batch —
    so a 2-partition batch on a 10-partition table probed all 10. With
    a key_bloom policy the probe consults each candidate's membership
    digest after the range check and probes exactly the 2 true homes.
    Blooms are REBUILT on rewrite (inserts appear, deletes vanish),
    carried through compaction, and false positives can only widen the
    probe, never change results (~2%/partition at m=8192, k=6,
    n=1000; ~0.04% at the n=50 here)."""
    import hashlib

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    def uid(i: int) -> str:
        return hashlib.md5(f"key-{i}".encode()).hexdigest()

    rows = [
        (f"p{p}", uid(p * 100 + j), float(p * 100 + j))
        for p in range(10)
        for j in range(50)
    ]
    df = spark.createDataFrame(rows, "p string, id string, v double")

    # WITHOUT the policy: ranges of md5 keys overlap everywhere ->
    # the probe degenerates to all partitions
    plain = str(tmp_path / "plain")
    snapshot_write(df, plain, "p")
    batch = spark.createDataFrame(
        [("p3", uid(307), -1.0), ("p7", uid(712), -2.0)],
        "p string, id string, v double",
    )
    st = snapshot_merge(spark, batch, plain, "p", ["id"])
    assert st["probe_partitions"] == 10
    assert st["partitions_rewritten"] == 2

    # WITH the policy: bloom consult narrows the probe to the 2 homes
    path = str(tmp_path / "bloomed")
    snapshot_write(df, path, "p", key_bloom=["id"])
    m = snapshot_manifest(path)
    assert m["key_bloom"] == {"cols": ["id"], "m": 8192, "k": 6}
    assert all("kb" in e for e in m["partitions"].values())
    st = snapshot_merge(spark, batch, path, "p", ["id"])
    assert st["probe_partitions"] == 2
    assert st["partitions_rewritten"] == 2
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 500
    assert got[uid(307)] == -1.0 and got[uid(712)] == -2.0
    assert got[uid(308)] == 308.0  # neighbors untouched

    # blooms are REBUILT on rewrite: a brand-new key inserted into p3
    # is found by the next merge's consult; a delete disappears from
    # the rebuilt filter so a later upsert of it probes only its
    # (absent) home conservatively via the range/bloom of others
    ins = spark.createDataFrame(
        [("p3", uid(99999), 9.0)], "p string, id string, v double"
    )
    st = snapshot_merge(spark, ins, path, "p", ["id"])
    st = snapshot_merge(
        spark,
        spark.createDataFrame(
            [("p3", uid(99999), 10.0)], "p string, id string, v double"
        ),
        path, "p", ["id"],
    )
    assert st["probe_partitions"] == 1
    assert snapshot_read(spark, path).filter(
        F.col("id") == uid(99999)
    ).first()["v"] == 10.0

    # a batch of keys the table has never seen probes ZERO partitions
    fresh = spark.createDataFrame(
        [("p5", uid(88888), 8.0)], "p string, id string, v double"
    )
    st = snapshot_merge(spark, fresh, path, "p", ["id"])
    assert st["probe_partitions"] == 0
    assert st["partitions_rewritten"] == 1  # p5 rewritten for the insert


def test_snapshot_transform_partitioning(spark, tmp_path):
    """Hidden-transform partitioning (r14, VERDICT r13 #5 — Iceberg's
    days()/bucket() shape): the table partitions on DERIVED values of
    business columns; the derived columns exist only in the directory
    layout (reads never return them), every writer re-derives them
    from the persisted spec, and a MERGE whose keys cover the
    transform sources probes exactly the batch's derived partitions."""
    import datetime as dtm
    import os

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    spec = {"day": ("days", "ts"), "b": ("bucket", 4, "id")}
    path = str(tmp_path / "tbl")
    rows = [
        (i, dtm.date(2024, 1 + i % 3, 1 + i % 5), float(i))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "id int, ts date, v double")
    snapshot_write(df, path, spec)

    m = snapshot_manifest(path)
    assert m["partition_col"] == {
        "day": ["days", "ts"], "b": ["bucket", 4, "id"]
    }
    # hive tree nests day=YYYY-MM-DD/b=N; manifest keys are composites
    some_key = sorted(m["partitions"])[0]
    assert some_key.count("/") == 1 and some_key.startswith("2024-")
    assert os.path.isdir(
        os.path.join(path, "v1", f"day={some_key.split('/')[0]}")
    )
    # HIDDEN: reads return only the declared table columns
    r = snapshot_read(spark, path)
    assert r.columns == ["id", "ts", "v"]
    assert r.count() == 120

    # merge keyed on the transform SOURCES: the probe is the batch's
    # exact derived partition set (2 rows -> <=2 partitions), through
    # the bucket transform no range stat could express
    batch = spark.createDataFrame(
        [
            (7, dtm.date(2024, 2, 3), 777.0, False),
            (200, dtm.date(2024, 3, 1), 2.0, False),   # new id
            (11, dtm.date(2024, 3, 2), 0.0, True),     # delete
        ],
        "id int, ts date, v double, del boolean",
    )
    st = snapshot_merge(
        spark, batch, path, spec, ["id", "ts"], delete_col="del"
    )
    assert st["probe_partitions"] <= 3
    assert st["partitions_total"] == len(m["partitions"])
    got = {(x["id"], str(x["ts"])): x["v"] for x in
           snapshot_read(spark, path).collect()}
    assert got[(7, "2024-02-03")] == 777.0
    assert got[(200, "2024-03-01")] == 2.0
    assert (11, "2024-03-02") not in got
    assert len(got) == 120  # 120 - 1 delete + 1 insert

    # a partial update may not touch a transform SOURCE column (it
    # would silently move the row between partitions)
    with pytest.raises(ValueError, match="partition"):
        snapshot_merge(
            spark,
            batch.drop("del"),
            path, spec, ["id"], update_cols=["ts"],
        )

    # scoped metadata: the merge resolved only the batch's partitions
    assert L.LAST_RESOLVE_SEGMENTS_READ <= 3

    # time travel + diff work on derived keys like any other table
    d = L.snapshot_diff(spark, path, 1, st["new_version"], spec)
    kinds = {(x["id"], x["_change"]) for x in d.collect()}
    assert (11, "delete") in kinds and (200, "insert") in kinds


def test_snapshot_merge_auto_shards_from_target_file_size(spark, tmp_path):
    """write_shards="auto" (r14, VERDICT r13 #7): the shard count is
    derived from the touched partitions' manifest rows/bytes against
    target_file_bytes — snapshot_compact's exact file-sizing
    arithmetic — so a skewed merge shards its hot partition without
    operator tuning while a cold-partition merge stays one-task. The
    cap doubles as maxRecordsPerFile, and a later compact at the same
    target is a structural no-op (the files are already right-sized)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("hot", i, float(i), "x" * 64) for i in range(5000)]
        + [("cold", 100000 + i, float(i), "y") for i in range(10)],
        "p string, k int, v double, pad string",
    )
    snapshot_write(base, path, "p")
    hot = snapshot_manifest(path)["partitions"]["hot"]
    target = max(1, hot["bytes"] // 4)  # aim for ~4 files of the hot data

    batch = spark.createDataFrame(
        [("hot", 1, -1.0, "z", False)],
        "p string, k int, v double, pad string, del boolean",
    )
    st = snapshot_merge(
        spark, batch, path, "p", ["k"], delete_col="del",
        write_shards="auto", target_file_bytes=target,
    )
    assert 3 <= st["write_shards"] <= 6, st
    m = snapshot_manifest(path)
    assert m["partitions"]["hot"]["files"] >= 3
    assert m["partitions"]["cold"]["root"] == "v1"  # untouched
    assert snapshot_read(spark, path).count() == 5010

    # same-target compact: already right-sized -> structural no-op
    res = snapshot_compact(spark, path, "p", target_bytes=target, slack=2)
    assert res["partitions_compacted"] == 0
    assert res["old_version"] == res["new_version"]

    # a cold-partition merge under the same policy stays one-task
    st2 = snapshot_merge(
        spark,
        spark.createDataFrame(
            [("cold", 100003, -3.0, "z", False)],
            "p string, k int, v double, pad string, del boolean",
        ),
        path, "p", ["k"], delete_col="del",
        write_shards="auto", target_file_bytes=target,
    )
    assert st2["write_shards"] == 1
    assert snapshot_manifest(path)["partitions"]["cold"]["files"] == 1


# ---------------------------------------------------------------------------
# merge-on-read deletes (r14): per-partition delete files, read-time
# anti-join, reconciliation by every rewrite path
# ---------------------------------------------------------------------------


def _stage_mor_table(spark, tmp_path, name="mor"):
    from datawarehouse_group10_spark.sources.layout import snapshot_write

    path = str(tmp_path / name)
    df = spark.createDataFrame(
        [(p, i, float(i)) for p in ("a", "b", "c") for i in range(10)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    return path


def test_snapshot_delete_is_metadata_plus_delete_files(spark, tmp_path):
    """A MOR delete rewrites NOTHING: the new version root holds only
    the _dv tree, every data entry re-references its old directory,
    and the commit stays O(touched) metadata."""
    import glob
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_manifest,
        snapshot_read,
        snapshot_version,
    )

    path = _stage_mor_table(spark, tmp_path)
    v1 = snapshot_version(path)
    dels = spark.createDataFrame([(3,), (7,)], "k int")
    st = snapshot_delete(spark, dels, path, "p", ["k"])
    assert st["partitions_touched"] == 3
    assert st["dv_rows"] == 6
    root = os.path.join(path, f"v{st['new_version']}")
    data_files = [
        f
        for f in glob.glob(f"{root}/**/*.parquet", recursive=True)
        if f"{os.sep}_dv{os.sep}" not in f
    ]
    assert data_files == []  # zero data rewritten
    m = snapshot_manifest(path)
    assert all(e["root"] == "v1" for e in m["partitions"].values())
    assert all(
        e["dv"]["key"] == ["k"] and e["dv"]["rows"] == 2
        for e in m["partitions"].values()
    )
    got = snapshot_read(spark, path)
    assert got.count() == 24
    assert got.filter(F.col("k").isin(3, 7)).count() == 0
    # time travel to the pre-delete version is unaffected
    assert snapshot_read(spark, path, version=v1).count() == 30


def test_snapshot_delete_scoping_survives_reinsert(spark, tmp_path):
    """THE correctness trap of global delete-key unions: after a key is
    deleted table-wide and then re-inserted into one partition (whose
    rewrite drops its delete refs), the other partitions' still-
    referenced delete rows must not shadow the new row — the
    anti-join's partition-key leg scopes them."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
    )

    path = _stage_mor_table(spark, tmp_path)
    snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"), path, "p", ["k"]
    )
    # re-insert k=3 into partition 'a' (copy-on-write rewrite of 'a')
    batch = spark.createDataFrame(
        [("a", 3, 33.0, False)], "p string, k int, v double, del boolean"
    )
    snapshot_merge(spark, batch, path, "p", ["p", "k"], delete_col="del")
    m = snapshot_manifest(path)
    assert "dv" not in m["partitions"]["a"]  # rewrite reconciled
    assert "dv" in m["partitions"]["b"]  # still outstanding
    got = snapshot_read(spark, path)
    a3 = got.filter((F.col("p") == "a") & (F.col("k") == 3)).collect()
    assert [(r["v"]) for r in a3] == [33.0]
    assert got.filter((F.col("p") == "b") & (F.col("k") == 3)).count() == 0
    assert got.count() == 28


def test_snapshot_delete_probe_pruning_and_noop(spark, tmp_path):
    """Probe parity with merge: key-range stats bound the candidate
    read on a key-clustered table, blooms kill absent-key probes
    entirely, and a no-match delete publishes a pure re-referencing
    commit (no delete files, dv_key untouched)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "clustered")
    # k clustered by partition: p0 holds 0-99, p1 100-199, ...
    df = spark.createDataFrame(
        [(f"p{i // 100}", i, float(i)) for i in range(500)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    st = snapshot_delete(
        spark,
        spark.createDataFrame([(120,), (150,)], "k int"),
        path, "p", ["k"],
    )
    assert st["probe_partitions"] == 1  # range stats prune 4 of 5
    assert st["partitions_touched"] == 1
    # absent keys INSIDE a partition's range: the bloom kills the probe
    st2 = snapshot_delete(
        spark,
        spark.createDataFrame([(100000,)], "k int"),
        path, "p", ["k"],
    )
    assert st2["probe_partitions"] == 0
    assert st2["partitions_touched"] == 0
    assert st2["new_version"] > st2["old_version"]  # still a commit
    assert snapshot_read(spark, path).count() == 498
    m = snapshot_manifest(path)
    assert m["dv_key"] == ["k"]


def test_snapshot_delete_key_set_is_table_level(spark, tmp_path):
    from datawarehouse_group10_spark.sources.layout import snapshot_delete

    path = _stage_mor_table(spark, tmp_path)
    snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"), path, "p", ["k"]
    )
    with pytest.raises(ValueError, match="one key set"):
        snapshot_delete(
            spark,
            spark.createDataFrame([("a", 4)], "p string, k int"),
            path, "p", ["p", "k"],
        )


def test_snapshot_delete_compact_folds(spark, tmp_path):
    """snapshot_compact treats dv-carrying partitions as fragmented:
    the rewrite reads through the deletes, drops the refs, recomputes
    the touched blooms, and lands every partition in its own version
    root; the no-op property holds on the folded table."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_manifest,
        snapshot_read,
    )

    path = _stage_mor_table(spark, tmp_path)
    snapshot_delete(
        spark, spark.createDataFrame([(3,), (7,)], "k int"), path, "p", ["k"]
    )
    kb_before = snapshot_manifest(path)["partitions"]["a"]["kb"]
    st = snapshot_compact(spark, path, "p")
    assert st["partitions_compacted"] == 3  # all dv-carrying
    m = snapshot_manifest(path)
    assert all("dv" not in e for e in m["partitions"].values())
    assert m["partitions"]["a"]["kb"] != kb_before  # recomputed, tighter
    assert {e["root"] for e in m["partitions"].values()} == {f"v{st['new_version']}"}
    assert snapshot_read(spark, path).count() == 24
    # clean-table no-op property preserved
    st2 = snapshot_compact(spark, path, "p")
    assert st2["old_version"] == st2["new_version"]


def test_snapshot_delete_diff_sees_dv_only_change(spark, tmp_path):
    """A delete changes a partition's logical content without moving
    its data root: snapshot_diff must treat the dv list as part of the
    change signature and emit the removed rows."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_diff,
        snapshot_version,
    )

    path = _stage_mor_table(spark, tmp_path)
    v1 = snapshot_version(path)
    st = snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"), path, "p", ["k"]
    )
    d = snapshot_diff(spark, path, v1, st["new_version"], "p").collect()
    assert {(r["_change"], r["p"], r["k"]) for r in d} == {
        ("delete", p, 3) for p in ("a", "b", "c")
    }


def test_snapshot_delete_transform_partitioned(spark, tmp_path):
    """Hidden-transform partitioning composes with MOR deletes: the
    probe scopes to the batch's exact derived bucket keys, delete
    files land under the derived hive dirs, and the read-side
    anti-join re-derives the partition key from the source column."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "mor_bucketed")
    spec = {"b": ("bucket", 4, "k")}
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(200)], "k int, v double"
    )
    snapshot_write(df, path, spec)
    st = snapshot_delete(
        spark,
        spark.createDataFrame([(5,), (6,)], "k int"),
        path, spec, ["k"],
    )
    # exact derived-key scope: at most the batch's distinct buckets
    assert st["probe_partitions"] <= 2
    assert st["dv_rows"] == 2
    got = snapshot_read(spark, path)
    assert got.count() == 198
    assert got.filter(F.col("k").isin(5, 6)).count() == 0
    assert got.columns == ["k", "v"]  # derived col stays hidden


def test_snapshot_as_of_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF (r14): every commit stamps its wall time; an
    as-of read resolves to the latest retained commit at or before
    the instant (ISO strings and naive datetimes read as UTC);
    pre-first-commit instants raise."""
    import datetime
    import time as _t

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_read,
        snapshot_version_at,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    t0 = _t.time()
    _t.sleep(0.02)
    snapshot_write(
        spark.createDataFrame(
            [("a", 1, 1.0)], "p string, k int, v double"
        ),
        path, "p",
    )
    _t.sleep(0.02)
    t1 = _t.time()
    _t.sleep(0.02)
    snapshot_write(
        spark.createDataFrame(
            [("a", 2, 2.0)], "p string, k int, v double"
        ),
        path, "p",
    )
    _t.sleep(0.02)
    t2 = _t.time()

    assert snapshot_version_at(path, t1) == 1
    assert snapshot_version_at(path, t2) == 2
    # ISO string / naive datetime are read as UTC
    iso = datetime.datetime.fromtimestamp(
        t1, tz=datetime.timezone.utc
    ).replace(tzinfo=None).isoformat()
    assert snapshot_version_at(path, iso) == 1
    got = {r["k"] for r in snapshot_read(spark, path, as_of=t1).collect()}
    assert got == {1}
    assert {
        r["k"] for r in snapshot_read(spark, path, as_of=t2).collect()
    } == {2}
    with pytest.raises(ValueError, match="predates"):
        snapshot_version_at(path, t0)
    with pytest.raises(ValueError, match="exclusive"):
        snapshot_read(spark, path, version=1, as_of=t1)


def test_snapshot_partition_spec_evolution(spark, tmp_path):
    """Spec evolution (r14): switching a month-partitioned table to
    bucket partitioning is a pure-metadata commit; old entries keep
    their directory layout (read through pc_history), a MERGE lazily
    migrates the partitions it probes, OPTIMIZE bulk-migrates the
    rest and drops the history, time travel to pre-evolution versions
    keeps working, and the migrated live state stays intact."""
    import glob
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"m{i % 3}", i, float(i)) for i in range(30)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    v1 = snapshot_version(path)

    spec = {"b": ("bucket", 2, "k")}
    st = snapshot_evolve_partitioning(path, spec)
    assert st["new_version"] > v1
    # pure metadata: no new data directories
    assert glob.glob(f"{path}/v{st['new_version']}/**/*.parquet",
                     recursive=True) == []
    m = snapshot_manifest(path)
    assert m["pc_history"][0]["pc"] == "p"
    assert all(e["root"] == "v1" for e in m["partitions"].values())
    # reads resolve old-spec directories through the history
    got = snapshot_read(spark, path)
    assert got.count() == 30
    assert set(got.columns) == {"p", "k", "v"}  # derived col hidden

    # a merge migrates the old-spec partitions it probes (all of them
    # here: no scoped probe mid-migration) and lands new rows under
    # the bucket layout
    batch = spark.createDataFrame(
        [("m0", 3, 33.0, False), ("m1", 100, 100.0, False),
         ("m2", 5, 0.0, True)],
        "p string, k int, v double, del boolean",
    )
    ms = snapshot_merge(spark, batch, path, spec, ["k"],
                        delete_col="del")
    m2 = snapshot_manifest(path)
    # every entry rewritten under the bucket spec: keys are bucket ids
    assert set(m2["partitions"]) <= {"0", "1"}
    got2 = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got2[3] == 33.0 and got2[100] == 100.0 and 5 not in got2
    assert len(got2) == 30  # 30 - 1 delete + 1 insert
    # bucket dirs physically exist under the merge's root
    assert glob.glob(
        f"{path}/v{ms['new_version']}/b=*/*.parquet"
    )

    # migration complete -> compact clears the history (even as a
    # structural no-op on right-sized partitions it still commits the
    # metadata fix once something is fragmented; force one rewrite)
    cs = snapshot_compact(spark, path, spec)
    mc = snapshot_manifest(path)
    if cs["new_version"] != cs["old_version"]:
        assert "pc_history" not in mc

    # time travel: pre-evolution version still reads its month layout
    tt = snapshot_read(spark, path, version=v1)
    assert tt.count() == 30
    assert {r["p"] for r in tt.select("p").distinct().collect()} == {
        "m0", "m1", "m2"
    }
    assert snapshot_read(spark, path).count() == 30


def test_snapshot_spec_evolution_bulk_migration_via_compact(
    spark, tmp_path
):
    """OPTIMIZE as the bulk migration: with NO intervening merge, one
    compact rewrites every old-spec entry under the new spec and drops
    pc_history; a mid-migration MOR delete (allowed since r16) folds
    with it."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"m{i % 3}", i, float(i)) for i in range(30)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    spec = {"b": ("bucket", 2, "k")}
    snapshot_evolve_partitioning(path, spec)
    # r16: MOR delete commits MID-migration (refs land on the old-spec
    # entry holding the row)
    st0 = snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"), path, spec,
        ["k"],
    )
    assert st0["dv_rows"] >= 1
    assert snapshot_read(spark, path).count() == 29
    st = snapshot_compact(spark, path, spec)
    assert st["partitions_compacted"] == 3  # all old-spec entries
    m = snapshot_manifest(path)
    assert "pc_history" not in m
    assert set(m["partitions"]) == {"0", "1"}
    assert all("dv" not in e for e in m["partitions"].values())
    # single-spec again: MOR delete still works, blooms maintained
    st2 = snapshot_delete(
        spark, spark.createDataFrame([(4,)], "k int"), path, spec, ["k"]
    )
    assert st2["partitions_touched"] == 1
    assert snapshot_read(spark, path).count() == 28


def test_snapshot_spec_evolution_guards(spark, tmp_path):
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
    )
    snapshot_write(df, path, "p")
    with pytest.raises(ValueError, match="equals the current"):
        snapshot_evolve_partitioning(path, "p")
    with pytest.raises(ValueError, match="schema lacks"):
        snapshot_evolve_partitioning(
            path, {"d": ("days", "nope_col")}
        )
    snapshot_delete(
        spark, spark.createDataFrame([(1,)], "k int"), path, "p", ["k"]
    )
    # r16: a respec with outstanding delete files COMMITS (epoch-aware
    # application) — the old fold-first refusal is gone
    st = snapshot_evolve_partitioning(path, {"b": ("bucket", 2, "k")})
    assert st["new_version"] > st["old_version"]
    from datawarehouse_group10_spark.sources.layout import snapshot_read

    assert {r["k"] for r in snapshot_read(spark, path).collect()} == {2}


def _mig_rows(spark):
    """30 rows, months m0/m1/m2 with DISJOINT k ranges (so a batch's
    key-range stats prune to one month), and a q column whose values
    straddle months: m0 -> gB only, m1 -> gA only, m2 -> gA (k 20-24)
    + gB (k 25-29). Evolving p -> q makes migration targets collide
    with current-spec entries an earlier migration already created."""
    return spark.createDataFrame(
        [
            (
                f"m{i // 10}",
                ("gB" if i < 10 else "gA" if i < 25 else "gB"),
                i,
                float(i),
            )
            for i in range(30)
        ],
        "p string, q string, k int, v double",
    )


def test_spec_migration_compact_keeps_colliding_current_entries(
    spark, tmp_path
):
    """ADVICE r14 #1 (high): month->q evolve, merge migrating ONE
    month creates a current-spec entry; the bulk-migration compact
    rewrites the REMAINING old-spec months whose rows land on that
    same current-spec key — the fresh entry must not shadow (and drop)
    the merge-created one."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    snapshot_write(_mig_rows(spark), path, "p")
    snapshot_evolve_partitioning(path, "q")

    # batch keys 10-12 live only in m1 (disjoint k ranges): the merge
    # migrates m1 alone -> current-spec entry q=gA
    batch = spark.createDataFrame(
        [("m1", "gA", k, k + 0.5) for k in (10, 11, 12)],
        "p string, q string, k int, v double",
    )
    snapshot_merge(spark, batch, path, "q", ["k"])
    m = snapshot_manifest(path)
    assert "gA" in m["partitions"]
    assert snapshot_read(spark, path).count() == 30

    # bulk migration: m0 (all gB) and m2 (gA + gB) rewrite under q —
    # the fresh gA entry must carry the merge-created gA rows too
    st = snapshot_compact(spark, path, "q")
    assert st["new_version"] > st["old_version"]
    mc = snapshot_manifest(path)
    assert "pc_history" not in mc
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 30, f"rows lost in bulk migration: {len(got)}/30"
    assert got[10] == 10.5 and got[11] == 11.5 and got[12] == 12.5
    assert got[0] == 0.0 and got[29] == 29.0


def test_spec_migration_merge_keeps_colliding_current_entries(
    spark, tmp_path
):
    """ADVICE r14 #1 (high), merge leg: a SECOND merge migrating m2
    produces rows for current-spec key gA that neither matched nor
    upsert rows touch — the lazily-migrated fresh gA entry must union
    the existing gA entry's rows, not shadow them."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_evolve_partitioning,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    snapshot_write(_mig_rows(spark), path, "p")
    snapshot_evolve_partitioning(path, "q")

    b1 = spark.createDataFrame(
        [("m1", "gA", k, k + 0.5) for k in (10, 11, 12)],
        "p string, q string, k int, v double",
    )
    snapshot_merge(spark, b1, path, "q", ["k"])
    assert snapshot_read(spark, path).count() == 30

    # batch keys 25-27 match only m2's gB rows; m2's migration also
    # rewrites its gA rows (k 20-24) onto the existing gA entry's key
    b2 = spark.createDataFrame(
        [("m2", "gB", k, k + 0.5) for k in (25, 26, 27)],
        "p string, q string, k int, v double",
    )
    snapshot_merge(spark, b2, path, "q", ["k"])
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 30, f"rows lost in lazy migration: {len(got)}/30"
    assert got[25] == 25.5 and got[10] == 10.5 and got[20] == 20.0


def test_snapshot_delete_rekey_after_folding(spark, tmp_path):
    """ADVICE r14 #2 (medium): once every outstanding delete file is
    folded (compact or merge rewrite), snapshot_delete with a NEW key
    set must succeed — the persisted dv_key is stale, not binding."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(f"m{i % 2}", i, i * 10) for i in range(10)],
        "p string, k int, u int",
    )
    snapshot_write(df, path, "p")
    snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"), path, "p", ["k"]
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="one key set"):
        snapshot_delete(
            spark, spark.createDataFrame([(40,)], "u int"), path, "p",
            ["u"],
        )
    st = snapshot_compact(spark, path, "p")
    assert st["new_version"] > st["old_version"]
    # compact folded the last delete file -> dv_key cleared
    assert "dv_key" not in snapshot_manifest(path)
    st2 = snapshot_delete(
        spark, spark.createDataFrame([(40,)], "u int"), path, "p", ["u"]
    )
    assert st2["partitions_touched"] == 1
    assert snapshot_read(spark, path).count() == 8  # k=3, u=40 gone


def test_spec_migration_keeps_scoped_resolves_and_probe_pruning(
    spark, tmp_path, monkeypatch
):
    """VERDICT r14 #1: mid partition-spec migration, plan-time
    metadata stays O(relevant segments) and the MERGE probe stays
    O(batch) — the per-spec scope union replaces the r14 full-resolve
    fallback. 1,000 identity-p partitions sharded 64 entries/segment
    (~16 shards), evolved to identity-q: a 3-key merge issued MID
    migration must read a handful of shards, probe <= its batch's
    partitions, and stay byte-correct through the rest of the
    migration."""
    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_read,
        snapshot_merge,
        snapshot_write,
    )

    monkeypatch.setattr(L, "SEGMENT_SHARD_ENTRIES", 64)
    path = str(tmp_path / "wide")
    n = 1000
    df = spark.createDataFrame(
        [(f"p{i:04d}", f"q{i:04d}", i, float(i)) for i in range(n)],
        "p string, q string, k int, v double",
    )
    snapshot_write(df, path, "p")
    n_shards = -(-n // 64)
    snapshot_evolve_partitioning(path, "q")

    resolves: list[int] = []
    orig = L._manifest_resolve

    def spy(path_, raw, keys=None, key_range=None, scopes=None):
        out = orig(path_, raw, keys=keys, key_range=key_range,
                   scopes=scopes)
        resolves.append(L.LAST_RESOLVE_SEGMENTS_READ)
        return out

    monkeypatch.setattr(L, "_manifest_resolve", spy)
    batch = spark.createDataFrame(
        [
            (f"p{i:04d}", f"q{i:04d}", i, 5000.0 + i)
            for i in (100, 500, 900)
        ],
        "p string, q string, k int, v double",
    )
    st = snapshot_merge(spark, batch, path, "q", ["p", "q", "k"])
    # probe O(batch): 3 old-spec homes, not 1000
    assert st["probe_partitions"] <= 3
    # lazy migration: the 3 old-spec partitions rewrite under q
    assert st["partitions_rewritten"] <= 6
    # plan-time metadata O(relevant): every resolve in the merge
    # touched a handful of shards, never all of them
    assert resolves and max(resolves) <= 6 < n_shards
    monkeypatch.setattr(L, "_manifest_resolve", orig)

    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == n
    assert got[500] == 5500.0 and got[0] == 0.0 and got[999] == 999.0

    # read-side: a prune carrying BOTH specs' column ranges stays
    # scoped mid-migration (one range component per spec)
    rows = snapshot_read(
        spark, path,
        prune={"p": ("p0100", "p0100"), "q": ("q0100", "q0100")},
    ).collect()
    assert L.LAST_RESOLVE_SEGMENTS_READ <= 6
    assert {r["k"] for r in rows} >= {100}

    # bulk migration finishes correct (collision entries folded in)
    snapshot_compact(spark, path, "q")
    mc = snapshot_manifest(path)
    assert "pc_history" not in mc
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == n and got[900] == 5900.0


def test_key_bloom_auto_sizing_fpr(spark, tmp_path):
    """VERDICT r14 #2: per-partition blooms auto-size from written row
    counts — a 1k-key partition stays at the 8192-bit floor, a 50k-key
    partition grows to hold ~2% FPR instead of saturating, and the
    probe handles the mixed sizes."""
    import base64

    from pyspark.sql import functions as F

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(51000).selectExpr(
        "case when id < 1000 then 'a' else 'b' end as p",
        "concat('k', id) as k",
        "cast(id as double) as v",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    m = snapshot_manifest(path)
    kb_a = m["partitions"]["a"]["kb"]
    kb_b = m["partitions"]["b"]["kb"]
    assert kb_a["m"] == 8192  # floor suffices for 1k keys
    assert kb_b["m"] >= 8 * 50000  # sized up for the hot partition

    # measured FPR on 2000 ABSENT keys, via the same hash expressions
    absent = spark.range(2000).selectExpr("concat('x', id) as k")
    for kb, label in ((kb_a, "1k"), (kb_b, "50k")):
        bits = int.from_bytes(base64.b64decode(kb["b"]), "little")
        rows = absent.select(
            F.array(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(i), F.col("k")),
                        F.lit(kb["m"]),
                    ).cast("int")
                    for i in range(kb["k"])
                ]
            ).alias("ps")
        ).collect()
        fp = sum(
            1
            for r in rows
            if all((bits >> p) & 1 for p in r["ps"])
        )
        assert fp / len(rows) <= 0.05, (
            f"{label}-key bloom FPR {fp / len(rows):.3f}"
        )

    # mixed-size probe: a key living only in 'a' prunes 'b' (range
    # stats can't — the key strings interleave)
    batch = spark.createDataFrame(
        [("a", "k500", -1.0)], "p string, k string, v double"
    )
    st = snapshot_merge(spark, batch, path, "p", ["k"])
    assert st["probe_partitions"] == 1
    assert st["partitions_rewritten"] == 1


def test_snapshot_schema_evolution_field_ids(spark, tmp_path):
    """VERDICT r14 #3: rename / widen / drop are metadata-only
    commits resolved by stable field ids — renamed columns read their
    historical name from old roots, widened ones cast at read time,
    a drop + re-add with the same name does NOT resurrect old data,
    and pre-evolution time travel reads the historical schema."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_evolve_schema,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 10, 1.5), ("b", 2, 20, 2.5)],
        "p string, k int, cnt int, score float",
    )
    snapshot_write(df, path, "p")
    st = snapshot_evolve_schema(
        path,
        add={"note": "string"},
        rename={"cnt": "hits"},
        widen={"k": "bigint", "score": "double"},
    )
    assert st["new_version"] == 2
    got = snapshot_read(spark, path)
    assert dict(got.dtypes) == {
        "p": "string", "k": "bigint", "hits": "int",
        "score": "double", "note": "string",
    }
    rows = {r["k"]: r for r in got.collect()}
    assert rows[1]["hits"] == 10 and rows[1]["score"] == 1.5
    assert rows[1]["note"] is None

    # merge after every verb: mixed old/new roots read consistently
    b = spark.createDataFrame(
        [("a", 3, 30, 3.5, "hi")],
        "p string, k long, hits int, score double, note string",
    )
    snapshot_merge(spark, b, path, "p", ["k"])
    rows = {r["k"]: r for r in snapshot_read(spark, path).collect()}
    assert rows[2]["hits"] == 20 and rows[3]["note"] == "hi"

    # the drop + re-add trap: same NAME, new field id -> old values
    # stay dead on every root
    snapshot_evolve_schema(path, drop=["note"])
    snapshot_evolve_schema(path, add={"note": "string"})
    rows = {r["k"]: r for r in snapshot_read(spark, path).collect()}
    assert len(rows) == 3
    assert all(r["note"] is None for r in rows.values())

    # pre-evolution time travel: the ORIGINAL schema and values
    tt = snapshot_read(spark, path, version=1)
    assert tt.columns == ["p", "k", "cnt", "score"]
    assert {r["cnt"] for r in tt.collect()} == {10, 20}


def test_snapshot_schema_evolution_guards(spark, tmp_path):
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_schema,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 1.5)], "p string, k int, score float"
    )
    snapshot_write(df, path, "p")
    with _pytest.raises(ValueError, match="partition source"):
        snapshot_evolve_schema(path, rename={"p": "pp"})
    with _pytest.raises(ValueError, match="not a widening"):
        snapshot_evolve_schema(path, widen={"score": "int"})
    with _pytest.raises(ValueError, match="unknown"):
        snapshot_evolve_schema(path, drop=["nope"])
    with _pytest.raises(ValueError, match="already exists"):
        snapshot_evolve_schema(path, add={"k": "int"})
    snapshot_delete(
        spark, spark.createDataFrame([(1,)], "k int"), path, "p", ["k"]
    )
    # r16 (VERDICT r15 #4): renaming the delete-key column while
    # delete files are outstanding is ALLOWED (field-id addressed);
    # only dropping it is refused
    with _pytest.raises(ValueError, match="delete-key"):
        snapshot_evolve_schema(path, drop=["k"])
    st = snapshot_evolve_schema(path, rename={"k": "kk"})
    assert st["new_version"] > st["old_version"]


def test_cdf_apply_exactly_once_across_crash(spark, tmp_path):
    """VERDICT r14 #4: apply_cdf_to_snapshot is exactly-once. A crash
    between the destination commit and the cursor write redelivers the
    window; the cdf_applied token in the destination's version file
    makes the redelivery a no-op — even when an INDEPENDENT writer
    committed to the destination in between (plain merge replay would
    clobber its update with the stale window)."""
    import os

    import datawarehouse_group10_spark.sources.layout as L
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        apply_cdf_to_snapshot,
    )

    def rows_of(p):
        return {
            r["k"]: (r["p"], r["v"])
            for r in snapshot_read(spark, p).collect()
        }

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ref = str(tmp_path / "ref")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0), ("b", 4, 4.0)],
        "p string, k int, v double",
    )
    snapshot_write(base, src, "p")
    v1 = 1
    # window 1: update k=1, insert k=5; window 2: delete k=3
    snapshot_merge(
        spark,
        spark.createDataFrame(
            [("a", 1, 100.0), ("b", 5, 5.0)], "p string, k int, v double"
        ),
        src, "p", ["k"],
    )
    snapshot_merge(
        spark,
        spark.createDataFrame([("b", 3, 0.0, True)],
                              "p string, k int, v double, d boolean"),
        src, "p", ["k"], delete_col="d",
    )

    for d in (dst, ref):
        snapshot_write(base, d, "p")
    # one-shot reference
    st = apply_cdf_to_snapshot(
        spark, src, ref, "p", ["k"], start_version=v1
    )
    assert st["delivered"] == 2 and st["applied"] == 2

    # dst: apply window 1 only, then simulate a crash BEFORE the
    # cursor write by rewinding the cursor
    cursor = os.path.join(dst, "_cdf_from")
    st1 = apply_cdf_to_snapshot(
        spark, src, dst, "p", ["k"], start_version=v1, max_versions=1
    )
    assert st1["applied"] == 1
    L._meta_store().put_atomic(
        os.path.join(cursor, "_CDF_CURSOR"), b"1"
    )
    # independent writer updates k=1 (a key window 1 also set)
    snapshot_merge(
        spark,
        spark.createDataFrame([("a", 1, 777.0)],
                              "p string, k int, v double"),
        dst, "p", ["k"],
    )
    # replay: window 1 redelivered -> skipped; window 2 applied
    st2 = apply_cdf_to_snapshot(spark, src, dst, "p", ["k"])
    assert st2["skipped"] == 1 and st2["applied"] == 1

    expect = {**rows_of(ref), 1: ("a", 777.0)}
    assert rows_of(dst) == expect
    # and the destination matches the source everywhere else
    d, s = rows_of(dst), rows_of(src)
    d.pop(1), s.pop(1)
    assert d == s


def test_snapshot_upsert_mor_writes_o_batch_bytes(spark, tmp_path):
    """VERDICT r14 #5: a mixed N-row CDC batch through
    snapshot_upsert_mor writes O(N) data bytes (delete files + append
    files), not O(partition); the appended keys stay probe-visible
    (bloom OR-merge), replay is value-idempotent, and compaction folds
    the refs back to a plain scan with identical content."""
    import glob
    import os

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(10000).selectExpr(
        "case when id % 2 = 0 then 'a' else 'b' end as p",
        "cast(id as int) as k",
        "cast(id as double) as v",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    batch = spark.createDataFrame(
        [("a", 4, 444.0, False), ("b", 10001, 1.0, False),
         ("b", 7, 0.0, True)],
        "p string, k int, v double, d boolean",
    )
    st = snapshot_upsert_mor(spark, batch, path, "p", ["k"],
                             delete_col="d")
    assert st["dv_rows"] == 2 and st["ap_rows"] == 2
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 10000
    assert got[4] == 444.0 and got[10001] == 1.0 and 7 not in got
    # O(batch) bytes: the commit's data root is a sliver of the base
    newroot = os.path.join(path, f"v{st['new_version']}")
    sz = sum(
        os.path.getsize(f)
        for f in glob.glob(f"{newroot}/**/*.parquet", recursive=True)
    )
    base_sz = sum(
        os.path.getsize(f)
        for f in glob.glob(f"{path}/v1/**/*.parquet", recursive=True)
    )
    assert sz < base_sz / 5, (sz, base_sz)

    # probe parity: a merge keyed on an APPENDED key must find it
    st2 = snapshot_merge(
        spark,
        spark.createDataFrame([("b", 10001, 2.0)],
                              "p string, k int, v double"),
        path, "p", ["k"],
    )
    assert st2["partitions_rewritten"] == 1
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got[10001] == 2.0 and len(got) == 10000

    # replay: same batch again -> same state (one more version)
    snapshot_upsert_mor(spark, batch, path, "p", ["k"], delete_col="d")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 10000 and got[4] == 444.0 and 7 not in got

    # fold: compact drops every dv/ap ref, content identical
    snapshot_compact(spark, path, "p")
    m = snapshot_manifest(path)
    assert all(
        "ap" not in e and "dv" not in e for e in m["partitions"].values()
    )
    assert {
        r["k"]: r["v"] for r in snapshot_read(spark, path).collect()
    } == got


def test_stream_cdc_update_mode_mor_matches_cow(spark, tmp_path):
    """The streaming CDC apply produces the SAME table state under
    update_mode='mor' as under copy-on-write — the layout choice is
    invisible to readers (same microbatches, same final rows)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        run_stream_cdc_apply,
    )

    base = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
        "p string, k int, v double",
    )
    changes = [
        ("a", 1, 10.0, False),   # update
        ("b", 4, 4.0, False),    # insert
        ("a", 2, 0.0, True),     # delete
    ]
    paths = {}
    for mode in ("cow", "mor"):
        tbl = str(tmp_path / f"tbl_{mode}")
        cdc = str(tmp_path / f"cdc_{mode}")
        ckpt = str(tmp_path / f"ckpt_{mode}")
        snapshot_write(base, tbl, "p")
        spark.createDataFrame(
            changes, "p string, k int, v double, d boolean"
        ).write.mode("overwrite").parquet(cdc)
        stream = spark.readStream.schema(
            "p string, k int, v double, d boolean"
        ).parquet(cdc)
        run_stream_cdc_apply(
            stream, tbl, "p", ["k"], delete_col="d",
            checkpoint_dir=ckpt, update_mode=mode,
        )
        paths[mode] = {
            r["k"]: (r["p"], r["v"])
            for r in snapshot_read(spark, tbl).collect()
        }
    assert paths["cow"] == paths["mor"]
    assert paths["mor"] == {
        1: ("a", 10.0), 3: ("b", 3.0), 4: ("b", 4.0)
    }


def test_cdf_apply_mor_mode_matches_cow(spark, tmp_path):
    """apply_cdf_to_snapshot(mode='mor') lands windows as
    delete-file + append commits; destination state must equal the
    copy-on-write applier's, and the idempotence token still holds."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        apply_cdf_to_snapshot,
    )

    src = str(tmp_path / "src")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
    )
    snapshot_write(base, src, "p")
    snapshot_merge(
        spark,
        spark.createDataFrame([("a", 1, 10.0), ("b", 3, 3.0)],
                              "p string, k int, v double"),
        src, "p", ["k"],
    )
    snapshot_merge(
        spark,
        spark.createDataFrame([("b", 2, 0.0, True)],
                              "p string, k int, v double, d boolean"),
        src, "p", ["k"], delete_col="d",
    )
    states = {}
    for mode in ("cow", "mor"):
        dst = str(tmp_path / f"dst_{mode}")
        snapshot_write(base, dst, "p")
        st = apply_cdf_to_snapshot(
            spark, src, dst, "p", ["k"], start_version=1, mode=mode
        )
        assert st["applied"] == 2
        # re-run: cursor advanced, nothing redelivered
        st2 = apply_cdf_to_snapshot(
            spark, src, dst, "p", ["k"], mode=mode
        )
        assert st2["delivered"] == 0
        states[mode] = {
            r["k"]: (r["p"], r["v"])
            for r in snapshot_read(spark, dst).collect()
        }
    assert states["cow"] == states["mor"] == {
        1: ("a", 10.0), 3: ("b", 3.0)
    }


def test_snapshot_compact_scoped_optimize_where(spark, tmp_path):
    """OPTIMIZE ... WHERE (r15): snapshot_compact scoped by partition
    keys or a stats range rewrites only the in-scope fragmented
    partitions — and table-level flags (dv_key, pc_history) survive a
    scoped run that leaves out-of-scope work, clearing only when the
    LAST carrier is folded."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(300).selectExpr(
        "concat('p', cast(id % 3 as string)) as p",
        "cast(id as int) as k",
        "cast(id as double) as v",
    )
    snapshot_write(df, path, "p", shards=4)  # fragmented everywhere
    # MOR deletes touching p0 and p1
    snapshot_delete(
        spark,
        spark.createDataFrame([(0,), (1,)], "k int"),  # k0->p0, k1->p1
        path, "p", ["k"],
    )
    st = snapshot_compact(spark, path, "p", partitions={"p0"})
    assert st["partitions_compacted"] == 1
    assert st["pending_dv"] == 1  # p1 still carries its delete file
    m = snapshot_manifest(path)
    assert "dv" not in m["partitions"]["p0"]
    assert "dv" in m["partitions"]["p1"]
    assert m.get("dv_key") == ["k"]  # NOT cleared: p1 outstanding
    assert snapshot_read(spark, path).count() == 298

    # stats-range scope covering the rest folds the last dv -> clear
    st2 = snapshot_compact(
        spark, path, "p", prune={"k": (1, 299)}
    )
    assert st2["partitions_compacted"] == 2
    assert st2["pending_dv"] == 0
    m2 = snapshot_manifest(path)
    assert "dv_key" not in m2
    assert all("dv" not in e for e in m2["partitions"].values())
    assert snapshot_read(spark, path).count() == 298


def test_compact_clears_schema_log_when_no_old_roots(spark, tmp_path):
    """Once a compact leaves no root written before the last schema
    evolution, the per-root schema_log is dropped from the manifest
    (old version files keep their copies for time travel); a partial
    compact that leaves a pre-evolution root keeps it."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(200).selectExpr(
        "case when id % 2 = 0 then 'a' else 'b' end as p",
        "cast(id as int) as k",
        "cast(id as int) as cnt",
    )
    snapshot_write(df, path, "p", shards=4)  # fragmented
    snapshot_evolve_schema(path, rename={"cnt": "hits"})
    assert snapshot_manifest(path).get("schema_log")
    # partial compact: only a's partition — b's root predates the
    # evolution, so the log must survive
    st = snapshot_compact(spark, path, "p", partitions={"a"})
    assert st["partitions_compacted"] == 1
    assert snapshot_manifest(path).get("schema_log")
    got = {r["k"]: r["hits"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 200 and got[7] == 7
    # full compact folds the last pre-evolution root -> log dropped
    st2 = snapshot_compact(spark, path, "p")
    assert st2["new_version"] > st2["old_version"]
    m = snapshot_manifest(path)
    assert "schema_log" not in m
    assert m.get("schema_ids")  # ids stay: future evolutions continue
    got = {r["k"]: r["hits"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 200 and got[7] == 7
    # pre-evolution time travel still maps through ITS version file
    tt = snapshot_read(spark, path, version=1)
    assert tt.columns == ["p", "k", "cnt"]


def test_stream_cdc_exactly_once_token_skips_replay(spark, tmp_path):
    """exactly_once_id (r15): a checkpoint-replayed microbatch is a
    provable no-op. Simulated by re-running the SAME change files
    under a FRESH checkpoint (same batch ids) after an interleaved
    external update — without the token the stale replay would
    clobber it."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        run_stream_cdc_apply,
    )

    tbl = str(tmp_path / "tbl")
    cdc = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
    )
    snapshot_write(base, tbl, "p")
    spark.createDataFrame(
        [("a", 1, 10.0, False), ("b", 3, 3.0, False)],
        "p string, k int, v double, d boolean",
    ).write.mode("overwrite").parquet(cdc)

    def run(ckpt):
        stream = spark.readStream.schema(
            "p string, k int, v double, d boolean"
        ).parquet(cdc)
        run_stream_cdc_apply(
            stream, tbl, "p", ["k"], delete_col="d",
            checkpoint_dir=str(tmp_path / ckpt),
            exactly_once_id="job-x",
        )

    run("ckpt1")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, tbl).collect()}
    assert got == {1: 10.0, 2: 2.0, 3: 3.0}
    # external writer updates k=1 AFTER the batch committed
    snapshot_merge(
        spark,
        spark.createDataFrame([("a", 1, 777.0)],
                              "p string, k int, v double"),
        tbl, "p", ["k"],
    )
    # redelivery: same files, same batch ids, fresh checkpoint — the
    # token must skip them and the external update must survive
    run("ckpt2")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, tbl).collect()}
    assert got == {1: 777.0, 2: 2.0, 3: 3.0}


def test_spec_evolution_randomized_against_model(spark, tmp_path):
    """Seeded model fuzz of PARTITION-SPEC EVOLUTION interleavings
    (r15 — the area where ADVICE r14's data-loss bug lived): a random
    sequence of spec switches (identity p -> identity q -> bucket(k)
    -> ...), full-row merges that freely MOVE rows between partition
    values, compacts (bulk migration), and MOR upserts — which since
    r16 (VERDICT r15 #3) commit MID-MIGRATION like any other op and
    must produce the exact model state — is mirrored into a dict
    model; after every commit the committed snapshot must equal the
    model exactly, and every retained version must time-travel to its
    recorded state. An evolve attempted while delete files are
    outstanding follows the production recipe (fold, then evolve) and
    both commits are asserted."""
    import random

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    rng = random.Random(47)
    specs = ["p", "q", {"b": ("bucket", 4, "k")}]
    cur = 0
    path = str(tmp_path / "tbl")
    schema = "k int, p string, q string, v double"

    model: dict[int, tuple] = {
        k: (f"p{k % 3}", f"q{k % 2}", float(k)) for k in range(12)
    }
    base = spark.createDataFrame(
        [(k, *model[k]) for k in model], schema
    )
    snapshot_write(base, path, specs[cur])
    history = {1: dict(model)}
    version = 1

    def read_state():
        return {
            r["k"]: (r["p"], r["q"], r["v"])
            for r in snapshot_read(spark, path).collect()
        }

    for step in range(12):
        op = rng.choice(
            ["merge", "merge", "evolve", "compact", "upsert_mor"]
        )
        mid_migration = bool(
            snapshot_manifest(path).get("pc_history")
        )
        if op == "evolve":
            # r16: the respec commits even with outstanding delete
            # files (epoch-aware application) — no fold required
            nxt = rng.choice(
                [i for i in range(len(specs)) if i != cur]
            )
            st = snapshot_evolve_partitioning(path, specs[nxt])
            cur = nxt
            version = st["new_version"]
        elif op == "compact":
            st = snapshot_compact(
                spark, path, specs[cur], target_bytes=1 << 20
            )
            version = st["new_version"]
        else:
            rows = {}
            for _ in range(rng.randint(1, 5)):
                k = rng.randint(0, 19)
                if rng.random() < 0.25:
                    rows[k] = (k, f"p{k % 3}", f"q{k % 2}", 0.0, True)
                else:
                    rows[k] = (
                        k,
                        f"p{rng.randint(0, 3)}",
                        f"q{rng.randint(0, 2)}",
                        float(rng.randint(0, 99)),
                        False,
                    )
            batch = spark.createDataFrame(
                list(rows.values()), schema + ", del boolean"
            )
            del mid_migration  # r16: MOR upserts commit mid-migration
            for k, (_, p, q, v, dele) in rows.items():
                if dele:
                    model.pop(k, None)
                else:
                    model[k] = (p, q, v)
            fn = (
                snapshot_upsert_mor
                if op == "upsert_mor"
                else snapshot_merge
            )
            st = fn(
                spark, batch, path, specs[cur], ["k"],
                delete_col="del",
            )
            version = st["new_version"]
        history[version] = dict(model)
        assert read_state() == model, (
            f"divergence after step {step} ({op}, spec={specs[cur]})"
        )

    for v, snap_model in history.items():
        got = {
            r["k"]: (r["p"], r["q"], r["v"])
            for r in snapshot_read(spark, path, version=v).collect()
        }
        assert got == snap_model, f"time travel to v{v} diverged"


def test_schema_evolution_randomized_against_model(spark, tmp_path):
    """Seeded model fuzz of SCHEMA EVOLUTION interleavings (r15):
    random add / rename / widen / drop verbs (including re-adding a
    previously DROPPED name — its old values must stay dead) mixed
    with full-row merges, MOR upserts, and compacts; after every
    commit the committed snapshot must equal the model under the
    model's CURRENT schema, and every retained version must
    time-travel to its recorded (schema, rows) state."""
    import random

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_schema,
        snapshot_merge,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    rng = random.Random(29)
    path = str(tmp_path / "tbl")
    # value-column state: ordered name -> type ('int' | 'bigint')
    cols: dict[str, str] = {"c1": "int", "c2": "int"}
    name_pool = ["c3", "c4", "c5", "c6", "c1", "c2"]  # incl. re-adds
    rows: dict[int, dict] = {
        k: {"c1": k * 10, "c2": k * 100} for k in range(10)
    }

    def schema_str():
        legs = ", ".join(f"{c} {t}" for c, t in cols.items())
        return f"p string, k int{', ' + legs if legs else ''}"

    def to_tuple(k, vals, dele=None):
        base = [f"p{k % 3}", k, *[vals.get(c) for c in cols]]
        return tuple(base + ([dele] if dele is not None else []))

    base_df = spark.createDataFrame(
        [to_tuple(k, rows[k]) for k in rows], schema_str()
    )
    snapshot_write(base_df, path, "p")
    history = {1: ({**cols}, {k: dict(v) for k, v in rows.items()})}
    version = 1

    def read_state():
        out = {}
        for r in snapshot_read(spark, path).collect():
            out[r["k"]] = {c: r[c] for c in cols}
        return out

    def evolve(**verbs):
        # an upsert_mor may have left outstanding delete files, which
        # evolve legitimately refuses — fold them first (the
        # documented operator flow), then retry
        import pytest as _pytest

        try:
            snapshot_evolve_schema(path, **verbs)
        except ValueError as exc:
            assert "delete files" in str(exc)
            snapshot_compact(spark, path, "p", target_bytes=1 << 20)
            snapshot_evolve_schema(path, **verbs)

    for step in range(12):
        op = rng.choice(
            ["merge", "merge", "upsert_mor", "add", "rename",
             "widen", "drop", "compact"]
        )
        if op == "add":
            free = [n for n in name_pool if n not in cols]
            if not free:
                continue
            name = rng.choice(free)
            evolve(add={name: "int"})
            cols[name] = "int"
            for v in rows.values():
                v[name] = None  # re-added names read NULL everywhere
        elif op == "rename":
            if not cols:
                continue
            old = rng.choice(list(cols))
            free = [n for n in name_pool if n not in cols]
            if not free:
                continue
            new = rng.choice(free)
            evolve(rename={old: new})
            cols = {
                (new if c == old else c): t for c, t in cols.items()
            }
            for v in rows.values():
                v[new] = v.pop(old)
        elif op == "widen":
            ints = [c for c, t in cols.items() if t == "int"]
            if not ints:
                continue
            c = rng.choice(ints)
            evolve(widen={c: "bigint"})
            cols[c] = "bigint"
        elif op == "drop":
            if len(cols) <= 1:
                continue
            c = rng.choice(list(cols))
            evolve(drop=[c])
            del cols[c]
            for v in rows.values():
                v.pop(c, None)
        elif op == "compact":
            snapshot_compact(spark, path, "p", target_bytes=1 << 20)
        else:
            ops = {}
            for _ in range(rng.randint(1, 4)):
                k = rng.randint(0, 15)
                if rng.random() < 0.25:
                    ops[k] = (dict.fromkeys(cols), True)
                else:
                    ops[k] = (
                        {c: rng.randint(0, 999) for c in cols},
                        False,
                    )
            batch = spark.createDataFrame(
                [
                    to_tuple(k, vals, dele)
                    for k, (vals, dele) in ops.items()
                ],
                schema_str() + ", del boolean",
            )
            fn = (
                snapshot_upsert_mor
                if op == "upsert_mor"
                else snapshot_merge
            )
            fn(spark, batch, path, "p", ["k"], delete_col="del")
            for k, (vals, dele) in ops.items():
                if dele:
                    rows.pop(k, None)
                else:
                    rows[k] = dict(vals)
        from datawarehouse_group10_spark.sources.layout import (
            snapshot_version,
        )

        version = snapshot_version(path)
        history[version] = (
            {**cols},
            {k: dict(v) for k, v in rows.items()},
        )
        got = read_state()
        want = {k: {c: v.get(c) for c in cols} for k, v in rows.items()}
        assert got == want, f"divergence after step {step} ({op})"

    for v, (snap_cols, snap_rows) in history.items():
        got = {}
        for r in snapshot_read(spark, path, version=v).collect():
            got[r["k"]] = {c: r[c] for c in snap_cols}
        want = {
            k: {c: vv.get(c) for c in snap_cols}
            for k, vv in snap_rows.items()
        }
        assert got == want, f"time travel to v{v} diverged"


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """snapshot_diff spanning a rename/widen evolution (r15): the TO
    version's schema_log maps the FROM side by field id, so a
    metadata-only rename contributes ZERO spurious row changes, a
    widen doesn't trip the parquet reader on old int32 files, and
    only genuinely changed rows appear — which is what makes the CDF
    applier safe to run across an evolution commit."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_diff,
        snapshot_evolve_schema,
        snapshot_merge,
        snapshot_read,
        snapshot_version,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", 1, 10, 1.0), ("a", 2, 20, 2.0), ("b", 3, 30, 3.0)],
        "p string, k int, cnt int, v double",
    )
    snapshot_write(df, path, "p")
    v1 = snapshot_version(path)
    snapshot_evolve_schema(
        path, rename={"cnt": "hits"}, widen={"k": "bigint"},
    )
    v2 = snapshot_version(path)
    # pure metadata between v1 and v2: zero row changes
    d = snapshot_diff(spark, path, v1, v2, "p")
    assert d.count() == 0
    assert "hits" in d.columns and "cnt" not in d.columns

    # a real change after the evolution diffs in CURRENT names only
    snapshot_merge(
        spark,
        spark.createDataFrame([("a", 1, 99, 1.5)],
                              "p string, k long, hits int, v double"),
        path, "p", ["k"],
    )
    v3 = snapshot_version(path)
    d2 = snapshot_diff(spark, path, v1, v3, "p")
    rows = {(r["_change"], r["k"], r["hits"]) for r in d2.collect()}
    assert rows == {("delete", 1, 10), ("insert", 1, 99)}


def test_stream_cdc_mor_in_stream_compaction(spark, tmp_path):
    """compact_every (r15): the stream folds its own merge-on-read
    refs every N batches — final state identical, manifest back to
    plain scans by stream end."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import (
        run_stream_cdc_apply,
    )

    tbl = str(tmp_path / "tbl")
    cdc = str(tmp_path / "cdc")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("b", 2, 2.0)], "p string, k int, v double"
    )
    snapshot_write(base, tbl, "p")
    for i, rows in enumerate(
        [[("a", 1, 10.0, False)], [("b", 3, 3.0, False)],
         [("a", 1, 11.0, False)], [("b", 2, 0.0, True)]]
    ):
        spark.createDataFrame(
            rows, "p string, k int, v double, d boolean"
        ).write.mode("append").parquet(cdc)
    stream = spark.readStream.schema(
        "p string, k int, v double, d boolean"
    ).option("maxFilesPerTrigger", 1).parquet(cdc)
    run_stream_cdc_apply(
        stream, tbl, "p", ["k"], delete_col="d",
        checkpoint_dir=str(tmp_path / "ck"),
        update_mode="mor", compact_every=2, seq_col=None,
    )
    got = {r["k"]: r["v"] for r in snapshot_read(spark, tbl).collect()}
    assert got == {1: 11.0, 3: 3.0}
    m = snapshot_manifest(tbl)
    assert all(
        "ap" not in e and "dv" not in e for e in m["partitions"].values()
    )


def test_evolve_schema_guards_and_rekeys_bloom_columns(spark, tmp_path):
    """Key-bloom policy vs schema evolution (r16, ADVICE r15): the
    policy references columns by NAME and the digests hash the
    column's physical TYPE. DROP of a bloom column is refused (the
    policy would dangle); RENAME rewrites the policy's cols and bumps
    its generation; WIDEN keeps names but ALSO bumps the generation —
    xxhash64 over int and bigint differ, so probing an old digest
    with widened keys would false-negative live keys and wrongly
    prune their partitions. Old-generation digests are ignored (no
    pruning, never wrongness) until rewrites refresh them."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    rows = [(f"p{p}", p * 100 + j, float(p * 100 + j))
            for p in range(4) for j in range(20)]
    df = spark.createDataFrame(rows, "p string, id int, v double")
    snapshot_write(df, path, "p", key_bloom=["id"])
    assert all(
        "gen" not in e["kb"]
        for e in snapshot_manifest(path)["partitions"].values()
    )

    # DROP of the bloom column: refused with a pointer to a reload
    # under another policy
    with pytest.raises(ValueError, match="key-bloom.*snapshot_write"):
        snapshot_evolve_schema(path, drop=["id"])

    # WIDEN int -> bigint: metadata commit succeeds, policy gen bumps
    snapshot_evolve_schema(path, widen={"id": "bigint"})
    m = snapshot_manifest(path)
    assert m["key_bloom"]["gen"] == 1
    # merge a batch of EXISTING keys under the widened type: stale
    # digests must be ignored, the rows must be found and updated
    batch = spark.createDataFrame(
        [("p1", 105, -1.0), ("p2", 207, -2.0)],
        "p string, id bigint, v double",
    )
    st = snapshot_merge(spark, batch, path, "p", ["id"])
    assert st["partitions_rewritten"] == 2
    got = {r["id"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 80 and got[105] == -1.0 and got[207] == -2.0
    # rewritten partitions carry NEW-generation digests that prune
    m = snapshot_manifest(path)
    assert m["partitions"]["p1"]["kb"]["gen"] == 1
    st = snapshot_merge(
        spark,
        spark.createDataFrame(
            [("p1", 106, -3.0)], "p string, id bigint, v double"
        ),
        path, "p", ["id"],
    )
    assert st["probe_partitions"] == 1

    # RENAME the bloom column: policy cols follow, gen bumps again,
    # and the next merge's bloom maintenance works under the new name
    snapshot_evolve_schema(path, rename={"id": "uid"})
    m = snapshot_manifest(path)
    assert m["key_bloom"]["cols"] == ["uid"]
    assert m["key_bloom"]["gen"] == 2
    st = snapshot_merge(
        spark,
        spark.createDataFrame(
            [("p3", 301, -4.0)], "p string, uid bigint, v double"
        ),
        path, "p", ["uid"],
    )
    got = {r["uid"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got[301] == -4.0 and got[105] == -1.0

    # the refusal's advice: reload without a policy, then the drop
    # goes through
    snapshot_write(snapshot_read(spark, path), path, "p")
    assert "key_bloom" not in snapshot_manifest(path)
    snapshot_evolve_schema(path, drop=["uid"])
    assert snapshot_read(spark, path).columns == ["p", "v"]


def test_exactly_once_tokens_merge_per_key(spark, tmp_path):
    """Token maps merge PER-KEY with max() against the commit's base
    (r16, ADVICE r15): a writer carrying a token built from a stale
    manifest read must not wholesale-replace the map and drop another
    job's token, and a stale token can never roll a newer one back."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_manifest,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame([("a", 1, 1.0)], "p string, k int, v double"),
        path, "p",
    )

    def land(k, v, token):
        snapshot_merge(
            spark,
            spark.createDataFrame(
                [("a", k, v)], "p string, k int, v double"
            ),
            path, "p", ["k"], extra_meta={"cdc_applied": token},
        )

    land(2, 2.0, {"joba": 5})
    # jobb's token was built BEFORE joba's commit (stale map without
    # joba) — the per-key merge must keep both
    land(3, 3.0, {"jobb": 3})
    assert snapshot_manifest(path)["cdc_applied"] == {"joba": 5, "jobb": 3}
    # a REPLAYED older batch of joba must not roll its token back
    land(4, 4.0, {"joba": 2})
    assert snapshot_manifest(path)["cdc_applied"] == {"joba": 5, "jobb": 3}
    # and progress still advances
    land(5, 5.0, {"joba": 6, "jobb": 4})
    assert snapshot_manifest(path)["cdc_applied"] == {"joba": 6, "jobb": 4}


def test_diff_from_side_survives_schema_log_drop(spark, tmp_path):
    """snapshot_diff across a compact that DROPPED schema_log (r16,
    ADVICE r15): the FROM side still references pre-evolution roots,
    and the TO manifest no longer carries the records to map them —
    _read_version unions in the FROM version's own log (or, for a
    FROM entirely pre-evolution, synthesizes the record from the FROM
    manifest's own schema), so renamed columns diff by field id
    instead of silently reading NULL."""
    from datawarehouse_group10_spark.sources.layout import (
        _snapshot_committed,
        snapshot_compact,
        snapshot_diff,
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a" if k % 2 == 0 else "b", k, k * 10) for k in range(1, 61)],
        "p string, k int, cnt int",
    )
    snapshot_write(df, path, "p", shards=4)  # fragmented -> compactable
    v_pre = _snapshot_committed(path)
    snapshot_evolve_schema(path, rename={"cnt": "hits"})
    v_evolved = _snapshot_committed(path)
    # one REAL change inside the diff window, so the expected net diff
    # is non-empty and its values prove the field-id mapping
    snapshot_merge(
        spark,
        spark.createDataFrame([("b", 1, -1)], "p string, k int, hits int"),
        path, "p", ["k"],
    )
    snapshot_compact(spark, path, "p")  # folds every pre-evolution root
    v_head = _snapshot_committed(path)
    assert "schema_log" not in snapshot_manifest(path)

    def net(d):
        ins = {(r["k"], r["hits"]) for r in
               d.filter(F.col("_change") == "insert").collect()}
        dels = {(r["k"], r["hits"]) for r in
                d.filter(F.col("_change") == "delete").collect()}
        return ins - dels, dels - ins

    # FROM carries the log itself (the CDF window over the compact).
    # Before the fix, the FROM side silently read `hits` as NULL for
    # every pre-evolution root -> the isNull pin and the exact net.
    d = snapshot_diff(spark, path, v_evolved, v_head, "p")
    assert d.filter(F.col("hits").isNull()).count() == 0
    assert net(d) == ({(1, -1)}, {(1, 10)})

    # FROM entirely PRE-evolution: no log anywhere -> synthesized from
    # the FROM manifest's own schema; values must map, never NULL
    d2 = snapshot_diff(spark, path, v_pre, v_head, "p")
    assert d2.filter(F.col("hits").isNull()).count() == 0
    assert net(d2) == ({(1, -1)}, {(1, 10)})


def test_wide_commit_footer_stats_are_one_job_not_driver_io(spark, tmp_path):
    """Commit-time footer-stat collection is DISTRIBUTED past the
    small-commit threshold (r16, VERDICT r15 #1): a write touching
    many partitions collects every freshly-written file's stats
    (rows/bytes/column bounds for the entry, row counts for bloom
    sizing) in O(1) executor jobs — ZERO serial driver footer reads —
    where the old shape serialized one footer GET per file inside the
    commit path. Small commits stay serial-local (a handful of opens
    beats a job round-trip)."""
    from datawarehouse_group10_spark.sources import layout as L

    path = str(tmp_path / "wide")
    n_parts = 2 * L.FOOTER_STATS_DISTRIBUTE_MIN  # 128 files, 1/leaf
    df = spark.range(n_parts * 10).selectExpr(
        f"concat('p', id % {n_parts}) as p",
        "cast(id as int) as k",
        "cast(id as double) as v",
    )
    before = dict(L.FOOTER_STAT_COUNTS)
    L.snapshot_write(df, path, "p", key_bloom=["k"])
    after = dict(L.FOOTER_STAT_COUNTS)
    assert after["driver_files"] == before["driver_files"]
    # ONE fused job: bloom sizing reuses the entry-stat footer records
    # (r18 — was 2 jobs when the bloom pass re-read every footer)
    assert after["jobs"] - before["jobs"] == 1
    # and the distributed records produced real entries: bounds + rows
    m = L.snapshot_manifest(path)
    assert len(m["partitions"]) == n_parts
    e = m["partitions"]["p3"]
    assert e["rows"] == 10 and "kb" in e and e["stats"]["k"]
    # a SMALL commit goes serial-local, zero jobs
    before = dict(L.FOOTER_STAT_COUNTS)
    L.snapshot_merge(
        spark,
        spark.createDataFrame([("p3", 3, -1.0)], "p string, k int, v double"),
        path, "p", ["k"],
    )
    after = dict(L.FOOTER_STAT_COUNTS)
    assert after["jobs"] == before["jobs"]
    assert after["driver_files"] > before["driver_files"]
    got = {r["k"]: r["v"] for r in L.snapshot_read(spark, path).collect()}
    assert len(got) == n_parts * 10 and got[3] == -1.0


def test_mor_read_plan_single_delete_scan(spark, tmp_path):
    """Merge-on-read delete application is ONE scan regardless of how
    many delete-commits are outstanding (r16, VERDICT r15 #2): the
    per-delete sequence comes from _metadata.file_path instead of one
    spark.read per commit version, so a lazily-maintained table's
    read plan stays constant-size between folds."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)]
        + [("b", i, float(i)) for i in range(10, 20)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    # 4 separate delete/upsert commits -> 4 outstanding refs
    snapshot_delete(
        spark, spark.createDataFrame([(1,)], "k int"), path, "p", ["k"]
    )
    snapshot_delete(
        spark, spark.createDataFrame([(11,)], "k int"), path, "p", ["k"]
    )
    for rows in ([("a", 2, -2.0, False)], [("b", 12, -12.0, False)]):
        snapshot_upsert_mor(
            spark,
            spark.createDataFrame(
                rows, "p string, k int, v double, d boolean"
            ),
            path, "p", ["k"], delete_col="d",
        )
    out = snapshot_read(spark, path)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert 1 not in got and 11 not in got
    assert got[2] == -2.0 and got[12] == -12.0 and len(got) == 18
    # the DELETE side of the plan is exactly ONE parquet relation
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    dv_scans = sum(
        1 for line in plan.splitlines()
        if "Relation" in line and "_dv_pkey" in line
    )
    assert dv_scans == 1, plan


def test_upsert_mor_and_delete_mid_spec_migration(spark, tmp_path):
    """MOR verbs keep working MID partition-spec migration (r16,
    VERDICT r15 #3): after snapshot_evolve_partitioning, upserts and
    equality deletes against keys still living in OLD-spec entries
    land delete-file references on those entries (located by deriving
    each matched row's key under every live spec) while appends land
    under the current spec — no full-table compact required, reads
    and time travel stay exact, and the later fold converges."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    schema = "k int, p string, q string, v double"
    model = {k: (f"p{k % 3}", f"q{k % 2}", float(k)) for k in range(12)}
    snapshot_write(
        spark.createDataFrame([(k, *model[k]) for k in model], schema),
        path, "p",
    )
    snapshot_evolve_partitioning(path, "q")  # mid-migration from here
    assert snapshot_manifest(path).get("pc_history")

    def read_state():
        return {
            r["k"]: (r["p"], r["q"], r["v"])
            for r in snapshot_read(spark, path).collect()
        }

    # upsert existing keys (live in old-spec p=* entries), insert new,
    # delete one — all in one MOR batch, mid-migration
    batch = spark.createDataFrame(
        [
            (1, "p1", "q1", -1.0, False),   # update (old-spec home)
            (2, "p2", "q0", 0.0, True),     # delete (old-spec home)
            (50, "p0", "q0", 50.0, False),  # brand-new key
        ],
        schema + ", del boolean",
    )
    st = snapshot_upsert_mor(spark, batch, path, "q", ["k"], delete_col="del")
    model[1] = ("p1", "q1", -1.0)
    model.pop(2)
    model[50] = ("p0", "q0", 50.0)
    assert read_state() == model
    # the delete refs landed on OLD-spec entries (no rewrite happened)
    m = snapshot_manifest(path)
    old_dv = [
        key for key, e in m["partitions"].items()
        if "dv" in e and e["root"] == "v1"
    ]
    assert old_dv, m["partitions"]
    assert st["dv_rows"] >= 2

    # pure MOR delete mid-migration
    st = snapshot_delete(
        spark, spark.createDataFrame([(3,), (50,)], "k int"),
        path, "q", ["k"],
    )
    model.pop(3)
    model.pop(50)
    assert read_state() == model
    # partition-scoped read of an old-spec entry applies its deletes
    scoped = {
        r["k"]
        for r in snapshot_read(spark, path, partitions={"q0"}).collect()
    }
    assert 2 not in scoped and 3 not in scoped and 50 not in scoped

    # the fold converges: migration finishes AND deletes fold
    snapshot_compact(spark, path, "q", target_bytes=1 << 20)
    m = snapshot_manifest(path)
    assert not m.get("pc_history")
    assert all("dv" not in e and "ap" not in e
               for e in m["partitions"].values())
    assert read_state() == model


def test_stream_cdc_mor_survives_mid_stream_respec(spark, tmp_path):
    """A MOR-mode CDC stream keeps applying batches across a
    partition-spec evolution (r16, VERDICT r15 #3) — the r15 engine
    hard-failed the first post-evolve batch until a manual full-table
    compact."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_read,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import run_stream_cdc_apply

    tbl = str(tmp_path / "tbl")
    cdc = str(tmp_path / "cdc")
    ck = str(tmp_path / "ck")
    sch = "k int, p string, q string, v double, d boolean"
    snapshot_write(
        spark.createDataFrame(
            [(1, "a", "x", 1.0), (2, "b", "y", 2.0)],
            "k int, p string, q string, v double",
        ),
        tbl, "p",
    )

    def feed(rows):
        spark.createDataFrame(rows, sch).write.mode("append").parquet(cdc)

    def drain(pc):
        stream = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", 1)
            .parquet(cdc)
        )
        run_stream_cdc_apply(
            stream, tbl, pc, ["k"], delete_col="d",
            checkpoint_dir=ck, update_mode="mor", seq_col=None,
        )

    feed([(1, "a", "x", 10.0, False)])
    feed([(3, "a", "y", 3.0, False)])
    drain("p")
    # r16: the respec commits with the stream's delete/append refs
    # still outstanding — no fold, no pause
    snapshot_evolve_partitioning(tbl, "q")
    feed([(1, "a", "x", 11.0, False)])   # update: old-spec home
    feed([(2, "b", "y", 0.0, True)])     # delete: old-spec home
    feed([(4, "b", "x", 4.0, False)])    # insert: current spec
    # a stream restarted with the STALE spec is fenced loudly (it
    # would otherwise flip the table's partitioning back and corrupt
    # layout resolution for entries committed under the new spec)
    import pytest as _pytest

    with _pytest.raises(Exception, match="spec mismatch"):
        drain("p")
    # restarted with the CURRENT spec: same checkpoint, batches apply
    drain("q")
    got = {r["k"]: r["v"] for r in snapshot_read(spark, tbl).collect()}
    assert got == {1: 11.0, 3: 3.0, 4: 4.0}


def test_schema_evolution_with_outstanding_delete_files(spark, tmp_path):
    """Schema evolution proceeds METADATA-ONLY while merge-on-read
    delete files are outstanding (r16, VERDICT r15 #4): delete keys
    are addressed by field id, so non-key verbs, a key-column RENAME,
    and a key-column WIDEN all work without the full-table fold the
    r15 guard forced; only DROPPING the delete-key column is refused
    while files are outstanding. Reads, the merge probe, and the
    eventual fold stay exact throughout."""
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    model = {k: (f"p{k % 3}", float(k)) for k in range(12)}
    snapshot_write(
        spark.createDataFrame(
            [(k, p, v) for k, (p, v) in model.items()],
            "k int, p string, v double",
        ),
        path, "p",
    )
    # outstanding delete files on a never-evolved table (no field ids
    # yet — the evolve must assign them)
    snapshot_delete(
        spark, spark.createDataFrame([(1,), (5,)], "k int"),
        path, "p", ["k"],
    )
    del model[1], model[5]

    # DROP of the delete-key column: refused while outstanding
    with _pytest.raises(ValueError, match="delete-key"):
        snapshot_evolve_schema(path, drop=["k"])

    # rename the KEY column + add a column + widen the key, dvs live
    snapshot_evolve_schema(path, rename={"k": "kid"}, add={"note": "string"})
    snapshot_evolve_schema(path, widen={"kid": "bigint"})
    m = snapshot_manifest(path)
    assert m["dv_key"] == ["kid"] and m["dv_key_ids"] == [1]

    def read_state():
        return {
            r["kid"]: (r["p"], r["v"], r["note"])
            for r in snapshot_read(spark, path).collect()
        }

    assert read_state() == {k: (p, v, None) for k, (p, v) in model.items()}

    # MOR verbs keep working under the NEW key name, same field id
    snapshot_delete(
        spark, spark.createDataFrame([(2,)], "kid bigint"),
        path, "p", ["kid"],
    )
    del model[2]
    snapshot_upsert_mor(
        spark,
        spark.createDataFrame(
            [(3, "p0", -3.0, "upd", False), (50, "p1", 50.0, "new", False)],
            "kid bigint, p string, v double, note string, del boolean",
        ),
        path, "p", ["kid"], delete_col="del",
    )
    model[3] = ("p0", -3.0)
    model[50] = ("p1", 50.0)
    got = read_state()
    assert {k: (p, v) for k, (p, v, _n) in got.items()} == model
    assert got[3][2] == "upd" and got[0][2] is None

    # fold: deletes and the schema_log age out, state identical
    snapshot_compact(spark, path, "p", target_bytes=1 << 20)
    m = snapshot_manifest(path)
    assert m.get("dv_key") is None and m.get("dv_key_ids") is None
    assert {k: (p, v) for k, (p, v, _n) in read_state().items()} == model
    # and a post-fold drop of the (renamed) key column now goes through
    snapshot_evolve_schema(path, drop=["note"])
    assert "note" not in snapshot_read(spark, path).columns


def test_snapshot_diff_update_image_tags(spark, tmp_path):
    """``update_keys`` (r16, VERDICT r15 #5): a value change diffs as
    'update_preimage'/'update_postimage' on the same key (Delta CDF
    parity) instead of an indistinguishable delete+insert pair;
    genuine inserts/deletes keep their tags, the 2-tag default is
    unchanged, and the exactly-once CDF sink consumes either form."""
    from datawarehouse_group10_spark.sources.layout import (
        _snapshot_committed,
        snapshot_diff,
        snapshot_merge,
        snapshot_write,
    )
    from datawarehouse_group10_spark.streaming import apply_cdf_to_snapshot

    path = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
            "p string, k int, v double",
        ),
        path, "p",
    )
    v1 = _snapshot_committed(path)
    snapshot_merge(
        spark,
        spark.createDataFrame(
            [("a", 1, -1.0, False),   # update
             ("b", 3, 0.0, True),     # delete
             ("b", 4, 4.0, False)],   # insert
            "p string, k int, v double, d boolean",
        ),
        path, "p", ["k"], delete_col="d",
    )
    v2 = _snapshot_committed(path)

    # default: 2-tag form, byte-stable for existing consumers
    d = snapshot_diff(spark, path, v1, v2, "p")
    assert set(d.select("_change").distinct().toPandas()["_change"]) == {
        "insert", "delete",
    }

    d4 = snapshot_diff(spark, path, v1, v2, "p", update_keys=["k"])
    got = {(r["k"], r["_change"]): r["v"] for r in d4.collect()}
    assert got == {
        (1, "update_preimage"): 1.0,
        (1, "update_postimage"): -1.0,
        (3, "delete"): 3.0,
        (4, "insert"): 4.0,
    }

    # the CDF sink lands the 4-tag form identically to the 2-tag form
    import os

    from datawarehouse_group10_spark.sources.layout import snapshot_read

    dst = str(tmp_path / "dst")
    snapshot_write(
        spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
            "p string, k int, v double",
        ),
        dst, "p",
    )
    import datawarehouse_group10_spark.sources.layout as L

    real_diff = L.snapshot_diff

    def four_tag_diff(spark_, path_, vf, vt, pc, prune=None, **kw):
        return real_diff(
            spark_, path_, vf, vt, pc, prune, update_keys=["k"]
        )

    try:
        L.snapshot_diff = four_tag_diff
        import datawarehouse_group10_spark.streaming as S

        stats = apply_cdf_to_snapshot(
            spark, path, dst, "p", ["k"],
            cursor_path=os.path.join(str(tmp_path), "_cur"),
            start_version=v1,
        )
    finally:
        L.snapshot_diff = real_diff
    assert stats["applied"] >= 1
    got = {r["k"]: r["v"] for r in snapshot_read(spark, dst).collect()}
    assert got == {1: -1.0, 2: 2.0, 4: 4.0}


@pytest.mark.parametrize("seed", [163, 29])
def test_combined_schema_and_spec_evolution_fuzz(spark, tmp_path, seed):
    """Combined model fuzz over BOTH evolution verb families in one
    interleaving (r16, VERDICT r15 #7): partition-spec switches
    (identity p -> identity q -> bucket(k)), schema verbs (add /
    rename / widen / drop of non-frozen columns, including widening
    the MERGE KEY and bloom column k), merge-on-read upserts and
    deletes (which since r16 commit mid-migration AND under
    outstanding-delete schema evolution), copy-on-write merges,
    and compacts — mirrored into a dict model. After
    every commit the committed snapshot must equal the model under
    the CURRENT column set, every retained version must time-travel
    to its recorded (columns, rows) state, and guard refusals
    (partition-frozen columns, delete-key drops) follow the
    documented fold-first recipes. Catches cross-family invariants a
    single-family fuzz can't: schema_log x pc_history retention,
    dv_key_ids across respec, bloom generation across key widen."""
    import random

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_merge,
        snapshot_write,
    )

    rng = random.Random(seed)
    specs = ["p", "q", {"b": ("bucket", 4, "k")}]
    cur_spec = 0
    k_type = "int"
    # live non-key columns beyond (k, p, q): name -> sql type
    vcols: dict[str, str] = {"v": "double"}
    path = str(tmp_path / "tbl")

    model: dict[int, dict] = {
        k: {"p": f"p{k % 3}", "q": f"q{k % 2}", "v": float(k)}
        for k in range(12)
    }

    def schema_str() -> str:
        return ", ".join(
            [f"k {k_type}", "p string", "q string"]
            + [f"{c} {t}" for c, t in vcols.items()]
        )

    def row_tuple(d: dict) -> tuple:
        return tuple(d.get(c) for c in ["p", "q", *vcols])

    snapshot_write(
        spark.createDataFrame(
            [(k, d["p"], d["q"], *[d.get(c) for c in vcols])
             for k, d in model.items()],
            schema_str(),
        ),
        path, specs[cur_spec], key_bloom=["k"],
    )
    history = {1: ({**vcols}, {k: dict(d) for k, d in model.items()})}
    version = 1

    def read_state():
        return {
            r["k"]: tuple(r[c] for c in ["p", "q", *vcols])
            for r in snapshot_read(spark, path).collect()
        }

    n_sch = 0
    for step in range(14):
        op = rng.choice(
            ["merge", "upsert_mor", "upsert_mor", "mor_delete",
             "evolve_spec", "evolve_schema", "compact", "widen_k"]
        )
        if op == "evolve_spec":
            # r16: the respec commits even with outstanding delete
            # files (epoch-aware application) — no fold required
            nxt = rng.choice(
                [i for i in range(len(specs)) if i != cur_spec]
            )
            st = snapshot_evolve_partitioning(path, specs[nxt])
            cur_spec = nxt
            version = st["new_version"]
        elif op == "evolve_schema":
            n_sch += 1
            verb = rng.choice(["add", "rename", "drop"])
            if verb == "add":
                c = f"c{n_sch}"
                st = snapshot_evolve_schema(path, add={c: "string"})
                vcols[c] = "string"
                for d in model.values():
                    d[c] = None
            elif verb == "rename" and vcols:
                old = rng.choice(sorted(vcols))
                new = f"r{n_sch}"
                st = snapshot_evolve_schema(path, rename={old: new})
                vcols = {new if c == old else c: t
                         for c, t in vcols.items()}
                for d in model.values():
                    d[new] = d.pop(old)
            else:
                droppable = [c for c in sorted(vcols) if len(vcols) > 1]
                if not droppable:
                    continue
                c = rng.choice(droppable)
                st = snapshot_evolve_schema(path, drop=[c])
                vcols.pop(c)
                for d in model.values():
                    d.pop(c, None)
            version = st["new_version"]
        elif op == "widen_k":
            if k_type == "bigint":
                continue
            try:
                st = snapshot_evolve_schema(path, widen={"k": "bigint"})
            except ValueError as exc:
                # bucket(k) is a live spec: k is partition-frozen
                assert "partition source" in str(exc)
                continue
            k_type = "bigint"
            version = st["new_version"]
        elif op == "compact":
            st = snapshot_compact(
                spark, path, specs[cur_spec], target_bytes=1 << 20
            )
            version = st["new_version"]
        elif op == "mor_delete":
            ks = sorted(rng.sample(range(0, 25), rng.randint(1, 3)))
            for k in ks:
                model.pop(k, None)
            st = snapshot_delete(
                spark,
                spark.createDataFrame([(k,) for k in ks], f"k {k_type}"),
                path, specs[cur_spec], ["k"],
            )
            version = st["new_version"]
        else:  # merge / upsert_mor with full current-schema rows
            rows = {}
            for _ in range(rng.randint(1, 4)):
                k = rng.randint(0, 19)
                if rng.random() < 0.25:
                    rows[k] = (k, "px", "qx",
                               *[None] * len(vcols), True)
                else:
                    d = {
                        "p": f"p{rng.randint(0, 3)}",
                        "q": f"q{rng.randint(0, 2)}",
                    }
                    for c, t in vcols.items():
                        d[c] = (
                            float(rng.randint(0, 99))
                            if t == "double"
                            else f"s{step}"
                        )
                    rows[k] = (k, d["p"], d["q"],
                               *[d[c] for c in vcols], False)
            for k, tup in rows.items():
                if tup[-1]:
                    model.pop(k, None)
                else:
                    model[k] = dict(
                        zip(["p", "q", *vcols], tup[1:-1])
                    )
            batch = spark.createDataFrame(
                list(rows.values()), schema_str() + ", del boolean"
            )
            fn = snapshot_merge if op == "merge" else snapshot_upsert_mor
            st = fn(
                spark, batch, path, specs[cur_spec], ["k"],
                delete_col="del",
            )
            version = st["new_version"]
        history[version] = (
            {**vcols},
            {k: dict(d) for k, d in model.items()},
        )
        assert read_state() == {
            k: row_tuple(d) for k, d in model.items()
        }, f"divergence after step {step} ({op})"

        # r16 metadata invariants, checked after EVERY commit:
        # (a) dv_key_ids always name the dv_key columns' CURRENT field
        #     ids (renames rewrite both in lockstep);
        # (b) current-generation key-bloom digests never false-negative
        #     a live key when probed with the CURRENT key type — the
        #     exact property the widen-bumps-generation rule protects
        #     (a stale digest surviving a widen with matching gen
        #     would fail this).
        import base64 as _b64
        import json as _json

        mm = snapshot_manifest(path)
        if mm.get("dv_key") is not None and mm.get("schema_ids"):
            name2id = dict(
                zip(
                    [
                        f["name"]
                        for f in _json.loads(mm["schema"])["fields"]
                    ],
                    mm["schema_ids"],
                )
            )
            if mm.get("dv_key_ids"):
                assert mm["dv_key_ids"] == [
                    name2id[c] for c in mm["dv_key"]
                ], f"dv_key_ids drifted at step {step}"
        spec_kb = mm.get("key_bloom")
        # the digest-coverage check needs row RESIDENCY, which is only
        # value-derivable when ONE spec is live (mid-migration an
        # old-spec entry legitimately holds rows whose current-spec
        # key names a different, possibly digest-carrying entry — the
        # probe handles that per entry; this check cannot). The fuzz
        # compacts often enough that post-widen digests are checked
        # in the single-spec states that follow each fold.
        if (
            spec_kb is not None
            and model
            and not mm.get("pc_history")
        ):
            import datawarehouse_group10_spark.sources.layout as L

            live = spark.createDataFrame(
                [
                    (k, d["p"], d["q"])
                    for k, d in model.items()
                ],
                f"k {k_type}, p string, q string",
            )
            rows_ = live.select(
                F.col("k"),
                L._part_key_col(mm["partition_col"]).alias("_pv"),
            ).collect()
            by_pv: dict[str, list] = {}
            for r in rows_:
                by_pv.setdefault(r["_pv"], []).append(r["k"])
            for pv, e in mm["partitions"].items():
                kb = e.get("kb")
                if (
                    kb is None
                    or kb.get("gen") != spec_kb.get("gen")
                    or list(kb["cols"]) != list(spec_kb["cols"])
                    or pv not in by_pv
                ):
                    continue
                bits = int.from_bytes(
                    _b64.b64decode(kb["b"]), "little"
                )
                pos = spark.createDataFrame(
                    [(k,) for k in by_pv[pv]], f"k {k_type}"
                ).select(
                    F.array(
                        *[
                            F.pmod(
                                F.xxhash64(F.lit(i), F.col("k")),
                                F.lit(kb["m"]),
                            ).cast("int")
                            for i in range(kb["k"])
                        ]
                    ).alias("ps")
                ).collect()
                want = {p_ for r in pos for p_ in r["ps"]}
                got_bits = {
                    i for i in range(kb["m"]) if (bits >> i) & 1
                }
                assert want <= got_bits, (
                    f"bloom false-negative in {pv} at step {step} "
                    f"(gen {kb.get('gen')}, k_type {k_type})"
                )

    # every retained version time-travels to its recorded state under
    # its recorded column set
    for v, (vc, snap_model) in history.items():
        got = {
            r["k"]: tuple(r[c] for c in ["p", "q", *vc])
            for r in snapshot_read(spark, path, version=v).collect()
        }
        want = {
            k: tuple(d.get(c) for c in ["p", "q", *vc])
            for k, d in snap_model.items()
        }
        assert got == want, f"time travel to v{v} diverged"
    m = snapshot_manifest(path)
    assert m["n_live"] == len(m["partitions"])


def test_respec_with_outstanding_delete_files(spark, tmp_path):
    """Partition-spec evolution commits with merge-on-read delete
    files OUTSTANDING (r16): each delete row's partition key lives in
    the key space of the spec current at its commit, and the reader
    resolves that epoch from the file's commit version through
    pc_history — pre-respec deletes keep eliminating exactly their
    rows after the respec (and after a second respec), new deletes
    land under the new spec, a re-inserted key survives older
    tombstones via the sequence rule, and the fold converges."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    model = {k: (f"p{k % 3}", f"q{k % 2}", float(k)) for k in range(12)}
    snapshot_write(
        spark.createDataFrame(
            [(k, *model[k]) for k in model],
            "k int, p string, q string, v double",
        ),
        path, "p",
    )
    snapshot_delete(
        spark, spark.createDataFrame([(1,), (4,)], "k int"),
        path, "p", ["k"],
    )
    del model[1], model[4]

    # respec WITH the delete files outstanding — previously refused
    st = snapshot_evolve_partitioning(path, "q")
    assert st["new_version"] > st["old_version"]
    m = snapshot_manifest(path)
    assert m.get("pc_history") and any(
        "dv" in e for e in m["partitions"].values()
    )

    def read_state():
        return {
            r["k"]: (r["p"], r["q"], r["v"])
            for r in snapshot_read(spark, path).collect()
        }

    assert read_state() == model  # pre-respec deletes still apply

    # a MOR upsert RE-INSERTS a deleted key mid-migration: the old
    # tombstone (lower sequence) must not kill the new row, and the
    # upsert's own delete+append pair resolves to the appended row
    snapshot_upsert_mor(
        spark,
        spark.createDataFrame(
            [(1, "p1", "q1", -1.0, False), (7, "p1", "q1", -7.0, False)],
            "k int, p string, q string, v double, del boolean",
        ),
        path, "q", ["k"], delete_col="del",
    )
    model[1] = ("p1", "q1", -1.0)
    model[7] = ("p1", "q1", -7.0)
    assert read_state() == model

    # new deletes under the NEW spec compose with the old epoch's
    snapshot_delete(
        spark, spark.createDataFrame([(2,), (7,)], "k int"),
        path, "q", ["k"],
    )
    del model[2], model[7]
    assert read_state() == model

    # SECOND respec, still without folding — three live epochs
    snapshot_evolve_partitioning(path, {"b": ("bucket", 4, "k")})
    assert read_state() == model
    snapshot_delete(
        spark, spark.createDataFrame([(3,)], "k int"),
        path, {"b": ("bucket", 4, "k")}, ["k"],
    )
    del model[3]
    assert read_state() == model

    # fold: migration finishes, deletes fold, state identical
    snapshot_compact(
        spark, path, {"b": ("bucket", 4, "k")}, target_bytes=1 << 20
    )
    m = snapshot_manifest(path)
    assert not m.get("pc_history")
    assert all("dv" not in e for e in m["partitions"].values())
    assert read_state() == model


def test_migration_compact_recomputes_target_blooms(spark, tmp_path):
    """Deterministic pin of the bug the combined fuzz's bloom
    invariant flushed out (r16): a migration compact PULLS existing
    current-spec target entries into its rewrite set (ADVICE r14 #1)
    and moves old-spec rows INTO them — carrying the target's old
    digest verbatim would false-negative exactly those migrated-in
    keys, and a later merge's bloom consult would wrongly prune their
    partition (missed matches). Migration compacts must RECOMPUTE
    every rewritten partition's digest."""
    import base64

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_compact,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    # disjoint k-ranges per p-partition so the step-2 merge migrates
    # ONLY p0, leaving p1/p2 for the compact to migrate into the
    # then-existing q targets
    df = spark.createDataFrame(
        [(k, f"p{k // 10}", f"q{k % 2}", float(k)) for k in range(30)],
        "k int, p string, q string, v double",
    )
    snapshot_write(df, path, "p", key_bloom=["k"])
    snapshot_evolve_partitioning(path, "q")
    # lazy migration: k=1's home (p0, range 0..9) rewrites under q;
    # q0/q1 now exist as current-spec entries with digests covering
    # ONLY p0's former rows
    snapshot_merge(
        spark,
        spark.createDataFrame([(1, "p0", "q1", -1.0)],
                              "k int, p string, q string, v double"),
        path, "q", ["k"],
    )
    m = snapshot_manifest(path)
    assert {"q0", "q1"} <= set(m["partitions"])
    # bulk migration: p1/p2's rows move INTO the existing q0/q1
    snapshot_compact(spark, path, "q", target_bytes=1 << 20)
    m = snapshot_manifest(path)
    assert not m.get("pc_history")
    # every digest covers every live key of its partition, probed at
    # the live key type — the carried pre-migration digest would miss
    # all of p1/p2's keys (10..29)
    for qv in ("q0", "q1"):
        kb = m["partitions"][qv]["kb"]
        bits = int.from_bytes(base64.b64decode(kb["b"]), "little")
        keys = [r["k"] for r in
                snapshot_read(spark, path, partitions={qv}).collect()]
        assert any(k >= 10 for k in keys)  # migrated-in rows present
        pos = spark.createDataFrame([(k,) for k in keys], "k int").select(
            F.array(*[
                F.pmod(F.xxhash64(F.lit(i), F.col("k")), F.lit(kb["m"]))
                .cast("int")
                for i in range(kb["k"])
            ]).alias("ps")
        ).collect()
        want = {p for r in pos for p in r["ps"]}
        assert want <= {i for i in range(kb["m"]) if (bits >> i) & 1}, qv
    # and the merge probe finds a migrated-in key (the end-to-end
    # consequence a stale digest would break)
    st = snapshot_merge(
        spark,
        spark.createDataFrame([(15, "p1", "q1", -15.0)],
                              "k int, p string, q string, v double"),
        path, "q", ["k"],
    )
    assert st["partitions_rewritten"] == 1
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got[15] == -15.0 and got[1] == -1.0 and len(got) == 30


def test_mor_delete_broadcast_size_guard(spark, tmp_path, monkeypatch):
    """The MOR delete-apply join drops its broadcast hint above the
    outstanding-row bound (r17, VERDICT r16 #1): the manifest's
    per-entry dv.rows price the aggregated delete-key set BEFORE
    planning, so a lazily-maintained table whose outstanding deletes
    outgrow broadcast limits reads through a shuffled left-outer
    instead of failing at the 8 GB broadcast cap. Both regimes must
    return identical rows and keep the single delete-side scan."""
    from datawarehouse_group10_spark.sources import layout
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(10)]
        + [("b", i, float(i)) for i in range(10, 20)],
        "p string, k int, v double",
    )
    snapshot_write(df, path, "p")
    snapshot_delete(
        spark, spark.createDataFrame([(1,), (11,)], "k int"),
        path, "p", ["k"],
    )

    def dv_join_lines(out):
        plan = out._jdf.queryExecution().executedPlan().toString()
        return [
            line for line in plan.splitlines()
            if "Join" in line and "_dv_pkey" in line
        ], plan

    # below the bound: broadcast hash join
    out = snapshot_read(spark, path)
    small = {r["k"] for r in out.collect()}
    joins, plan = dv_join_lines(out)
    assert joins and all("Broadcast" in j for j in joins), plan

    # above the bound (forced to 0): the HINT is gone — Catalyst's own
    # size-based planning takes over (here the set is tiny, so pin the
    # shuffle plan by disabling auto-broadcast; at real scale the size
    # estimate itself rules broadcast out)
    monkeypatch.setattr(layout, "MOR_BROADCAST_MAX_ROWS", 0)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = snapshot_read(spark, path)
        big = {r["k"] for r in out.collect()}
        joins, plan = dv_join_lines(out)
        assert joins and not any("Broadcast" in j for j in joins), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert big == small == set(range(20)) - {1, 11}
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    dv_scans = sum(
        1 for line in opt.splitlines()
        if "Relation" in line and "_dv_pkey" in line
    )
    assert dv_scans == 1, opt


def test_mor_mid_migration_tolerates_null_foreign_spec_sources(
    spark, tmp_path
):
    """Rows with legal NULLs in a FOREIGN spec's source column survive
    the epoch-aware MOR paths (r17, ADVICE r16 #1): the write
    invariant only guarantees non-NULL sources for the spec a row was
    written under, so a post-evolution row with NULL in the
    pre-evolution partition column must (a) not crash the epoch-aware
    delete read, (b) not crash the old-home collects of
    snapshot_delete / snapshot_upsert_mor, and (c) never be DROPPED
    by the three-valued pk comparison (NULL epoch key matches no
    delete)."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_read,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    schema = "k int, q string, p string, v double"
    # written under spec q: q non-NULL everywhere (write invariant)
    snapshot_write(
        spark.createDataFrame(
            [(k, f"q{k % 2}", f"p{k % 3}", float(k)) for k in range(8)],
            schema,
        ),
        path, "q",
    )
    snapshot_evolve_partitioning(path, "p")  # q is now a foreign spec
    # outstanding delete so every read takes the epoch-aware branch
    snapshot_delete(
        spark, spark.createDataFrame([(0,)], "k int"), path, "p", ["k"]
    )
    # post-evolution rows with NULL in the OLD spec's source column —
    # legal data under spec p
    snapshot_upsert_mor(
        spark,
        spark.createDataFrame(
            [(100, None, "p0", 100.0, False),
             (101, None, "p1", 101.0, False)],
            schema + ", del boolean",
        ),
        path, "p", ["k"], delete_col="del",
    )
    got = {r["k"]: (r["q"], r["v"])
           for r in snapshot_read(spark, path).collect()}
    # (a)+(c): read works and the NULL-q rows are all alive
    assert got[100] == (None, 100.0) and got[101] == (None, 101.0)
    assert 0 not in got and len(got) == 9

    # (b): delete a NULL-q row (its old-home collect derives the q key
    # -> NULL -> owns no old entry) and update the other in one batch
    snapshot_upsert_mor(
        spark,
        spark.createDataFrame(
            [(100, None, "p0", 0.0, True),
             (101, None, "p1", -101.0, False)],
            schema + ", del boolean",
        ),
        path, "p", ["k"], delete_col="del",
    )
    got = {r["k"]: (r["q"], r["v"])
           for r in snapshot_read(spark, path).collect()}
    assert 100 not in got and got[101] == (None, -101.0)
    assert len(got) == 8
    # pure equality delete through snapshot_delete's collect too
    snapshot_delete(
        spark, spark.createDataFrame([(101,)], "k int"), path, "p", ["k"]
    )
    got = {r["k"] for r in snapshot_read(spark, path).collect()}
    assert got == set(range(1, 8))


def test_probe_scope_tolerates_null_partition_source_keys(
    spark, tmp_path
):
    """A probe batch with NULLs in a partition-source KEY column is a
    graceful partial/total no-op, not an error (r17, ADVICE r16 #2):
    the fused bounds+scope aggregation derives the scope keys
    NULL-tolerantly (a NULL key equality-matches nothing), and the
    all-NULL batch short-circuits to 'nothing matches' exactly as the
    pre-fusion two-job shape did."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    snapshot_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(6)], "k int, v double"
        ),
        path, "k",  # the partition column IS the key column
    )
    # all-NULL-key delete batch: graceful no-op
    st = snapshot_delete(
        spark, spark.createDataFrame([(None,)], "k int"), path, "k", ["k"]
    )
    assert st["partitions_touched"] == 0 and st["dv_rows"] == 0
    # mixed batch: the real key deletes, the NULL matches nothing
    snapshot_delete(
        spark, spark.createDataFrame([(None,), (2,)], "k int"),
        path, "k", ["k"],
    )
    assert {r["k"] for r in snapshot_read(spark, path).collect()} == (
        set(range(6)) - {2}
    )
    # merge probe with a NULL alongside real keys: upserts the real
    # rows, drops nothing
    snapshot_merge(
        spark,
        spark.createDataFrame([(3, -3.0)], "k int, v double").unionByName(
            spark.createDataFrame([(None, 9.9)], "k int, v double")
        ).filter(F.col("k").isNotNull()),
        path, "k", ["k"],
    )
    got = {r["k"]: r["v"] for r in snapshot_read(spark, path).collect()}
    assert got[3] == -3.0 and len(got) == 5


def test_dv_rows_counted_once_across_shared_old_homes(spark, tmp_path):
    """dv.rows prices each delete file ONCE across the commit's
    entries (r17, ADVICE r16 #3): mid-migration a delete leaf shared
    by several old-home entries used to add its full row count to
    EACH, inflating both the manifest totals that size the read-side
    broadcast guard and snapshot_delete's returned dv_rows."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_partitioning,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    # k=1 lives in p1, k=3 in p0 — both derive CURRENT-spec key q1,
    # so one q1 delete leaf (2 rows) is referenced by TWO old entries
    snapshot_write(
        spark.createDataFrame(
            [(k, f"p{k % 3}", f"q{k % 2}", float(k)) for k in range(12)],
            "k int, p string, q string, v double",
        ),
        path, "p",
    )
    snapshot_evolve_partitioning(path, "q")
    st = snapshot_delete(
        spark, spark.createDataFrame([(1,), (3,)], "k int"),
        path, "q", ["k"],
    )
    assert st["dv_rows"] == 2, st
    m = snapshot_manifest(path)
    total = sum(
        (e.get("dv") or {}).get("rows", 0)
        for e in m["partitions"].values()
    )
    assert total == 2, m["partitions"]
    # both owners carry the reference; rows just aren't double-priced
    owners = [k for k, e in m["partitions"].items() if "dv" in e]
    assert {"p0", "p1"} <= set(owners)
    got = {r["k"] for r in snapshot_read(spark, path).collect()}
    assert got == set(range(12)) - {1, 3}


def test_cdf_consume_materializes_each_window_once(spark, tmp_path):
    """The CDF consumer evaluates each window's diff EXACTLY ONCE
    (r17, VERDICT r16 #4): the applier references the window plan
    several times (insert/delete legs, their anti-join, then the
    landing merge's probe + write), so an uncached window re-ran the
    two-version diff per reference. run_snapshot_cdf_consume now pins
    the window into the block cache before handing it to the
    consumer, and releases it before the cursor advances."""
    from datawarehouse_group10_spark.sources import layout as L
    from datawarehouse_group10_spark.streaming import (
        run_snapshot_cdf_consume,
    )

    path = str(tmp_path / "src")
    L.snapshot_write(
        spark.createDataFrame(
            [(k, f"p{k % 2}", float(k)) for k in range(8)],
            "k int, p string, v double",
        ),
        path, "p",
    )
    L.snapshot_merge(
        spark,
        spark.createDataFrame([(1, "p1", -1.0)], "k int, p string, v double"),
        path, "p", ["k"],
    )
    L.snapshot_merge(
        spark,
        spark.createDataFrame([(2, "p0", -2.0)], "k int, p string, v double"),
        path, "p", ["k"],
    )

    import datawarehouse_group10_spark.streaming as S

    diff_calls = []
    real_diff = L.snapshot_diff

    def counting_diff(*a, **kw):
        diff_calls.append(a[2:4])
        return real_diff(*a, **kw)

    seen = []

    def consumer(changes, v_from, v_to):
        # the handed window is CACHED and already MATERIALIZED — the
        # consumer's N references all read blocks, not the diff plan
        assert changes.storageLevel.useMemory, "window not persisted"
        # reference the window several times, as the applier does
        n_ins = changes.filter(F.col("_change") == "insert").count()
        n_del = changes.filter(F.col("_change") == "delete").count()
        seen.append((v_from, v_to, n_ins, n_del, changes))

    import unittest.mock as mock

    with mock.patch.object(L, "snapshot_diff", counting_diff):
        # patch the name the consumer resolves (it imports inside the
        # function body from ..sources.layout)
        st = run_snapshot_cdf_consume(
            spark, path, consumer, str(tmp_path / "cur"),
            start_version=1,
        )
    assert st["delivered"] == 2
    # one snapshot_diff PLAN per window — no validate re-diff
    assert diff_calls == [(1, 2), (2, 3)]
    # each update window: delete(old)+insert(new) on one key
    assert [(s[0], s[1], s[2], s[3]) for s in seen] == [
        (1, 2, 1, 1), (2, 3, 1, 1)
    ]
    # released after the window: nothing left pinned
    for s in seen:
        assert s[4].storageLevel.useMemory is False, "window leaked"


def test_drop_delete_key_via_automatic_scoped_fold(spark, tmp_path):
    """Dropping the delete-key column with outstanding merge-on-read
    delete files unblocks via a SCOPED fold of only the
    delete-carrying entries (r17, VERDICT r16 #7): pass spark= to
    snapshot_evolve_schema and it runs snapshot_compact(partitions=
    <carriers>) automatically — partitions without delete refs keep
    their existing data roots (no full-table rewrite); without spark=
    the refusal names the exact scoped-fold command."""
    import pytest as _pytest

    from datawarehouse_group10_spark.sources.layout import (
        snapshot_delete,
        snapshot_evolve_schema,
        snapshot_manifest,
        snapshot_read,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    # k-ranges disjoint per partition: deletes of k=1,12 touch ONLY
    # p0 and p1
    snapshot_write(
        spark.createDataFrame(
            [(k, f"p{k // 10}", float(k)) for k in range(60)],
            "k int, p string, v double",
        ),
        path, "p",
    )
    snapshot_delete(
        spark, spark.createDataFrame([(1,), (12,)], "k int"),
        path, "p", ["k"],
    )
    m = snapshot_manifest(path)
    carriers = sorted(k for k, e in m["partitions"].items() if "dv" in e)
    assert carriers == ["p0", "p1"]

    # without spark=: refused, naming the scoped command + carriers
    with _pytest.raises(ValueError) as exc:
        snapshot_evolve_schema(path, drop=["k"])
    msg = str(exc.value)
    assert "snapshot_compact" in msg and "'p0'" in msg and "'p1'" in msg
    assert "scoped fold automatically" in msg

    # with spark=: the scoped fold runs, then the drop commits
    st = snapshot_evolve_schema(path, drop=["k"], spark=spark)
    m = snapshot_manifest(path)
    assert m.get("dv_key") is None and m.get("dv_key_ids") is None
    assert all("dv" not in e for e in m["partitions"].values())
    # only the carriers were rewritten — the other 4 entries still
    # reference their original v1 data directories
    roots = {k: e["root"] for k, e in m["partitions"].items()}
    assert all(roots[p] == "v1" for p in ("p2", "p3", "p4", "p5")), roots
    assert all(roots[p] != "v1" for p in ("p0", "p1")), roots
    out = snapshot_read(spark, path)
    assert "k" not in out.columns
    rows = out.collect()
    assert len(rows) == 58 and st["new_version"] > st["old_version"]
    vals = {r["v"] for r in rows}
    assert 1.0 not in vals and 12.0 not in vals and 13.0 in vals


def test_snapshot_diff_single_pass_plan(spark, tmp_path):
    """snapshot_diff computes BOTH change directions in one signed
    aggregation (r17): the old exceptAll pair planned two separate
    union+aggregate subtrees, scanning and shuffling each side's
    changed partitions twice. The optimized plan must now hold exactly
    ONE scan per side (two parquet relations total), and the multiset
    semantics must match exceptAll's — including duplicate rows, whose
    NET multiplicity change is what's emitted."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_diff,
        snapshot_merge,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
        "p string, k int, v double",
    )
    snapshot_write(base, path, "p")
    # v2: k=1 drops one duplicate copy (2 -> 1), k=2 updates, b
    # untouched (pruned from the diff entirely)
    snapshot_merge(
        spark,
        spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, -2.0)], "p string, k int, v double"
        ),
        path, "p", ["k"],
    )
    d = snapshot_diff(spark, path, 1, 2, "p")
    got = sorted((r["k"], r["v"], r["_change"]) for r in d.collect())
    assert got == [
        (1, 1.0, "delete"),          # net multiplicity 2 -> 1
        (2, -2.0, "insert"),
        (2, 2.0, "delete"),
    ], got
    plan = d._jdf.queryExecution().optimizedPlan().toString()
    scans = sum(
        1 for line in plan.splitlines() if "Relation" in line and "parquet" in line
    )
    assert scans == 2, plan


def test_snapshot_diff_sees_mor_insert_only_partitions(spark, tmp_path):
    """r18 (found by the COW-vs-MOR probe, OPTIMIZATION_r18.md §3): a
    snapshot_upsert_mor commit can touch a partition with APPEND refs
    alone — a pure insert matches no existing key, so no delete file
    lands there. _diff_manifests' change signature covered (root, dv
    files) only, so snapshot_diff silently skipped such partitions and
    a CDF consumer dropped the inserts. The signature now includes the
    ap file list; the diff must carry BOTH the dv-touched update and
    the ap-only insert."""
    from datawarehouse_group10_spark.sources.layout import (
        snapshot_diff,
        snapshot_upsert_mor,
        snapshot_write,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 2.0), ("b", 3, 3.0)],
        "p string, k int, v double",
    )
    snapshot_write(base, path, "p")
    # partition a: update (dv + ap); partition b: PURE INSERT (ap only)
    snapshot_upsert_mor(
        spark,
        spark.createDataFrame(
            [("a", 1, -1.0), ("b", 4, 4.0)], "p string, k int, v double"
        ),
        path, "p", ["k"],
    )
    d = snapshot_diff(spark, path, 1, 2, "p")
    got = sorted((r["p"], r["k"], r["v"], r["_change"]) for r in d.collect())
    assert got == [
        ("a", 1, -1.0, "insert"),
        ("a", 1, 1.0, "delete"),
        ("b", 4, 4.0, "insert"),
    ], got
