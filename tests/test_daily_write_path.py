"""The daily write path's driver-side pieces: the pyarrow run ledger
(parity with the Spark-written rows it replaces), the extract validity
filter (parity with Spark's predicate), the datamart's failure-atomic
swap, and a budget on the Spark jobs of one steady day."""

from __future__ import annotations

import datetime
import os
import time

import pytest
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.pipeline import ledger as ledger_mod
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger

D1, D2 = datetime.date(2025, 3, 10), datetime.date(2025, 3, 11)


def _spark_append(spark, path, rows):
    """A ledger row written the way the ledger wrote them before it
    moved to the driver: a one-row Spark parquet append."""
    spark.createDataFrame(
        [ledger_mod._fill(r) for r in rows], schemas.RUN_LEDGER
    ).write.mode("append").parquet(path)


@pytest.fixture()
def local_tz(monkeypatch):
    """A non-UTC local time zone: a naive datetime then names a
    different instant as local time than as UTC."""
    monkeypatch.setenv("TZ", "Asia/Ho_Chi_Minh")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _row(log_id, process, day, status, **kw):
    return {"log_id": log_id, "process": process, "run_date": day, "status": status, **kw}


def test_ledger_mixed_spark_and_driver_rows_read_identically(spark, tmp_path, local_tz):
    assert time.localtime().tm_gmtoff != 0
    t0 = datetime.datetime(2025, 3, 10, 2, 0, 0, 123456)
    t1 = datetime.datetime(2025, 3, 10, 2, 5, 30, 654321)
    rows = [
        _row(10, "extract_a", D1, "Running", start_time=t0),
        _row(11, "extract_a", D1, "Success", rows_processed=5, file_path="/b",
             start_time=t0, end_time=t1, duration_seconds=330),
        _row(20, "extract_b", D1, "Running", start_time=t0),
        _row(21, "extract_b", D1, "Failed", error_message="boom", start_time=t0, end_time=t1),
        _row(30, "extract_b", D2, "Running", start_time=t1),
    ]
    old_path, new_path, mixed_path = (str(tmp_path / n) for n in ("old", "new", "mixed"))
    _spark_append(spark, old_path, rows)
    new, mixed = RunLedger(spark, new_path), RunLedger(spark, mixed_path)
    for i, r in enumerate(rows):
        new._append([r])
        if i % 2:
            mixed._append([r])
        else:
            _spark_append(spark, mixed_path, [r])
    old = RunLedger(spark, old_path)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    want = rows_of(old._read())
    # the timestamps are the local times written, as Spark stores them
    assert [(r[6], r[7]) for r in want][1] == (t0, t1)
    enabled = spark.createDataFrame(
        [("extract_a",), ("extract_b",), ("extract_c",)], "process string"
    )
    for led in (new, mixed):
        assert rows_of(led._read()) == want
        assert rows_of(led.latest_status()) == rows_of(old.latest_status())
        assert rows_of(led.success_rate_view()) == rows_of(old.success_rate_view())
        for process in ("extract_a", "extract_b"):
            for day in (D1, D2):
                assert led.is_done(process, day) == old.is_done(process, day)
        for day in (D1, D2):
            assert rows_of(led.runnable(enabled, day)) == rows_of(old.runnable(enabled, day))
    assert old.is_done("extract_a", D1) and not old.is_done("extract_b", D1)


def test_ledger_open_close_timestamps_match_spark_path(spark, tmp_path, local_tz):
    """`open_run`/`close_run` stamp naive local `now()`; the stored
    instants read back as the same local times a Spark append stores."""
    led = RunLedger(spark, str(tmp_path / "ledger"))
    start = datetime.datetime.now().replace(microsecond=0)
    lid = led.open_run("p", D1)
    led.close_run(lid, "p", D1, "Success", start_time=start)
    got = {r["status"]: r for r in led._read().collect()}
    assert got["Success"]["start_time"] == start
    assert got["Success"]["end_time"] >= start
    assert got["Running"]["start_time"] - start < datetime.timedelta(minutes=5)
    ref = str(tmp_path / "ref")
    _spark_append(spark, ref, [got["Success"].asDict()])
    assert RunLedger(spark, ref)._read().collect() == [got["Success"]]


def test_ledger_readers_skip_a_crashed_append(spark, tmp_path):
    path = tmp_path / "ledger"
    led = RunLedger(spark, str(path))
    led.close_run(led.open_run("p", D1), "p", D1, "Success")
    # what a crash between write and rename leaves behind
    (path / ".part-1-dead.parquet.tmp").write_bytes(b"PAR1 truncated")
    (path / ".part-2-dead.parquet").write_bytes(b"PAR1 truncated")
    assert led.is_done("p", D1)
    assert led._read().count() == 2
    assert [r["status"] for r in led.latest_status().collect()] == ["Success"]


def test_ledger_prune_leaves_one_file_of_kept_rows(spark, tmp_path, local_tz):
    path = str(tmp_path / "ledger")
    led = RunLedger(spark, path)
    t0 = datetime.datetime(2025, 3, 11, 2, 0, 0, 250)
    _spark_append(spark, path, [_row(1, "old", D1, "Success", start_time=t0)])
    _spark_append(spark, path, [_row(2, "old", D2, "Success", start_time=t0, end_time=t0)])
    for d in (D1, D2):
        led.close_run(led.open_run("p", d), "p", d, "Success", rows_processed=3)
    kept_before = sorted(tuple(r) for r in led._read().filter(F.col("run_date") >= D2).collect())
    assert led.prune(keep_days=0, today=D2) == 3
    assert len(led._files()) == 1
    assert sorted(tuple(r) for r in led._read().collect()) == kept_before
    assert led.is_done("p", D2) and not led.is_done("p", D1)
    # and appends after a prune land beside the compacted file
    led.open_run("q", D2)
    assert len(led._files()) == 2 and led._read().count() == 4


def test_ledger_same_instant_appends_never_share_a_file(spark, tmp_path, monkeypatch):
    """Two writers (two processes in production) appending within the
    same clock tick still commit two files; no row is lost."""
    path = str(tmp_path / "ledger")
    monkeypatch.setattr(ledger_mod.time, "time_ns", lambda: 1_700_000_000_000_000_000)
    a, b = RunLedger(spark, path), RunLedger(spark, path)
    a.open_run("a", D1)
    b.open_run("b", D1)
    a.open_run("a", D1)
    assert len(a._files()) == 3
    assert sorted(r["process"] for r in b._read().collect()) == ["a", "a", "b"]


def _counting_opens(monkeypatch) -> list:
    """The list of parquet files opened with pyarrow from now on."""
    import pyarrow.parquet as pq

    opened, real = [], pq.ParquetFile

    def counting(f, *a, **k):
        opened.append(f)
        return real(f, *a, **k)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    return opened


def test_ledger_gates_open_only_files_new_since_the_last_gate(spark, tmp_path, monkeypatch):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    opened = _counting_opens(monkeypatch)
    led.close_run(led.open_run("a", D1), "a", D1, "Success")
    assert led.is_done("a", D1) and not led.is_done("b", D1)
    assert len(opened) == 2
    # a second writer (another process) appends; the gate reads only its files
    other = RunLedger(spark, str(tmp_path / "ledger"))
    other.close_run(other.open_run("b", D1), "b", D1, "Success")
    assert led.is_done("b", D1) and led.is_done("a", D1)
    assert len(opened) == 4 and len(set(opened)) == 4


def test_ledger_gates_after_a_prune(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "ledger")
    led = RunLedger(spark, path)
    for d in (D1, D2):
        led.close_run(led.open_run("p", d), "p", d, "Success")
    assert led.is_done("p", D1) and led.is_done("p", D2)
    RunLedger(spark, path).prune(keep_days=0, today=D2)  # another process prunes
    opened = _counting_opens(monkeypatch)
    assert not led.is_done("p", D1) and led.is_done("p", D2)
    assert opened == led._files()  # the compacted file, once; removed files forgotten
    assert list(led._gate_rows) == led._files()
    led.prune(keep_days=0, today=D2 + datetime.timedelta(days=1))
    assert not led.is_done("p", D2) and len(led._gate_rows) == 1


def test_extract_filter_matches_spark_predicate(spark):
    """The driver-side validity filter keeps exactly the values Spark's
    `isNotNull() & trim(c) != ''` keeps (Spark's trim strips only the
    space U+0020)."""
    from data_warehouse_nhom8_spark.pipeline.extract import _present

    values = [" ", "", None, "  ", "\t", "\xa0", "　", "\n", " a ", "a", "\t ", " \n "]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, v string")
    kept_by_spark = {
        r["i"] for r in df.filter(F.col("v").isNotNull() & (F.trim("v") != "")).collect()
    }
    assert {i for i, v in enumerate(values) if _present(v)} == kept_by_spark
    assert {values[i] for i in kept_by_spark} == {"\t", "\xa0", "　", "\n", " a ", "a", "\t ", " \n "}


def test_ingest_source_counts_and_writes_only_valid_rows(spark, tmp_path):
    from data_warehouse_nhom8_spark.pipeline.extract import ingest_source, read_day

    def conn(source_id, d):
        return [
            {"job_id": jid, "job_title": title, "extracted_date": d.isoformat()}
            for jid, title in [("1", "Dev"), (" ", "Ghost"), ("2", ""), (None, "X"), ("\t", "Tab")]
        ]

    led = RunLedger(spark, str(tmp_path / "ledger"))
    n = ingest_source(spark, conn, "topcv_jobs", D1, str(tmp_path / "bronze"), led)
    assert n == 2
    bronze = read_day(spark, str(tmp_path / "bronze"), D1).collect()
    assert sorted(r["job_title"] for r in bronze) == ["Dev", "Tab"]
    assert {r["job_id"] for r in bronze} == {"\t", "1"}
    assert [r["rows_processed"] for r in led._read().collect() if r["status"] == "Success"] == [2]


def test_datamart_rebuild_failure_keeps_previous_tables(spark, tmp_path, monkeypatch):
    """A rebuild whose write fails partway leaves every previous table
    readable with its old rows (the overwrite used to delete a table's
    directory before writing it)."""
    import pyarrow.parquet as pq

    from data_warehouse_nhom8_spark.pipeline.datamart import (
        DEFAULT_SPECS,
        rebuild_datamart,
        serve_datamart,
    )

    cols = [s.group_by for s in DEFAULT_SPECS]
    schema = ", ".join(f"{c} string" for c in cols)
    old_fact = spark.createDataFrame([("A", "HN", "10", "1"), ("A", "HCM", "10", "2")], schema)
    new_fact = spark.createDataFrame([("B", "DN", "20", "3")], schema)
    dm = str(tmp_path / "dm")
    assert rebuild_datamart(old_fact, dm)["agg_job_by_company"] == 1

    def tables():
        return {
            s.table_name: sorted(tuple(r) for r in spark.read.parquet(f"{dm}/{s.table_name}").collect())
            for s in DEFAULT_SPECS
        }

    before = tables()
    assert before["agg_job_by_location"] == [("HCM", 1), ("HN", 1)]
    real_write, calls = pq.write_table, []

    def failing_write(*a, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise OSError("disk full")
        return real_write(*a, **kw)

    monkeypatch.setattr(pq, "write_table", failing_write)
    with pytest.raises(OSError, match="disk full"):
        rebuild_datamart(new_fact, dm)
    monkeypatch.setattr(pq, "write_table", real_write)
    assert tables() == before
    assert all(df is not None for df in serve_datamart(spark, dm).values())
    assert sorted(os.listdir(dm)) == sorted(s.table_name for s in DEFAULT_SPECS)
    # the next rebuild succeeds and replaces every table
    rebuild_datamart(new_fact, dm)
    assert tables()["agg_job_by_company"] == [("B", 1)]


# ------------------------------------------------------- daily job budget

# Spark jobs of one steady ~200-listing day through run_daily_pipeline
# on the shared session. It only ratchets down.
STEADY_DAY_JOB_BUDGET = 26


def _listings(day: datetime.date, ids: range, version: int) -> dict:
    out: dict = {"topcv_jobs": [], "jobsgo_jobs": []}
    for i in ids:
        src = "topcv_jobs" if i % 2 else "jobsgo_jobs"
        out[src].append({
            "source_id": src, "job_id": f"{src[:2]}-{i}", "job_title": f"Dev {i}",
            "company_name": f"C{i % 7}",
            "salary": "10 - 15 triệu" if i % 4 or not version else "Thỏa thuận",
            "location": ("HN", "HCM", "DN")[i % 3], "experience_required": f"{i % 4} năm",
            # posted on D1 - 1 whichever day lists it: no posted_time churn
            "job_type": "", "posted_time": f"{(day - D1).days + 1} ngày trước",
            "tags": "", "job_url": f"https://x/{i}",
            "company_logo": "", "extracted_date": day.isoformat(),
            "extracted_timestamp": f"{day.isoformat()} 02:00:00",
        })
    return out


def test_daily_steady_day_spark_job_budget(spark, tmp_path):
    from data_warehouse_nhom8_spark.pipeline.config import EngineConfig
    from data_warehouse_nhom8_spark.pipeline.daily import run_daily_pipeline

    cfg = EngineConfig(**{
        f"{n}_path": str(tmp_path / n)
        for n in ("bronze", "staging", "warehouse", "datamart", "ledger")
    })
    days = {D1: _listings(D1, range(200), 0), D2: _listings(D2, range(50, 250), 1)}
    conns = {s: (lambda s_, d, s=s: days[d][s]) for s in ("topcv_jobs", "jobsgo_jobs")}
    run_daily_pipeline(spark, cfg, conns, D1)
    sc, group = spark.sparkContext, f"daily-budget-{time.time_ns()}"
    sc.setJobGroup(group, "steady daily day")
    try:
        report = run_daily_pipeline(spark, cfg, conns, D2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report["extract"] == {"topcv_jobs": 100, "jobsgo_jobs": 100}
    assert report["staging_rows"] == 250
    # every changed salary expires one version: 250 live rows + those
    assert report["warehouse_rows"] == 250 + len(range(52, 200, 4))
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    print(f"steady day: {jobs} Spark jobs")
    assert 0 < jobs <= STEADY_DAY_JOB_BUDGET


# ------------------------------------------------- the daily SCD2 merge

WH_COLS = (
    "job_id string, job_title string, company_name string, salary string, "
    "location string, experience_required string, posted_time string, "
    "job_url string, extracted_date date"
)


def _staging_rows(day: datetime.date, ids, salary: str) -> list[tuple]:
    return [(f"j{day.day}-{i}", f"Dev {i}", "ACME", salary, "HN", "2y", "t", f"u{i}", day)
            for i in ids]


def _warehouse_day1(spark, tmp_path):
    """A committed staging snapshot holding day 1 (keys 0-5) and day 2
    (keys 0-1 unchanged, 2-3 with a changed salary, 6-7 new), and a
    bucketed warehouse loaded with day 1. Returns (load, staging path,
    warehouse path): `load` runs one day through
    `load_day_to_warehouse` and returns (the read-back, the DataFrame
    written)."""
    from data_warehouse_nhom8_spark.pipeline.warehouse_load import load_day_to_warehouse
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_overwrite, snapshot_read

    stg_path, wh_path = str(tmp_path / "staging"), str(tmp_path / "warehouse")
    rows = (_staging_rows(D1, range(6), "10tr") + _staging_rows(D2, range(2), "10tr")
            + _staging_rows(D2, range(2, 4), "12tr") + _staging_rows(D2, range(6, 8), "9tr"))
    snapshot_overwrite(spark.createDataFrame(rows, WH_COLS), stg_path)
    staging = snapshot_read(spark, stg_path)
    written = []

    def persist(snapshot):
        written.append(snapshot)
        snapshot_overwrite(
            snapshot, wh_path,
            bucket_by=None if os.path.exists(wh_path) else ["__nk_job_title", "__nk_company_name"],
            n_buckets=4,
        )
        return snapshot_read(spark, wh_path)

    def load(day, ledger=None):
        wh = snapshot_read(spark, wh_path)
        out = load_day_to_warehouse(staging, wh, day, ledger=ledger, persist=persist,
                                    keep_norm_keys=True)
        return out, written[-1]

    load(D1)
    return load, stg_path, wh_path


def test_steady_merge_scans_the_warehouse_once_and_staging_never(spark, tmp_path):
    from data_warehouse_nhom8_spark.plans.doctor import _iter_plan_nodes

    load, stg_path, wh_path = _warehouse_day1(spark, tmp_path)
    _wh, written = load(D2)
    roots = [
        node.relation().location().rootPaths().toString()
        for node in _iter_plan_nodes(written._jdf.queryExecution().executedPlan())
        if node.getClass().getSimpleName() == "FileSourceScanExec"
    ]
    assert sum(wh_path in r for r in roots) == 1, roots
    assert sum(stg_path in r for r in roots) == 0, roots


def test_observed_ledger_counts_equal_merge_metrics_and_on_a_crash_rerun(
    spark, tmp_path, monkeypatch
):
    from data_warehouse_nhom8_spark.pipeline import warehouse_load as wl

    load, _stg, _wh = _warehouse_day1(spark, tmp_path)
    observed, real, merge_metrics = [], wl._observed, wl.merge_metrics

    def recording(obs):
        observed.append(real(obs))
        return observed[-1]

    monkeypatch.setattr(wl, "_observed", recording)
    monkeypatch.setattr(wl, "merge_metrics", lambda *a: pytest.fail("counted in a second pass"))
    ledger = RunLedger(spark, str(tmp_path / "ledger"))

    # crash-rerun: the day-2 snapshot committed, its Success row never written
    wh, _ = load(D2)
    first = merge_metrics(wh, D2)
    assert first == {"expired_today": 2, "inserted_today": 4, "live_total": 8}
    rerun, _ = load(D2, ledger)
    want = merge_metrics(rerun, D2)
    assert observed == [first, want] and want == first
    assert sorted(map(tuple, rerun.collect())) == sorted(map(tuple, wh.collect()))
    [done] = [r for r in ledger._read().collect() if r["status"] == "Success"]
    assert done["rows_processed"] == want["expired_today"] + want["inserted_today"]


def test_merge_releases_its_materialized_increment(spark, tmp_path):
    def persisted() -> int:
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    before = persisted()
    load, _stg, _wh = _warehouse_day1(spark, tmp_path)
    one_day = persisted()
    load(D2)
    assert persisted() <= one_day <= before


def test_observed_counts_are_none_when_spark_reports_none(spark):
    """The ledger then falls back to `merge_metrics`: for an observation
    no action ran, and for one adaptive execution dropped (the observed
    rows all filtered out upstream of a shuffle that came back empty)."""
    from pyspark.sql import Observation, Window

    from data_warehouse_nhom8_spark.pipeline.warehouse_load import _metric_cols, _observed

    unrun = Observation()
    spark.range(3).observe(unrun, F.count(F.lit(1)).alias("n"))
    assert _observed(unrun) is None
    dropped = Observation()
    rows = spark.createDataFrame([(D1, D1)], "expired date, extracted_date date")
    out = (
        rows.observe(dropped, *_metric_cols(D1))
        .filter("expired > extracted_date")
        .withColumn("r", F.row_number().over(Window.partitionBy("expired").orderBy("extracted_date")))
    )
    assert out.collect() == [] and _observed(dropped) is None
