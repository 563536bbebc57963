"""t3-tier golden pipeline tests (SURVEY.md §5): partitioned ingest →
staging transform → upsert → datamart aggregates; ledger gates."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.pipeline.datamart import (
    DEFAULT_SPECS,
    build_aggregate,
    build_all_shared_scan,
)
from data_warehouse_nhom8_spark.pipeline.date_dim import build_date_dim
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
from data_warehouse_nhom8_spark.pipeline.staging import (
    transform_raw_jobs,
    upsert_staging,
)
from data_warehouse_nhom8_spark.sources import (
    read_partitioned_csv,
    write_partitioned_csv,
)

RAW_ROWS = [
    # source_id, job_id, title, company, salary, location, exp, job_type,
    # posted_time, tags, url, logo, extracted_date, extracted_ts
    ("topcv_jobs", "t1", "Dev Python", "ACME", "10 - 15 triệu", "Hà Nội",
     "2 năm", "", "hôm qua", "python,sql", "https://x/t1", "l1",
     "2025-03-10", "2025-03-10 02:00:00"),
    ("topcv_jobs", "t2", "Data Engineer", "ACME", "Thỏa thuận", "HCM",
     "Không yêu cầu", "", "3 ngày trước", "", "https://x/t2", "l2",
     "2025-03-10", "2025-03-10 02:00:00"),
    ("jobsgo_jobs", "g1", "QA", "Beta Corp", "Tới 20 triệu", "Đà Nẵng",
     "1 năm", "Full-time", "2 tuần trước", "", "https://x/g1", "l3",
     "2025-03-10", "2025-03-10 02:05:00"),
    # invalid: empty job_id -> dropped by validity filter
    ("topcv_jobs", "", "Ghost", "None Inc", "", "", "", "", "", "", "", "",
     "2025-03-10", "2025-03-10 02:00:00"),
]


@pytest.fixture()
def raw_dir(spark, tmp_path):
    df = spark.createDataFrame(RAW_ROWS, schemas.RAW_JOBS_CSV).withColumn(
        "source", F.col("source_id")
    ).withColumn("date", F.col("extracted_date"))
    out = str(tmp_path / "raw")
    write_partitioned_csv(df, out)
    return out


def test_bronze_roundtrip_and_pruning(spark, raw_dir):
    back = read_partitioned_csv(spark, raw_dir, schemas.RAW_JOBS_CSV)
    assert back.count() == 4
    pruned = read_partitioned_csv(spark, raw_dir, schemas.RAW_JOBS_CSV, source="topcv_jobs")
    assert pruned.count() == 3
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan, plan


def test_staging_transform_golden(spark, raw_dir):
    raw = read_partitioned_csv(spark, raw_dir, schemas.RAW_JOBS_CSV)
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")
    silver = transform_raw_jobs(raw, dim)
    rows = {r["job_id"]: r for r in silver.collect()}
    assert set(rows) == {"t1", "t2", "g1"}  # ghost row dropped
    t1 = rows["t1"]
    assert (t1["salary_min"], t1["salary_max"]) == (10_000_000, 15_000_000)
    assert t1["posted_time"] == "2025-03-09"          # hôm qua
    assert rows["t2"]["posted_time"] == "2025-03-07"  # 3 ngày trước
    assert rows["g1"]["posted_time"] == "2025-02-24"  # 2 tuần trước
    assert (rows["t2"]["salary_min"], rows["t2"]["salary_max"]) == (0, 0)
    # date_id = date_sk of 2025-03-10 (10th row of the March dim)
    assert t1["date_id"] == 10


@pytest.mark.parametrize(
    "start,end", [("2024-02-27", "2024-03-02"), ("2025-03-10", "2025-03-10")]
)
def test_date_dim_sk_equals_row_number_form(spark, start, end):
    """date_sk (day offset + 1) is the 1-based row number of the
    sequence, across 29 February and for a one-day range."""
    from pyspark.sql import Window

    dim = build_date_dim(spark, start, end)
    ranked = dim.select(
        "full_date",
        "date_sk",
        F.row_number().over(Window.orderBy("full_date")).cast("long").alias("rn"),
    ).collect()
    ranked.sort(key=lambda r: r["full_date"])
    assert [r["date_sk"] for r in ranked] == [r["rn"] for r in ranked]
    assert ranked[0]["date_sk"] == 1 and ranked[0]["full_date"].isoformat() == start
    assert ranked[-1]["full_date"].isoformat() == end
    assert dim.schema["date_sk"].dataType.simpleString() == "bigint"


def test_staging_upsert_rerun_identical(spark, raw_dir):
    raw = read_partitioned_csv(spark, raw_dir, schemas.RAW_JOBS_CSV)
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")
    silver = transform_raw_jobs(raw, dim)
    snap1 = upsert_staging(None, silver)
    snap2 = upsert_staging(snap1, silver)  # same day rerun
    assert sorted(map(tuple, snap1.collect())) == sorted(map(tuple, snap2.collect()))


def test_datamart_goldens(spark, raw_dir):
    raw = read_partitioned_csv(spark, raw_dir, schemas.RAW_JOBS_CSV)
    dim = build_date_dim(spark, "2025-03-01", "2025-03-31")
    fact = upsert_staging(None, transform_raw_jobs(raw, dim))
    by_company = {
        r["company_name"]: r["total_jobs"]
        for r in build_aggregate(fact, DEFAULT_SPECS[0]).collect()
    }
    assert by_company == {"ACME": 2, "Beta Corp": 1}
    shared = build_all_shared_scan(fact)
    by_company2 = {
        r["company_name"]: r["total_jobs"]
        for r in shared["agg_job_by_company"].collect()
    }
    assert by_company2 == by_company
    by_loc = {r["location"]: r["total_jobs"] for r in shared["agg_job_by_location"].collect()}
    assert by_loc == {"Hà Nội": 1, "HCM": 1, "Đà Nẵng": 1}


def test_ledger_skip_if_done_and_latest(spark, tmp_path):
    led = RunLedger(spark, str(tmp_path / "ledger"))
    d = datetime.date(2025, 3, 10)
    assert not led.is_done("extract_topcv", d)
    lid = led.open_run("extract_topcv", d)
    assert not led.is_done("extract_topcv", d)  # Running != done
    led.close_run(lid, "extract_topcv", d, "Success", rows_processed=42)
    assert led.is_done("extract_topcv", d)
    latest = led.latest_status().collect()
    assert len(latest) == 1 and latest[0]["status"] == "Success"
    # runnable complement (U2)
    enabled = spark.createDataFrame(
        [("extract_topcv",), ("extract_jobsgo",)], "process string"
    )
    todo = [r["process"] for r in led.runnable(enabled, d).collect()]
    assert todo == ["extract_jobsgo"]


def test_corpus_prep_job_end_to_end(spark, tmp_path):
    """The corpus-prep production job: atomic versioned outputs,
    consistent cross-table counts, ledger skip-if-done on rerun, and
    a Failed run leaving the previous outputs live."""
    import datetime

    from data_warehouse_nhom8_spark.pipeline import corpus_prep
    from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
    from data_warehouse_nhom8_spark.sources import Catalog
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read
    from tests.conftest import SF_DIR

    docs = Catalog(spark, SF_DIR).documents
    out = str(tmp_path / "corpus_out")
    ledger = RunLedger(spark, str(tmp_path / "ledger"))
    day = datetime.date(2026, 1, 1)

    report = corpus_prep.run_corpus_prep(spark, docs, out, day, ledger)
    assert report["corpus_rows"] > 0
    corpus = snapshot_read(spark, f"{out}/corpus")
    chunks = snapshot_read(spark, f"{out}/chunks")
    summary = snapshot_read(spark, f"{out}/summary")
    assert corpus.count() == report["corpus_rows"]
    # every corpus doc chunked at least once; chunk ids unique per doc
    assert chunks.select("doc_id").distinct().count() == report["corpus_rows"]
    assert chunks.groupBy("doc_id", "chunk_id").count().filter("count > 1").count() == 0
    # summary totals reconcile with the corpus
    from pyspark.sql import functions as F

    agg = summary.agg(F.sum("n_docs"), F.sum("sum_tokens")).head()
    cagg = corpus.agg(F.count(F.lit(1)), F.sum("n_tokens")).head()
    assert (agg[0], agg[1]) == (cagg[0], cagg[1])
    # rerun same day: ledger-gated no-op
    assert corpus_prep.run_corpus_prep(spark, docs, out, day, ledger) == {"skipped": True}

    # failed run on day 2 (poisoned input) leaves day-1 outputs live
    day2 = datetime.date(2026, 1, 2)
    poisoned = docs.select(F.col("doc_id"), F.col("doc_id").cast("string").alias("wrong"))
    try:
        corpus_prep.run_corpus_prep(spark, poisoned, out, day2, ledger)
        raised = False
    except Exception:
        raised = True
    assert raised
    assert not ledger.is_done(corpus_prep.PROCESS, day2)
    assert snapshot_read(spark, f"{out}/corpus").count() == report["corpus_rows"]


def test_csv_quarantine_splits_malformed_rows(spark, tmp_path):
    """PERMISSIVE ingest: schema-valid rows come back typed, malformed
    rows land in quarantine with their original text, and no input row
    is lost (valid + quarantine == input lines)."""
    from pyspark.sql import types as T

    from data_warehouse_nhom8_spark.sources.csv_partitioned import (
        read_csv_with_quarantine,
    )

    p = tmp_path / "raw"
    p.mkdir()
    lines = [
        "job_id,salary,posted",
        "1,1000.5,2024-01-01",
        "2,not_a_number,2024-01-02",      # salary fails DoubleType
        "3,300.25,2024-01-03",
        "4,42.0,definitely-not-a-date",   # posted fails DateType
    ]
    (p / "part.csv").write_text("\n".join(lines) + "\n")
    schema = T.StructType(
        [
            T.StructField("job_id", T.LongType()),
            T.StructField("salary", T.DoubleType()),
            T.StructField("posted", T.DateType()),
        ]
    )
    res = read_csv_with_quarantine(spark, str(p), schema)
    valid, quarantine = res.valid, res.quarantine
    v = {r.job_id for r in valid.collect()}
    q = [r.raw_line for r in quarantine.collect()]
    assert v == {1, 3}
    assert len(q) == 2
    assert any("not_a_number" in line for line in q)
    assert any("definitely-not-a-date" in line for line in q)
    assert valid.count() + quarantine.count() == 4
    res.parsed.unpersist()


def test_read_day_with_quarantine_on_bronze(spark, raw_dir):
    """The day-increment quarantine read over the real bronze layout:
    a structurally-broken line (wrong column count — the exact check
    the reference's CSV-structure test performs) lands in quarantine;
    every well-formed row comes back valid."""
    import datetime
    import glob as _glob

    from data_warehouse_nhom8_spark.pipeline.extract import read_day_with_quarantine

    # drop a structurally-broken file into the day's partition (a new
    # file, not an append — Spark's local writes carry .crc sidecars)
    import os

    day_dirs = _glob.glob(f"{raw_dir}/source=*/date=2025-03-10")
    assert day_dirs
    with open(os.path.join(day_dirs[0], "scraper-broken.csv"), "w") as fh:
        fh.write("source_id,job_id,job_title,company_name,salary,location,"
                 "experience_required,job_type,posted_time,tags,job_url,"
                 "company_logo,extracted_date,extracted_timestamp\n")
        fh.write("brk,only,three\n")

    res = read_day_with_quarantine(spark, raw_dir, datetime.date(2025, 3, 10))
    q = [r.raw_line for r in res.quarantine.collect()]
    assert len(q) == 1 and "brk,only,three" in q[0]
    valid = res.valid.filter(F.col("job_id").isNotNull())
    assert valid.count() == 3
    # read_day API parity: partition columns present and populated
    assert {r.source for r in valid.collect()} == {"topcv_jobs", "jobsgo_jobs"}
    assert {r.date for r in valid.collect()} == {datetime.date(2025, 3, 10)}
    res.parsed.unpersist()

    # a day with no partition returns empty frames, like read_day
    empty = read_day_with_quarantine(spark, raw_dir, datetime.date(2030, 1, 1))
    assert empty.valid.count() == 0 and empty.quarantine.count() == 0
    assert "source" in empty.valid.columns and "date" in empty.valid.columns


def test_corpus_prep_optional_curation_stages(spark, tmp_path):
    """source_cap and max_surprisal_bits: OFF by default (byte-equal
    corpus), and when ON each is a strict pre/post filter of the base
    run — capped sources, gibberish dropped, everything kept is a
    subset of the uncurated corpus."""
    import datetime

    from data_warehouse_nhom8_spark.pipeline import corpus_prep
    from data_warehouse_nhom8_spark.sources import Catalog
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read
    from tests.conftest import SF_DIR

    docs = Catalog(spark, SF_DIR).documents
    day = datetime.date(2026, 1, 2)

    base_out = str(tmp_path / "base")
    corpus_prep.run_corpus_prep(spark, docs, base_out, day)
    base = snapshot_read(spark, f"{base_out}/corpus")
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}

    # data-driven surprisal bound: the corpus p75, so the gate REALLY
    # drops the high-surprisal tail (a fixed large bound would pass
    # vacuously — this corpus scores ~4.9-5.4 bits)
    from data_warehouse_nhom8_spark.operators.text import unigram_surprisal_scores

    bound = sorted(
        r["avg_bits"] for r in unigram_surprisal_scores(docs).collect()
    )[int(0.75 * docs.count())]

    cur_out = str(tmp_path / "curated")
    corpus_prep.run_corpus_prep(
        spark, docs, cur_out, day, source_cap=5, max_surprisal_bits=bound
    )
    curated = snapshot_read(spark, f"{cur_out}/corpus")
    cur_ids = {r["doc_id"] for r in curated.select("doc_id").collect()}

    assert cur_ids < base_ids  # strict subset: both stages filtered
    # cap respected on the INPUT side: at most 5 docs per source
    per_src = (
        docs.join(curated.select("doc_id"), "doc_id", "left_semi")
        .groupBy("source")
        .count()
        .collect()
    )
    assert per_src and all(r["count"] <= 5 for r in per_src)
    # surprisal bound holds on the survivors (recompute over the
    # SAME base the gate saw: the capped-and-gated corpus pre-filter)
    pre_out = str(tmp_path / "cap_only")
    corpus_prep.run_corpus_prep(spark, docs, pre_out, day, source_cap=5)
    pre = snapshot_read(spark, f"{pre_out}/corpus")
    scores = {
        r["doc_id"]: r["avg_bits"] for r in unigram_surprisal_scores(pre).collect()
    }
    assert all(scores[i] <= bound for i in cur_ids)
    dropped_by_gate = {i for i in scores if scores[i] > bound}
    assert dropped_by_gate  # the gate actually fired
    assert cur_ids == set(scores) - dropped_by_gate


def test_corpus_prep_span_dedup_stage(spark, tmp_path):
    """max_span_dup_fraction: OFF by default (byte-equal corpus); when
    ON it drops exactly the docs whose duplicated-span fraction over
    the post-gate corpus exceeds the bound (q110's operator as a
    production pipeline stage)."""
    import datetime

    from data_warehouse_nhom8_spark.operators.span_dedup import span_dedup_stats
    from data_warehouse_nhom8_spark.pipeline import corpus_prep
    from data_warehouse_nhom8_spark.sources import Catalog
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_read
    from tests.conftest import SF_DIR

    docs = Catalog(spark, SF_DIR).documents
    day = datetime.date(2026, 1, 3)

    base_out = str(tmp_path / "base")
    corpus_prep.run_corpus_prep(spark, docs, base_out, day)
    base = snapshot_read(spark, f"{base_out}/corpus")
    base_ids = {r["doc_id"] for r in base.select("doc_id").collect()}

    # data-driven bound: the median positive dup_fraction of the BASE
    # corpus, so the stage demonstrably fires (testdata plants near-dups)
    stats = span_dedup_stats(base, window=8)
    fracs = sorted(
        r["dup_fraction"] for r in stats.collect() if r["dup_fraction"] > 0
    )
    assert fracs, "fixture needs planted duplication"
    # strictly below the smallest positive fraction: every doc with ANY
    # duplicated span must drop (fractions can be uniform across the
    # planted near-dup family, so a median bound may drop nothing)
    bound = fracs[0] / 2.0

    cur_out = str(tmp_path / "span")
    corpus_prep.run_corpus_prep(
        spark, docs, cur_out, day,
        max_span_dup_fraction=bound, span_window=8,
    )
    cur_ids = {
        r["doc_id"]
        for r in snapshot_read(spark, f"{cur_out}/corpus").select("doc_id").collect()
    }
    want_dropped = {
        r["doc_id"] for r in stats.collect() if r["dup_fraction"] > bound
    }
    assert want_dropped and cur_ids == base_ids - want_dropped
