"""Extract layer: connector contract + multi-source ingest runner
(SURVEY.md §2a S1/S2, §2f U1/U2, §3.1).

The reference's extract is a Selenium scraper per job board writing
partitioned CSVs and ledger rows (reference extract/topcv_scraper_v5.py,
jobsgo_scraper_v1.py), orchestrated by a master runner that skips
already-succeeded sources and merges the day's CSVs
(run_all_scrapers.sh:22-44,100-133). Scraping itself is external
ingestion, not a query operator — here it is a Connector protocol: any
callable returning the day's rows under the 14-column bronze contract
(RAW_JOBS_CSV; JobsGo's extra job_type column is already part of it —
schema evolution by projection, SURVEY §1).

The engine replaces the shell CSV concat with the multi-file scan
(U1 = implicit union of the partition directory), and the
skip-if-done complement with the ledger's driver-side `is_done` gate (U2).
"""

from __future__ import annotations

import datetime
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
from data_warehouse_nhom8_spark.sources import (
    read_partitioned_csv,
    write_partitioned_csv,
)

# A connector yields plain dict rows for (source_id, date) — the shape
# the reference's scrape_with_pagination produces (topcv_scraper_v5.py:61-142).
Connector = Callable[[str, datetime.date], Sequence[dict]]


def ingest_source(
    spark: SparkSession,
    connector: Connector,
    source_id: str,
    run_date: datetime.date,
    bronze_path: str,
    ledger: RunLedger | None = None,
) -> int:
    """One source, one day: connector rows → validity filter →
    13/14-col projection → partitioned CSV append + ledger close.
    Returns rows written. (The B4..B8 lifecycle of SURVEY §3.1.)"""
    start = datetime.datetime.now()
    log_id = ledger.open_run(f"extract_{source_id}", run_date) if ledger else None
    try:
        rows = connector(source_id, run_date)
        cols = [f.name for f in schemas.RAW_JOBS_CSV.fields]
        # the validity filter runs here, on the rows in hand, so the
        # write is the plan's only execution and `n` needs no count job
        kept = [
            {c: r.get(c) for c in cols}
            for r in rows
            if _present(r.get("job_id")) and _present(r.get("job_title"))
        ]
        n = len(kept)
        df = (
            spark.createDataFrame(kept, schemas.RAW_JOBS_CSV)
            .withColumn("source", F.lit(source_id))
            .withColumn("date", F.lit(run_date.isoformat()))
        )
        write_partitioned_csv(df, bronze_path)
        if ledger:
            ledger.close_run(
                log_id, f"extract_{source_id}", run_date, "Success",
                rows_processed=n, file_path=bronze_path, start_time=start,
            )
        return n
    except Exception as e:
        if ledger:
            ledger.close_run(
                log_id, f"extract_{source_id}", run_date, "Failed",
                error_message=str(e)[:500], start_time=start,
            )
        raise


def _present(v: str | None) -> bool:
    """Spark's `isNotNull() & trim(v) != ''`: `trim` strips only the
    space U+0020, so tabs, newlines and other blanks keep a value."""
    return v is not None and v.strip(" ") != ""


def run_all_sources(
    spark: SparkSession,
    connectors: dict[str, Connector],
    run_date: datetime.date,
    bronze_path: str,
    ledger: RunLedger,
) -> dict[str, int]:
    """The master runner (run_all_scrapers.sh): enabled sources minus
    already-succeeded-today (U2: the ledger's skip-if-done gate per
    source), each ingested independently; failures don't stop later
    sources."""
    results: dict[str, int] = {}
    for source_id, conn in connectors.items():
        if ledger.is_done(f"extract_{source_id}", run_date):
            continue
        try:
            results[source_id] = ingest_source(
                spark, conn, source_id, run_date, bronze_path, ledger
            )
        except Exception:
            results[source_id] = -1
    return results


def read_day(spark: SparkSession, bronze_path: str, run_date: datetime.date) -> DataFrame:
    """The day's merged bronze rows — U1 as a partition-pruned
    multi-file scan (replaces the shell header+tail concat)."""
    return read_partitioned_csv(
        spark, bronze_path, schemas.RAW_JOBS_CSV, date=run_date.isoformat()
    )


def read_day_with_quarantine(
    spark: SparkSession, bronze_path: str, run_date: datetime.date
):
    """`read_day` with the malformed-row quarantine split (the
    reference doc's "Check CSV Structure" test, made a pipeline
    primitive): a QuarantineRead over the day's partition only —
    bounded to the daily increment, never the whole raw zone. Writing
    quarantine lines next to the ledger (and alerting on a nonzero
    count) is the production wiring; valid ∪ quarantine covers every
    input row.

    API parity with `read_day`: the valid frame carries the `source`
    and `date` partition columns (the leaf-file glob disables Hive
    partition discovery, so `source` is recovered from the file path
    and `date` is the requested day). A day with no partition at all
    returns empty frames, like `read_day`'s empty scan."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.utils import AnalysisException

    from data_warehouse_nhom8_spark.sources.csv_partitioned import (
        QuarantineRead,
        read_csv_with_quarantine,
    )

    day_glob = f"{bronze_path}/source=*/date={run_date.isoformat()}/*.csv"
    try:
        r = read_csv_with_quarantine(
            spark, day_glob, schemas.RAW_JOBS_CSV, file_col="__file"
        )
    except AnalysisException:
        # no partition for the day — empty frames, like read_day's empty
        # scan. Detected via Spark's own filesystem (works for hdfs://,
        # s3a://, and glob metacharacters alike; a driver-local
        # glob.glob would silently miss remote paths). Never mutate the
        # shared schema: StructType.add appends IN PLACE and returns
        # self, so build a fresh StructType.
        valid_schema = T.StructType(
            [
                *schemas.RAW_JOBS_CSV.fields,
                T.StructField("source", T.StringType()),
                T.StructField("date", T.DateType()),
            ]
        )
        empty_valid = spark.createDataFrame([], valid_schema)
        empty_q = spark.createDataFrame([], "raw_line string")
        return QuarantineRead(empty_valid, empty_q, empty_valid)
    valid = (
        r.valid.withColumn(
            "source", F.regexp_extract(F.col("__file"), r"source=([^/]+)/", 1)
        )
        # a real date literal: read_day's partition discovery infers
        # date=YYYY-MM-DD as DateType, and parity means union-able
        .withColumn("date", F.lit(run_date))
        .drop("__file")
    )
    return QuarantineRead(valid, r.quarantine, r.parsed)


def quarantine_check(
    spark: SparkSession,
    bronze_path: str,
    run_date: datetime.date,
    ledger: RunLedger,
) -> int:
    """The production wiring for the quarantine split: run the day's
    CSV-structure check and record the malformed-row count in the run
    ledger (`quarantine_check` process, `rows_processed` = quarantined
    lines; Failed status when any exist, so the reference's
    check_scraper_status.sh-style health view — and the dashboard's
    source-health table, which reads the same ledger — surfaces it).
    Returns the quarantine count."""
    start = datetime.datetime.now()
    log_id = ledger.open_run("quarantine_check", run_date)
    res = read_day_with_quarantine(spark, bronze_path, run_date)
    try:
        n_bad = res.quarantine.count()
    finally:
        res.parsed.unpersist()
    ledger.close_run(
        log_id,
        "quarantine_check",
        run_date,
        "Success" if n_bad == 0 else "Failed",
        rows_processed=n_bad,
        error_message=(None if n_bad == 0 else f"{n_bad} malformed row(s) quarantined"),
        start_time=start,
    )
    return n_bad
