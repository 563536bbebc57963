"""Warehouse load: the reference's §3.3 flow, Spark-shaped.

Reference: java orchestrator → is_process_done gate → mysqldump of the
day's partition → scp/ssh → SCD2 UPDATE/INSERT merge → row counts into
the ledger (reference loadtowh/LoadToWH.java, load_to_wh.sh).

Engine: no dump/ship (shared storage); one driver function —
ledger gate → filter the day's increment (the `--where DATE(...)`
filter, here partition pruning) → SCD2 merge → snapshot overwrite →
observed counts into the ledger.

A5 row-count side-outputs: the reference sums ROW_COUNT() after its
UPDATE and INSERT branches into load_to_wh_log (load_to_wh.sh:97-103).
The engine counts the rows while it writes them: an `Observation` on
the snapshot handed to `persist` carries `merge_metrics`' three sums
(expired today / inserted today / live total), so the ledger's
`rows_processed` costs no second pass over the new version. The sums
run over the whole written snapshot, exactly as `merge_metrics` does
over the committed one, so a rerun after a crash between the commit
and the Success row reports what a fresh read would. `merge_metrics`
stays the standalone twin, and the fallback when `persist` did not
execute the snapshot it was handed.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.operators.scd2 import (
    CURRENT_SENTINEL,
    release_materialized,
    scd2_merge,
)
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger

SCD2_NATURAL_KEYS = ("job_title", "company_name")  # load_to_wh.sh:66-67
SCD2_COMPARE_COLS = (  # load_to_wh.sh:70-74
    "salary",
    "location",
    "experience_required",
    "posted_time",
    "job_url",
)


def load_day_to_warehouse(
    staging: DataFrame,
    warehouse: DataFrame | None,
    day: datetime.date | str,
    ledger: RunLedger | None = None,
    process: str = "load_to_wh",
    null_safe: bool = True,
    persist=None,
    keep_norm_keys: bool = False,
) -> DataFrame:
    """Merge one day's staging increment into the SCD2 `job` table and
    return the new snapshot. Skip-if-done honoured via the ledger.

    `persist` (snapshot -> persisted snapshot) runs BEFORE the ledger's
    Success row is written: a Success row for a snapshot that never hit
    storage would make every rerun skip the day and lose the merge —
    the write must commit first, exactly as the reference's SQL commits
    before its log UPDATE (load_to_wh.sh:97-103). `persist` writes the
    DataFrame it is handed in one action (the ledger counts are
    observed during that write) and returns a read of what it wrote:
    the merge's materialized increment is freed when it returns."""
    day = datetime.date.fromisoformat(day) if isinstance(day, str) else day
    if ledger is not None and ledger.is_done(process, day):
        return warehouse

    start = datetime.datetime.now()
    log_id = ledger.open_run(process, day) if ledger is not None else None

    inc = staging.filter(F.col("extracted_date") == F.lit(day))
    held: list[DataFrame] = []
    snapshot = scd2_merge(
        current=warehouse,
        incoming=inc,
        natural_keys=list(SCD2_NATURAL_KEYS),
        compare_cols=list(SCD2_COMPARE_COLS),
        effective_date=day.isoformat(),
        null_safe=null_safe,
        keep_norm_keys=keep_norm_keys,
        held=held,
    )
    m = None
    if persist is not None:
        obs = Observation()
        try:
            snapshot = persist(snapshot.observe(obs, *_metric_cols(day)))
        finally:
            # the returned snapshot is persist's read-back, which does
            # not read the merge's materialized parts
            release_materialized(held)
        m = _observed(obs)
    if ledger is not None:
        m = m or merge_metrics(snapshot, day)
        ledger.close_run(
            log_id,
            process,
            day,
            "Success",
            rows_processed=m["expired_today"] + m["inserted_today"],
            start_time=start,
        )
    return snapshot


def staging_day_scan(spark, staging_path: str, day: datetime.date | str):
    """Stats-pruned read of one day's staging increment — the S9
    `--where DATE(...)` dump filter, answered from the snapshot's
    `_STATS.json` manifest when table maintenance has written one
    (`snapshot_compact(stats_cols=["extracted_date"])`): files whose
    extracted_date range excludes the day are never opened. Falls back
    to the full file list with the same row-level filter when no
    manifest exists — identical results either way (the manifest is a
    superset guarantee, the exact filter always applies). Returns an
    EMPTY frame (correct schema) when the manifest prunes every file,
    exactly like the no-manifest path filtering to zero rows — the
    result contract may not depend on whether maintenance ran; None
    only when no snapshot exists at all."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_read,
        snapshot_scan,
    )

    day = datetime.date.fromisoformat(day) if isinstance(day, str) else day
    df, _sel, _total = snapshot_scan(
        spark, staging_path, {"extracted_date": (day, day)}
    )
    if df is None:
        if _total > 0:  # table exists, every file pruned: empty, same schema
            return snapshot_read(spark, staging_path).filter(F.lit(False))
        return None
    return df.filter(F.col("extracted_date") == F.lit(day))


def warehouse_as_of(
    spark,
    warehouse_path: str,
    as_of_date: datetime.date | str,
) -> DataFrame:
    """PRODUCTION point-in-time read of the SCD2 `job` warehouse
    (round 13): 'the table as the morning report of `as_of_date` saw
    it'. Routed through `scd2_as_of_pruned`, so on a store whose
    maintenance has written the validity stats manifest
    (`run_weekly_maintenance` → snapshot_compact(stats_cols=
    [extracted_date, expired])) the scan opens ONLY files whose
    [min(effective), max(expired)] hull brackets the date — an old
    as-of report on a long-history table skips every file of versions
    that began after it. Fail-open by construction: files without
    stats are kept and the exact row filter always applies, so the
    result is identical to filtering a plain `snapshot_read`
    (pytest-gated with a files-skipped assertion)."""
    from data_warehouse_nhom8_spark.operators.scd2 import scd2_as_of_pruned

    day = (
        as_of_date.isoformat()
        if isinstance(as_of_date, datetime.date)
        else as_of_date
    )
    df, _sel, _total = scd2_as_of_pruned(
        spark, warehouse_path, day, effective_col="extracted_date"
    )
    return df


def merge_metrics(snapshot: DataFrame, day: datetime.date) -> dict[str, int]:
    """The ROW_COUNT() accounting (A5): how many rows this day's merge
    expired vs inserted, plus the live total — one aggregate pass."""
    return _counts(snapshot.agg(*_metric_cols(day)).collect()[0])  # bounded-collect: one row


def _metric_cols(day: datetime.date) -> list:
    sentinel = F.lit(CURRENT_SENTINEL).cast("date")
    return [
        F.sum(F.when(F.col("expired") == F.lit(day), 1).otherwise(0)).alias("expired_today"),
        F.sum(
            F.when(
                (F.col("extracted_date") == F.lit(day)) & (F.col("expired") == sentinel), 1
            ).otherwise(0)
        ).alias("inserted_today"),
        F.sum(F.when(F.col("expired") == sentinel, 1).otherwise(0)).alias("live_total"),
    ]


def _counts(row) -> dict[str, int]:
    return {k: int(row[k] or 0) for k in ("expired_today", "inserted_today", "live_total")}


def _observed(obs: Observation) -> dict[str, int] | None:
    """`obs`'s counts, or None when Spark reported none: no action ran
    the observed plan (`Observation.get` would then wait forever; Spark
    completes an observation before the action that ran it returns),
    or adaptive execution replaced the observed operator with an empty
    relation (an empty result)."""
    if not obs._jo.future().isCompleted() or obs._jo.getRow().length() == 0:
        return None
    return _counts(obs.get)
