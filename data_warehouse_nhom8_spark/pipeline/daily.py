"""The composed daily run — one call per cron day (SURVEY §3).

What the reference spreads over cron + bash wrappers + three processes
on two servers (extract 02:00 → staging → loadtowh → datamart 08:00),
the engine runs as one driver function over shared storage: every
stage ledger-gated, every merge idempotent, so re-running a partially
failed day continues where it stopped.

A day pays Spark jobs only for its data: extract writes each source's
rows once, the ledger and the report's row counts are answered on the
driver (pyarrow over small files and parquet footers), the SCD2 merge
reads the day's increment once and the warehouse twice (the rows the
increment matches, then the rewrite, which also counts the ledger's
rows), and the datamart is one rollup job.
"""

from __future__ import annotations

import datetime

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.sources.snapshots import (
    snapshot_overwrite,
    snapshot_read,
    snapshot_row_count,
)
from data_warehouse_nhom8_spark.pipeline.config import EngineConfig
from data_warehouse_nhom8_spark.pipeline.datamart import rebuild_datamart
from data_warehouse_nhom8_spark.pipeline.date_dim import build_date_dim
from data_warehouse_nhom8_spark.pipeline.extract import Connector, read_day, run_all_sources
from data_warehouse_nhom8_spark.pipeline.ledger import RunLedger
from data_warehouse_nhom8_spark.pipeline.staging import transform_raw_jobs, upsert_staging
from data_warehouse_nhom8_spark.pipeline.warehouse_load import load_day_to_warehouse


def preflight_doctor(
    ledger: RunLedger,
    day: datetime.date,
    queries: dict,
    enforce: bool = False,
) -> dict:
    """Pre-submit plan review for user queries riding the daily run —
    the 100 TB checklist (`plans.doctor.lint_plan`), executed where a
    user actually needs it: before their query ships to the cluster.

    Each query gets a `doctor:<name>` ledger row: Success with the
    finding count when nothing fatal, Failed (with the findings in
    error_message) when a fatal anti-pattern (cartesian join,
    row-at-a-time Python UDF) is in the plan. With `enforce=True` a
    fatal finding raises instead of letting the query submit."""
    from data_warehouse_nhom8_spark.plans.doctor import lint_plan

    all_findings: dict = {}
    fatal_names = []
    for name, df in queries.items():
        t0 = datetime.datetime.now()
        log_id = ledger.open_run(f"doctor:{name}", day)
        findings = lint_plan(df)
        all_findings[name] = findings
        fatal = [f for f in findings if f["severity"] == "fatal"]
        if fatal:
            fatal_names.append(name)
        msg = "; ".join(f"[{f['severity']}] {f['rule']}: {f['detail']}" for f in findings)
        ledger.close_run(
            log_id,
            f"doctor:{name}",
            day,
            status="Failed" if fatal else "Success",
            rows_processed=len(findings),
            error_message=msg[:1000] or None,
            start_time=t0,
        )
    if enforce and fatal_names:
        raise ValueError(
            f"doctor: fatal plan anti-patterns in {fatal_names} — see the "
            "run ledger's doctor:* rows for details"
        )
    return all_findings


def run_daily_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    connectors: dict[str, Connector],
    day: datetime.date,
    date_dim_range: tuple[str, str] = ("2024-01-01", "2046-01-01"),
    doctor_queries: dict | None = None,
    doctor_enforce: bool = False,
    doctor_self: bool = False,
    expectations: list | None = None,
    expectations_enforce: bool = False,
    bucketed: bool = True,
    n_buckets: int | str | None = None,
) -> dict:
    """Extract → staging → warehouse → datamart for one day.
    Returns per-stage row counts for monitoring.

    `bucketed` (DEFAULT ON, round 8): the staging snapshot is bucketed
    on `job_id` (the D1 merge key — staging/init_staging_db_v2.sql:69
    UNIQUE(job_id)) and the warehouse snapshot on the NORMALIZED SCD2
    natural keys (`__nk_job_title`, `__nk_company_name` — the columns
    the merge joins on, persisted via scd2_merge(keep_norm_keys=True);
    load_to_wh.sh:66-67). Every later writer inherits the layout from
    the snapshot's `_BUCKETS.json` (sticky), so the daily D1 upsert
    and D2 merge read scans already hash-distributed on their merge
    keys and the table side plans WITHOUT an Exchange — the storage
    decision that made the recurring-join probe 4.6x faster at 60M
    rows (SCALE_NOTES.md). `bucketed=False` keeps/creates plain
    parquet for tables that are already plain (it never demotes an
    existing bucketed table — layout is sticky).

    `doctor_queries` (name → DataFrame) opts into the pre-submit plan
    review: findings are ledgered per query before any stage runs
    (`preflight_doctor`); `doctor_enforce=True` aborts the day on a
    fatal finding. `doctor_self=True` additionally lints the
    pipeline's OWN stage plans (staging transform, datamart fact
    input) as they are built — the 100 TB checklist applied to the
    engine's own cron day (scripts/run_daily.py --doctor).

    `expectations` (list of operators.expectations.Expect) runs the
    declarative data-quality suite over the day's staged SILVER rows
    in one aggregate pass, ledgered as `dq:staging_silver`;
    `expectations_enforce=True` aborts the day before the warehouse
    merge on any violation (the doctor checks the PLAN, expectations
    check the DATA)."""
    ledger = RunLedger(spark, cfg.ledger_path)
    report: dict = {}

    # 0. opt-in pre-submit plan review for rider queries
    if doctor_queries:
        report["doctor"] = {
            name: len(f)
            for name, f in preflight_doctor(
                ledger, day, doctor_queries, enforce=doctor_enforce
            ).items()
        }

    # 1. extract (skip-if-done per source inside; the ledger is read
    # and written on the driver, so its gates and rows start no job)
    report["extract"] = run_all_sources(spark, connectors, day, cfg.bronze_path, ledger)

    # 2. staging: day's bronze → typed silver → keyed upsert snapshot
    dim = build_date_dim(spark, *date_dim_range)
    raw = read_day(spark, cfg.bronze_path, day)
    silver = transform_raw_jobs(raw, dim)
    if doctor_self:
        report.setdefault("doctor", {}).update(
            {
                name: len(f)
                for name, f in preflight_doctor(
                    ledger, day, {"staging_silver": silver}
                ).items()
            }
        )
    if expectations:
        from data_warehouse_nhom8_spark.operators.expectations import (
            check_to_ledger,
        )

        counts = check_to_ledger(
            silver, expectations, ledger, day, suite="staging_silver"
        )
        report["expectations"] = counts
        bad = {k: v for k, v in counts.items() if v > 0}
        if expectations_enforce and bad:
            raise ValueError(
                f"day {day}: data-quality expectations violated before the "
                f"warehouse merge: {bad} — see the dq:staging_silver ledger row"
            )
    current = snapshot_read(spark, cfg.staging_path, schemas.STAGING_JOBS)
    staged = upsert_staging(current, silver.select(*[f.name for f in schemas.STAGING_JOBS.fields]))
    # layout is declared ONCE, at table creation; every later daily
    # write inherits the live _BUCKETS.json (ADVICE r8: re-passing the
    # explicit layout here silently reset the bucket count the weekly
    # auto re-bucketing had just sized to the table's bytes)
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_bucket_spec

    stg_create = bucketed and snapshot_bucket_spec(cfg.staging_path) is None
    snapshot_overwrite(
        staged,
        cfg.staging_path,
        schemas.STAGING_JOBS,
        bucket_by=["job_id"] if stg_create else None,
        n_buckets=n_buckets,
    )
    staging_df = snapshot_read(spark, cfg.staging_path, schemas.STAGING_JOBS)
    # row counts come from the committed files' footers: no re-scan
    report["staging_rows"] = snapshot_row_count(cfg.staging_path)

    # 3. warehouse SCD2 merge (ledger-gated; snapshot persisted BEFORE
    # the Success row so a crash can't strand a done-but-unwritten day)
    warehouse = snapshot_read(spark, cfg.warehouse_path)
    from data_warehouse_nhom8_spark.pipeline.warehouse_load import SCD2_NATURAL_KEYS
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_bucket_spec

    wh_buckets = [f"__nk_{k}" for k in SCD2_NATURAL_KEYS]
    # sticky layout: an existing bucketed warehouse keeps its persisted
    # __nk_* bucket columns even under bucketed=False (never demote)
    wh_spec = snapshot_bucket_spec(cfg.warehouse_path)
    keep_nk = bucketed or (
        wh_spec is not None and any(c.startswith("__nk_") for c in wh_spec["cols"])
    )

    # same creation-only rule as staging: declare the layout when the
    # warehouse table doesn't exist yet, inherit the sticky spec after
    wh_create = bucketed and wh_spec is None

    def persist(snapshot):
        snapshot_overwrite(
            snapshot,
            cfg.warehouse_path,
            bucket_by=wh_buckets if wh_create else None,
            n_buckets=n_buckets,
        )
        return snapshot_read(spark, cfg.warehouse_path)

    load_day_to_warehouse(
        staging_df,
        warehouse,
        day,
        ledger=ledger,
        persist=persist,
        keep_norm_keys=keep_nk,
    )
    wh = snapshot_read(spark, cfg.warehouse_path)
    report["warehouse_rows"] = snapshot_row_count(cfg.warehouse_path)

    # 4. datamart over live rows: one rollup job, tables swapped in
    # only once every one of them is written
    live = wh.filter(F.col("expired") == F.lit("9999-12-31").cast("date"))
    if doctor_self:
        report.setdefault("doctor", {}).update(
            {
                name: len(f)
                for name, f in preflight_doctor(
                    ledger, day, {"datamart_fact": live}
                ).items()
            }
        )
    specs = cfg.aggregates or None
    report["datamart"] = (
        rebuild_datamart(live, cfg.datamart_path, specs)
        if specs
        else rebuild_datamart(live, cfg.datamart_path)
    )

    # 5. optional dashboard refresh (S12) — the reference regenerates
    # its dashboard data on the same cron as the datamart load
    if cfg.dashboard_path:
        from data_warehouse_nhom8_spark.pipeline.dashboard import render_dashboard
        from data_warehouse_nhom8_spark.pipeline.datamart import DEFAULT_SPECS

        report["dashboard"] = render_dashboard(
            spark, cfg.datamart_path, cfg.dashboard_path, specs or DEFAULT_SPECS
        )
    return report


def run_weekly_maintenance(
    spark: SparkSession,
    cfg: EngineConfig,
    keep_days: int = 30,
    history_keep_days: float | None = None,
    today: datetime.date | None = None,
) -> dict:
    """The maintenance cron (reference: weekly Sunday cleanup +
    30-day log retention, extract/cleanup_old_logs.sh:11): compact
    the daily snapshot tables' small files, prune the run ledger,
    and — when `history_keep_days` is set — vacuum snapshot history
    past the time-travel horizon (age-based retention on top of the
    writer's count-based keep). Safe to run beside readers — the
    compaction commits through the versioned pointer swap and keeps
    the previous version for in-flight scans, and vacuum never touches
    the live version."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_exists,
        snapshot_vacuum,
    )

    report = {}
    # per-table stats manifests (round 13): maintenance is where the
    # file-skipping indexes get built — staging's day column feeds
    # staging_day_scan's pruned dump filter, the warehouse's SCD2
    # validity pair feeds warehouse_as_of's pruned point-in-time read
    stats_for = {
        "staging": ["extracted_date"],
        "warehouse": ["extracted_date", "expired"],
    }
    for name, path in (("staging", cfg.staging_path), ("warehouse", cfg.warehouse_path)):
        # auto_buckets: the sweep re-sizes a bucketed table's count
        # from its live bytes (no-op for plain tables)
        out = snapshot_compact(
            spark, path, auto_buckets=True, stats_cols=stats_for[name]
        )
        report[f"compacted_{name}"] = bool(out)
        if history_keep_days is not None and snapshot_exists(path):
            report[f"vacuumed_{name}"] = len(
                snapshot_vacuum(path, keep_days=history_keep_days)["removed"]
            )
    ledger = RunLedger(spark, cfg.ledger_path)
    report["ledger_rows_kept"] = ledger.prune(keep_days, today)
    return report


