"""Run ledger: the control-plane contract (SURVEY.md §1, §2h).

The reference keeps five MySQL log tables (extract_log, process_log,
load_log, load_to_wh_log, load_to_dm_log) with the same lifecycle:
open a Running row, do work, close Success/Failed; wrappers consult
the ledger (not exit codes) for skip-if-done and retry decisions
(reference extract/run_topcv_scraper_with_retry.sh:52-59,186-196).

Here: one directory of parquet files, append-only; status-of-record is
the latest row per (process, run_date) by log_id. The ledger grows with
runs, not data, so the driver owns it:

* every `open_run`/`close_run` writes ONE small parquet file with
  pyarrow under a hidden name, then `os.replace`s it into place — a
  reader never sees a partial file, and a crashed append leaves only a
  hidden file every reader skips (Spark and `_files` alike ignore
  `.`/`_` names). File names carry a random suffix, so concurrent
  writers never collide. Nothing here starts a Spark job;
* the skip-if-done gates (`is_done`, `runnable`) read the directory on
  the driver with pyarrow, each file once per `RunLedger`: committed
  files never change, so a gate opens only the files new since the
  last one;
* the monitoring views and `latest_status` read it with Spark
  (`_read`), so files written by the older Spark appends and the
  pyarrow files read back as one table with the `RUN_LEDGER` schema;
* `prune` compacts the kept rows into one file through the same writer.

Timestamps are stored as UTC instants, exactly what Spark's
`createDataFrame` stores for them: a naive datetime is local time to
both (pyarrow alone would take it as UTC, so `_fill` converts first).
pyarrow is imported inside the functions: the import takes ~0.4 s (a
4-core VM), which a process that never touches the ledger should not
pay.
"""

from __future__ import annotations

import datetime
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark import schemas
from data_warehouse_nhom8_spark.operators.windows import latest_per_key


class RunLedger:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._gate_rows: dict = {}  # file -> its (process, run_date, status) rows

    def _read(self) -> DataFrame:
        if not self._files():
            return self.spark.createDataFrame([], schemas.RUN_LEDGER)
        return self.spark.read.schema(schemas.RUN_LEDGER).parquet(self.path)

    def _append(self, rows: list[dict]) -> None:
        import pyarrow as pa

        self._write(pa.Table.from_pylist([_fill(r) for r in rows], schema=_arrow_schema()))

    def _write(self, table) -> None:
        """Commit `table` as one new visible file: write it under a
        hidden name, then rename it into place."""
        import pyarrow.parquet as pq

        os.makedirs(self.path, exist_ok=True)
        name = f"part-{time.time_ns()}-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(self.path, f".{name}.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.path, name))

    def _files(self) -> list[str]:
        """The committed ledger files: hidden (in-flight or crashed
        appends) and `_`-prefixed names are skipped, as Spark does."""
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(
            os.path.join(self.path, n)
            for n in names
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        )

    def _read_arrow(self, files: list[str], columns: list[str] | None = None):
        """`files` read on the driver as one pyarrow table with the
        `RUN_LEDGER` types (Spark's INT96 timestamps included)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = _arrow_schema()
        schema = pa.schema([schema.field(c) for c in columns or schema.names])
        parts = [
            pq.ParquetFile(f).read(columns=schema.names).select(schema.names).cast(schema)
            for f in files
        ]
        return pa.concat_tables(parts) if parts else schema.empty_table()

    def _succeeded(self, run_date: datetime.date) -> set[str]:
        """Processes with a Success row for `run_date`."""
        import pyarrow as pa
        import pyarrow.compute as pc

        cols = ["process", "run_date", "status"]
        seen = self._gate_rows
        self._gate_rows = {
            f: seen[f] if f in seen else self._read_arrow([f], cols) for f in self._files()
        }
        t = pa.concat_tables([self._read_arrow([], cols), *self._gate_rows.values()])
        hit = pc.and_(
            pc.equal(t["run_date"], pa.scalar(run_date, pa.date32())),
            pc.equal(t["status"], "Success"),
        )
        return set(t.filter(hit)["process"].to_pylist())

    def open_run(self, process: str, run_date: datetime.date) -> int:
        """Insert a Running row; returns its log_id.

        log_id is a nanosecond timestamp: MONOTONIC across runs, like
        the reference's AUTO_INCREMENT — latest_status orders by it,
        so a random id would let an old Failed row outrank a newer
        Success (found by end-to-end drive; don't regress this)."""
        log_id = time.time_ns()
        self._append(
            [
                {
                    "log_id": log_id,
                    "process": process,
                    "run_date": run_date,
                    "status": "Running",
                    "start_time": datetime.datetime.now(),
                }
            ]
        )
        return log_id

    def close_run(
        self,
        log_id: int,
        process: str,
        run_date: datetime.date,
        status: str,
        rows_processed: int | None = None,
        file_path: str | None = None,
        error_message: str | None = None,
        start_time: datetime.datetime | None = None,
    ) -> None:
        """Append the terminal row (append-only ledger: the close row
        supersedes the Running row by log-order, like the reference's
        UPDATE supersedes in place). duration_seconds mirrors the
        reference's stored generated column
        (create_control_db_v5.sql:47)."""
        assert status in ("Success", "Failed")
        end = datetime.datetime.now()
        dur = int((end - start_time).total_seconds()) if start_time else None
        self._append(
            [
                {
                    "log_id": log_id + 1,
                    "process": process,
                    "run_date": run_date,
                    "status": status,
                    "rows_processed": rows_processed,
                    "file_path": file_path,
                    "start_time": start_time,
                    "end_time": end,
                    "duration_seconds": dur,
                    "error_message": error_message,
                }
            ]
        )

    def latest_status(self) -> DataFrame:
        """Latest row per (process, run_date) — the W1 pattern."""
        return latest_per_key(
            self._read(), ["process", "run_date"], [F.desc("log_id")]
        )

    def is_done(self, process: str, run_date: datetime.date) -> bool:
        """Skip-if-done gate: any Success for (process, run_date)
        (reference run_topcv_scraper_with_retry.sh:52-59 — COUNT > 0,
        not latest-row). Read on the driver: no Spark job."""
        return process in self._succeeded(run_date)

    def success_rate_view(self) -> DataFrame:
        """Per-process health rollup — the v_scraper_stats monitoring
        view shape (reference extract/create_control_db_v5.sql:124-133):
        conditional success/fail counts, avg rows, last run date."""
        df = self._read().filter(F.col("status") != "Running")
        return (
            df.groupBy("process")
            .agg(
                F.count(F.lit(1)).alias("n_runs"),
                F.sum(F.when(F.col("status") == "Success", 1).otherwise(0)).alias("n_success"),
                F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("n_failed"),
                F.round(F.avg("rows_processed"), 0).alias("avg_rows"),
                F.max("run_date").alias("last_run_date"),
            )
            .orderBy("process")
        )

    def daily_summary_view(self) -> DataFrame:
        """Per-day rollup — the v_daily_summary shape (reference
        create_control_db_v5.sql:151-161): distinct processes,
        success/fail counts per run_date."""
        df = self._read().filter(F.col("status") != "Running")
        return (
            df.groupBy("run_date")
            .agg(
                F.countDistinct("process").alias("n_processes"),
                F.sum(F.when(F.col("status") == "Success", 1).otherwise(0)).alias("n_success"),
                F.sum(F.when(F.col("status") == "Failed", 1).otherwise(0)).alias("n_failed"),
            )
            .orderBy(F.desc("run_date"))
        )

    def recent_failures_view(self, k: int = 5) -> DataFrame:
        """Last-k failures with truncated messages — the
        v_recent_errors shape (reference create_control_db_v5.sql:
        113-121 + check_scraper_status.sh:103-113 SUBSTRING)."""
        return (
            self._read()
            .filter(F.col("status") == "Failed")
            .select(
                "process",
                "run_date",
                "end_time",
                F.substring("error_message", 1, 80).alias("error_80"),
            )
            .orderBy(F.desc("run_date"), F.desc("end_time"))
            .limit(k)
        )

    def volume_drift_view(
        self, window_days: int = 7, factor: float = 3.0
    ) -> DataFrame:
        """Per-(process, day) ingest-volume drift vs the trailing
        window — the monitoring layer the reference's
        check_scraper_status.sh lacks: a scraper that still exits 0
        but suddenly returns 10 rows instead of 10,000 (layout change,
        silent block) passes the success check and fails THIS one.

        Latest Success row per (process, run_date), each day's
        rows_processed compared to the avg of up to `window_days`
        PRIOR days of the same process (deterministic bounded window,
        one dim-sized shuffle on process); `drift` flags ratios
        outside [1/factor, factor] or a zero-rows day. Days without
        enough history (no prior runs) report NULL ratio, no flag."""
        from pyspark.sql.window import Window

        from data_warehouse_nhom8_spark.operators.windows import latest_per_key

        latest = latest_per_key(
            self._read().filter(F.col("status") == "Success"),
            ["process", "run_date"],
            [F.desc("log_id")],
        ).select("process", "run_date", "rows_processed")
        w = (
            Window.partitionBy("process")
            .orderBy("run_date")
            .rowsBetween(-window_days, -1)
        )
        trailing = F.avg("rows_processed").over(w)
        ratio = F.when(
            trailing > 0, F.col("rows_processed") / trailing
        )
        return (
            latest.withColumn("trailing_avg_rows", F.round(trailing, 2))
            .withColumn("ratio", F.round(ratio, 4))
            .withColumn(
                "drift",
                F.coalesce(F.col("rows_processed") == 0, F.lit(False))
                | F.coalesce(
                    (F.col("ratio") > factor) | (F.col("ratio") < 1.0 / factor),
                    F.lit(False),
                ),
            )
            .orderBy("process", "run_date")
        )

    def prune(self, keep_days: int, today: datetime.date | None = None) -> int:
        """Retention sweep — the 30-day log cleanup (reference
        extract/cleanup_old_logs.sh:11): compact the ledger into ONE
        file of the rows newer than `keep_days`. Returns rows kept.

        The compacted file commits before the files it replaces are
        removed, so a crash in between leaves duplicate kept rows —
        harmless to the gates and `latest_status` — and never loses
        one; an append that lands during the prune is not among the
        files removed."""
        import pyarrow as pa
        import pyarrow.compute as pc

        today = today or datetime.date.today()
        cutoff = today - datetime.timedelta(days=keep_days)
        files = self._files()
        t = self._read_arrow(files)
        kept = t.filter(pc.greater_equal(t["run_date"], pa.scalar(cutoff, pa.date32())))
        self._write(kept)
        for f in files:
            os.remove(f)
        return kept.num_rows

    def runnable(self, enabled: DataFrame, run_date: datetime.date) -> DataFrame:
        """U2: enabled processes minus already-succeeded-today
        (reference run_all_scrapers.sh:22-44) as a left-anti join.
        `enabled` must have a `process` column. The done set is read on
        the driver."""
        done = self.spark.createDataFrame(
            [(p,) for p in self._succeeded(run_date)], "process string"
        )
        return enabled.join(done, on="process", how="left_anti")


def _arrow_schema():
    """`schemas.RUN_LEDGER` as pyarrow types (timestamps UTC micros)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(schemas.RUN_LEDGER)


def _fill(r: dict) -> dict:
    base = {
        "log_id": None,
        "process": None,
        "run_date": None,
        "status": None,
        "rows_processed": None,
        "file_path": None,
        "start_time": None,
        "end_time": None,
        "duration_seconds": None,
        "error_message": None,
    }
    base.update(r)
    for k in ("start_time", "end_time"):
        if base[k] is not None:
            # naive = local time, as Spark's createDataFrame reads it
            base[k] = base[k].astimezone(datetime.timezone.utc)
    return base
