"""Config-driven datamart rebuild (SURVEY.md §2d A1).

The reference loops over aggregate specs from config.xml:86-123 and,
for each, DROPs + recreates one 2-column table
`(group_col, total_jobs)` via `SELECT {k}, COUNT(*) FROM job GROUP BY
{k}` (reference datamart/load_to_dm.py:104-173).

Engine: the same spec list drives ONE shared-scan GROUPING SETS plan
(`_rollup`) — at 100 TB the shared scan reads the fact once instead of
N times. `rebuild_datamart` runs that rollup as the day's one datamart
job and fetches it to the driver: its rows are the groups of every
table, the same rows `serve_datamart` already pulls whole into pandas.
The driver splits them per table, writes each table as one parquet
file into a hidden staging directory, and swaps the tables into place
only after all of them are written, so a failed rebuild leaves the
previous datamart readable.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class AggSpec:
    """One datamart aggregate (mirrors a <aggregate> element of the
    reference's config.xml)."""

    table_name: str
    group_by: str
    count_alias: str = "total_jobs"


DEFAULT_SPECS = (
    AggSpec("agg_job_by_company", "company_name"),
    AggSpec("agg_job_by_location", "location"),
    AggSpec("agg_job_by_salary", "salary"),
    AggSpec("agg_job_by_experience", "experience_required"),
)


def build_aggregate(fact: DataFrame, spec: AggSpec) -> DataFrame:
    return fact.groupBy(spec.group_by).agg(
        F.count(F.lit(1)).alias(spec.count_alias)
    )


def _rollup(fact: DataFrame, specs: tuple[AggSpec, ...]) -> DataFrame:
    """Every spec's groups from ONE scan: GROUPING SETS tagged with a
    grouping id (`gid`). Spark plans a single Expand, so the fact is
    read once."""
    keys = ", ".join(s.group_by for s in specs)
    sets = ", ".join(f"({s.group_by})" for s in specs)
    return fact.sparkSession.sql(
        f"""
        SELECT {keys}, GROUPING_ID({keys}) AS gid, COUNT(*) AS total
        FROM {{fact}} GROUP BY GROUPING SETS ({sets})
        """,
        fact=fact,
    )


def _gid(i: int, n: int) -> int:
    """The `gid` of spec i of n: every key aggregated away but key i."""
    return (2**n - 1) ^ (2 ** (n - 1 - i))


def build_all_shared_scan(fact: DataFrame, specs: tuple[AggSpec, ...] = DEFAULT_SPECS) -> dict[str, DataFrame]:
    """All aggregates from ONE scan (`_rollup`), split back into
    per-table DataFrames."""
    wide = _rollup(fact, specs)
    return {
        s.table_name: wide.filter(F.col("gid") == _gid(i, len(specs))).select(
            F.col(s.group_by), F.col("total").alias(s.count_alias)
        )
        for i, s in enumerate(specs)
    }


def apply_change_feed(
    prev_agg: DataFrame, feed: DataFrame, spec: AggSpec
) -> DataFrame:
    """Incremental datamart maintenance from a snapshot change feed —
    the CDC consumer the reference's nightly drop-and-recreate never
    had: instead of rescanning the fact table (S8), fold the day's
    `snapshot_diff(..., emit_update_preimage=True)` feed into the
    existing aggregate. insert/update_postimage rows add one to their
    group; delete/update_preimage rows subtract one from theirs.
    Groups that reach zero are dropped (drop-and-recreate parity:
    a vanished group has no row, not a 0 row).

    At 100 TB this is the difference between a full fact scan per
    aggregate per day and a shuffle of just the changed rows — the
    feed is increment-sized by construction. Equality with a from-
    scratch rebuild is pytest-gated; requires the preimage feed shape
    (a plain 'update' row cannot decrement the group the key left)."""
    # misuse guard (bounded: LIMIT 1 over the increment-sized feed)
    if feed.filter(F.col("_change") == "update").limit(1).count() > 0:
        raise ValueError(
            "apply_change_feed needs emit_update_preimage=True feeds; "
            "a collapsed 'update' row cannot decrement the group the "
            "key moved out of"
        )
    sign = F.when(F.col("_change").isin("insert", "update_postimage"), 1).otherwise(
        -1
    )
    delta = (
        feed.select(F.col(spec.group_by), sign.alias("__d"))
        .groupBy(spec.group_by)
        .agg(F.sum("__d").alias("__delta"))
    )
    return (
        prev_agg.join(delta, on=spec.group_by, how="full_outer")
        .select(
            F.col(spec.group_by),
            (
                F.coalesce(F.col(spec.count_alias), F.lit(0))
                + F.coalesce(F.col("__delta"), F.lit(0))
            ).alias(spec.count_alias),
        )
        .filter(F.col(spec.count_alias) > 0)
    )


def serve_datamart(spark, out_dir: str, specs: tuple[AggSpec, ...] = DEFAULT_SPECS) -> dict:
    """Serving read path (S12): the reference's Flask dashboard reads
    each agg table and renders bar charts (datamart/app.py:36-66). The
    engine serves the same shape — one small pandas frame per table —
    for whatever viz layer sits on top."""
    out = {}
    for s in specs:
        try:
            out[s.table_name] = (
                spark.read.parquet(f"{out_dir}/{s.table_name}")
                .orderBy(F.desc(s.count_alias))
                .toPandas()
            )
        except Exception:
            out[s.table_name] = None  # table not built yet
    return out


def rebuild_datamart(
    fact: DataFrame,
    out_dir: str,
    specs: tuple[AggSpec, ...] = DEFAULT_SPECS,
) -> dict[str, int]:
    """Drop-and-recreate each aggregate table (S8: overwrite) from one
    rollup job, and return row counts for the run ledger.

    Every table is written as one pyarrow file into a hidden directory
    under `out_dir` first; only then is each table directory swapped
    in by rename. A write that fails leaves every previous table in
    place."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    wide = _rollup(fact, specs).toArrow()  # bounded-collect: Σ group counts of the specs
    os.makedirs(out_dir, exist_ok=True)
    stage = os.path.join(out_dir, f".rebuild-{uuid.uuid4().hex}")
    counts: dict[str, int] = {}
    try:
        for i, s in enumerate(specs):
            t = wide.filter(pc.equal(wide["gid"], _gid(i, len(specs))))
            t = t.select([s.group_by, "total"]).rename_columns([s.group_by, s.count_alias])
            os.makedirs(os.path.join(stage, s.table_name))
            pq.write_table(t, os.path.join(stage, s.table_name, "part-00000.parquet"))
            counts[s.table_name] = t.num_rows
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    for s in specs:
        live = os.path.join(out_dir, s.table_name)
        if os.path.exists(live):
            os.rename(live, os.path.join(stage, f".old-{s.table_name}"))
        os.rename(os.path.join(stage, s.table_name), live)
    shutil.rmtree(stage)
    return counts
