"""Versioned snapshot table: atomic commit, GC, crash tolerance,
legacy-layout migration, and the read-modify-overwrite hazard —
all without any driver-side materialization (the reference's
transactional merge, loadtowh/load_to_wh.sh:62-103, re-expressed as
a pointer-swapped version directory)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.sources.snapshots import (
    snapshot_compact,
    snapshot_exists,
    snapshot_overwrite,
    snapshot_read,
)


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k string, v long")


def test_roundtrip_and_pointer(spark, tmp_path):
    path = str(tmp_path / "t")
    assert not snapshot_exists(path)
    assert snapshot_read(spark, path) is None
    snapshot_overwrite(_df(spark, [("a", 1)]), path)
    assert snapshot_exists(path)
    assert open(os.path.join(path, "_CURRENT")).read() == "v00000001"
    assert [(r["k"], r["v"]) for r in snapshot_read(spark, path).collect()] == [("a", 1)]


def test_versions_advance_and_gc(spark, tmp_path):
    path = str(tmp_path / "t")
    for i in range(1, 4):
        snapshot_overwrite(_df(spark, [("a", i)]), path)
    assert snapshot_read(spark, path).collect()[0]["v"] == 3
    vdirs = sorted(d for d in os.listdir(path) if d.startswith("v"))
    # keep=2: the live version plus its predecessor (in-flight readers)
    assert vdirs == ["v00000002", "v00000003"]


def test_read_modify_overwrite_hazard(spark, tmp_path):
    """The exact pattern that loses data under plain mode('overwrite'):
    the new snapshot's plan reads the old snapshot. The versioned
    write never deletes its input before commit."""
    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1), ("b", 2)]), path)
    cur = snapshot_read(spark, path)
    merged = cur.unionByName(_df(spark, [("c", 3)])).withColumn(
        "v", F.col("v") + 10
    )  # lazy plan over the live version's files
    snapshot_overwrite(merged, path)
    got = sorted((r["k"], r["v"]) for r in snapshot_read(spark, path).collect())
    assert got == [("a", 11), ("b", 12), ("c", 13)]


def test_crashed_partial_version_is_overwritten(spark, tmp_path):
    """A version dir left by a crash (pointer never swapped) must not
    poison the next write or the current read."""
    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1)]), path)
    junk = os.path.join(path, "v00000002")
    os.makedirs(junk)
    open(os.path.join(junk, "part-junk.parquet"), "w").write("not parquet")
    # read still serves v1
    assert snapshot_read(spark, path).collect()[0]["v"] == 1
    # next write claims v2, clearing the junk
    snapshot_overwrite(_df(spark, [("a", 2)]), path)
    assert open(os.path.join(path, "_CURRENT")).read() == "v00000002"
    assert snapshot_read(spark, path).collect()[0]["v"] == 2


def test_legacy_plain_parquet_migrates(spark, tmp_path):
    """A pre-versioned plain parquet dir stays readable, and the next
    write converts it to the versioned layout."""
    path = str(tmp_path / "t")
    _df(spark, [("a", 1)]).write.parquet(path)
    assert snapshot_read(spark, path).collect()[0]["v"] == 1  # legacy read
    merged = snapshot_read(spark, path).withColumn("v", F.col("v") + 1)
    snapshot_overwrite(merged, path)
    assert snapshot_read(spark, path).collect()[0]["v"] == 2
    # legacy root files are gone after the commit
    assert not any(f.endswith(".parquet") for f in os.listdir(path))


def test_compaction_merges_small_files(spark, tmp_path):
    path = str(tmp_path / "t")
    rows = [(f"k{i}", i) for i in range(100)]
    # a fragmented write: one tiny file per partition
    snapshot_overwrite(_df(spark, rows).repartition(16), path)
    v1 = os.path.join(path, "v00000001")
    assert sum(f.endswith(".parquet") for f in os.listdir(v1)) == 16
    out = snapshot_compact(spark, path)
    assert out is not None and out.endswith("v00000002")
    v2_files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(v2_files) == 1  # 100 tiny rows << target_file_bytes
    got = sorted((r["k"], r["v"]) for r in snapshot_read(spark, path).collect())
    assert got == sorted(rows)
    # already compact -> no-op, pointer unchanged
    assert snapshot_compact(spark, path) is None
    assert open(os.path.join(path, "_CURRENT")).read() == "v00000002"


def test_no_driver_collect_in_data_snapshot_paths():
    """Gate: the daily pipeline (and the staging, warehouse-load and
    SCD2 modules it runs) and the streaming sink must never
    materialize a data table on the driver (round-1 verdict #2).
    safe_overwrite (driver collect) is control-plane-only (ledger).
    A `# bounded-collect:` pragma exempts a line that collects a
    PROVABLY bounded control-plane set (e.g. the partitioned merge's
    K distinct partition values) — the pragma forces the exemption to
    be visible and greppable at the site, never implicit."""
    import data_warehouse_nhom8_spark.operators.scd2 as scd2
    import data_warehouse_nhom8_spark.pipeline.daily as daily
    import data_warehouse_nhom8_spark.pipeline.staging as staging
    import data_warehouse_nhom8_spark.pipeline.warehouse_load as warehouse_load
    import data_warehouse_nhom8_spark.streaming.jobs as sjobs
    import inspect

    for mod in (daily, staging, warehouse_load, scd2, sjobs):
        src = inspect.getsource(mod)
        assert "safe_overwrite" not in src, mod.__name__
        for ln in src.splitlines():
            if ".collect()" in ln and "# bounded-collect:" not in ln:
                raise AssertionError(f"{mod.__name__}: undocumented collect: {ln.strip()}")


def test_time_travel_and_versions_listing(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_versions

    path = str(tmp_path / "t")
    for i in range(1, 4):
        snapshot_overwrite(_df(spark, [("a", i)]), path, keep=3)
    assert snapshot_versions(path) == [1, 2, 3]
    # pinned-version reads see history; default read sees head
    assert snapshot_read(spark, path, version=1).collect()[0]["v"] == 1
    assert snapshot_read(spark, path, version=2).collect()[0]["v"] == 2
    assert snapshot_read(spark, path).collect()[0]["v"] == 3


def test_time_travel_gcd_version_raises(spark, tmp_path):
    import pytest

    path = str(tmp_path / "t")
    for i in range(1, 4):
        snapshot_overwrite(_df(spark, [("a", i)]), path, keep=2)  # GCs v1
    with pytest.raises(FileNotFoundError, match="not retained"):
        snapshot_read(spark, path, version=1)


def test_rollback_restores_and_is_reversible(spark, tmp_path):
    """RESTORE semantics: rolling back re-points the head but keeps
    newer complete versions readable (and roll-forward-able), and the
    next write claims max(readable)+1 instead of clobbering them."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_rollback,
        snapshot_versions,
    )

    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1)]), path, keep=3)
    snapshot_overwrite(_df(spark, [("a", 2)]), path, keep=3)  # the bad load
    snapshot_rollback(path, 1)
    assert snapshot_read(spark, path).collect()[0]["v"] == 1
    # the rolled-off version is still listed, time-travel-readable,
    # and a mistaken rollback can roll FORWARD to it
    assert snapshot_versions(path) == [1, 2]
    assert snapshot_read(spark, path, version=2).collect()[0]["v"] == 2
    snapshot_rollback(path, 2)
    assert snapshot_read(spark, path).collect()[0]["v"] == 2
    # back to v1, then a new write: claims v3, never clobbers v2
    snapshot_rollback(path, 1)
    snapshot_overwrite(_df(spark, [("a", 9)]), path, keep=3)
    assert snapshot_read(spark, path).collect()[0]["v"] == 9
    assert snapshot_versions(path) == [1, 2, 3]
    assert snapshot_read(spark, path, version=2).collect()[0]["v"] == 2


def test_snapshot_diff_rejects_schema_mismatch(spark, tmp_path):
    """Column-set drift between versions must fail loudly — a diff
    that silently ignores an old-only column reports rows differing
    only in that column as unchanged."""
    import pytest

    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_diff

    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1)]), path, keep=3)
    wider = _df(spark, [("a", 1)]).withColumn("extra", F.lit("x"))
    snapshot_overwrite(wider, path, keep=3)
    with pytest.raises(ValueError, match="column sets differ"):
        snapshot_diff(spark, path, 1, 2, keys=["k"])
    with pytest.raises(ValueError, match="key column"):
        snapshot_diff(spark, path, 2, 2, keys=["nope"])


def test_snapshot_diff_change_feed(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_diff

    path = str(tmp_path / "t")
    snapshot_overwrite(
        _df(spark, [("a", 1), ("b", 2), ("c", 3)]), path, keep=3
    )
    snapshot_overwrite(
        _df(spark, [("a", 1), ("b", 20), ("d", 4)]), path, keep=3
    )
    feed = {
        r["k"]: (r["v"], r["_change"])
        for r in snapshot_diff(spark, path, 1, 2, keys=["k"]).collect()
    }
    # a unchanged -> absent; b updated (new payload); c deleted (old
    # payload); d inserted (new payload)
    assert feed == {"b": (20, "update"), "c": (3, "delete"), "d": (4, "insert")}


def test_snapshot_diff_empty_for_identical_versions(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_diff

    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1)]), path, keep=3)
    snapshot_overwrite(_df(spark, [("a", 1)]), path, keep=3)
    assert snapshot_diff(spark, path, 1, 2, keys=["k"]).count() == 0


def test_snapshot_diff_update_preimage_rows(spark, tmp_path):
    """Delta-CDF shape: an updated key yields a preimage row (old
    payload) AND a postimage row (new payload); insert/delete are
    unchanged."""
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_diff

    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1), ("b", 2), ("c", 3)]), path, keep=3)
    snapshot_overwrite(_df(spark, [("a", 1), ("b", 20), ("d", 4)]), path, keep=3)
    feed = {
        (r["k"], r["v"], r["_change"])
        for r in snapshot_diff(
            spark, path, 1, 2, keys=["k"], emit_update_preimage=True
        ).collect()
    }
    assert feed == {
        ("b", 2, "update_preimage"),
        ("b", 20, "update_postimage"),
        ("c", 3, "delete"),
        ("d", 4, "insert"),
    }


def test_incremental_datamart_equals_rebuild(spark, tmp_path):
    """CDC consumer: folding the preimage change feed into yesterday's
    aggregate must equal a from-scratch rebuild over today's snapshot —
    including groups that vanish (dropped, not zero-rowed)."""
    import pytest

    from data_warehouse_nhom8_spark.pipeline.datamart import (
        AggSpec,
        apply_change_feed,
        build_aggregate,
    )
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_diff

    spec = AggSpec("agg_by_grp", "grp", "n")
    path = str(tmp_path / "t")
    day1 = [(1, "x"), (2, "x"), (3, "y"), (4, "z")]
    # day 2: id2 moves x->y (update), id4/z deleted, id5/y inserted
    day2 = [(1, "x"), (2, "y"), (3, "y"), (5, "y")]
    mk = lambda rows: spark.createDataFrame(rows, "id long, grp string")  # noqa: E731
    snapshot_overwrite(mk(day1), path, keep=3)
    snapshot_overwrite(mk(day2), path, keep=3)

    agg1 = build_aggregate(mk(day1), spec)
    feed = snapshot_diff(spark, path, 1, 2, keys=["id"], emit_update_preimage=True)
    got = {
        (r["grp"], r["n"]) for r in apply_change_feed(agg1, feed, spec).collect()
    }
    want = {(r["grp"], r["n"]) for r in build_aggregate(mk(day2), spec).collect()}
    assert got == want == {("x", 1), ("y", 3)}  # z vanished entirely

    # collapsed 'update' feeds are rejected — they cannot decrement
    # the group a key moved out of
    plain = snapshot_diff(spark, path, 1, 2, keys=["id"])
    with pytest.raises(ValueError, match="preimage"):
        apply_change_feed(agg1, plain, spec)


def test_staging_day_scan_prunes_by_manifest(spark, tmp_path):
    """The S9 day-filter read path consumes the stats manifest: after a
    date-clustered compaction only the day's files are opened, and the
    result equals the plain filtered read exactly (fail-open without a
    manifest is covered in test_layout)."""
    import datetime

    from data_warehouse_nhom8_spark.pipeline.warehouse_load import staging_day_scan
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_overwrite,
        snapshot_read,
    )

    path = str(tmp_path / "staging")
    days = 16
    df = spark.range(days * 50).select(
        F.col("id").alias("job_id"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % days).cast("int")
        ).alias("extracted_date"),
        (F.col("id") * 2).cast("double").alias("salary"),
    )
    snapshot_overwrite(df.repartition(8), path)
    snapshot_compact(
        spark,
        path,
        target_file_bytes=2 << 10,
        zorder_by=["extracted_date"],
        stats_cols=["extracted_date"],
    )

    day = datetime.date(2024, 1, 5)
    got = staging_day_scan(spark, path, day)
    want = snapshot_read(spark, path).filter(
        F.col("extracted_date") == F.lit(day)
    )
    assert sorted(r.job_id for r in got.collect()) == sorted(
        r.job_id for r in want.collect()
    )
    assert want.count() == 50

    # the pruned plan reads fewer files than the version holds
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_scan

    _df, n_sel, n_total = snapshot_scan(
        spark, path, {"extracted_date": (day, day)}
    )
    assert 0 < n_sel < n_total


def test_snapshot_point_lookup_via_bloom(spark, tmp_path):
    """End-to-end point-lookup skipping: compact with bloom_cols, then
    snapshot_scan(points=...) opens fewer files and the residual filter
    still finds exactly the probed row."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_overwrite,
        snapshot_scan,
    )

    path = str(tmp_path / "t")
    df = spark.range(4000).select(F.col("id").alias("job_id"))
    snapshot_overwrite(df.repartition(8), path)
    snapshot_compact(
        spark, path, target_file_bytes=2 << 10,
        stats_cols=["job_id"], bloom_cols=["job_id"],
    )
    got, n_sel, n_total = snapshot_scan(
        spark, path, {}, points={"job_id": 2718}
    )
    assert n_total > 2 and n_sel < n_total
    assert got.filter(F.col("job_id") == 2718).count() == 1


# ------------------------------------------------- keyed deletion (GDPR)

def _delete_fixture(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_overwrite

    path = str(tmp_path / "tbl")
    df = spark.range(100).select(
        F.col("id").alias("user_id"), (F.col("id") * 2).alias("val")
    )
    snapshot_overwrite(df, path, keep=10)
    snapshot_overwrite(df, path, keep=10)  # two versions of history
    return path


def test_delete_keys_removes_only_matching_rows(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_read,
    )

    path = _delete_fixture(spark, tmp_path)
    keys = spark.createDataFrame([(3,), (7,), (7,), (999,)], "user_id long")
    out = snapshot_delete_keys(spark, path, keys, ["user_id"])
    assert out["deleted_rows"] == 2  # 999 absent, 7 deduped
    got = {r["user_id"]: r["val"] for r in snapshot_read(spark, path).collect()}
    assert len(got) == 98 and 3 not in got and 7 not in got
    assert got[5] == 10  # untouched rows keep payloads


def test_delete_keys_default_keeps_history_purge_erases_it(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_read,
        snapshot_versions,
    )

    path = _delete_fixture(spark, tmp_path)
    keys = spark.createDataFrame([(1,)], "user_id long")
    snapshot_delete_keys(spark, path, keys, ["user_id"], keep=10)
    vs = snapshot_versions(path)
    assert len(vs) == 3
    # default: pre-delete time travel still shows the row
    old = snapshot_read(spark, path, version=vs[0])
    assert old.filter(F.col("user_id") == 1).count() == 1

    out = snapshot_delete_keys(
        spark, path, spark.createDataFrame([(2,)], "user_id long"),
        ["user_id"], purge_history=True, keep=10,
    )
    assert out["purged_versions"] >= 3
    vs2 = snapshot_versions(path)
    assert len(vs2) == 1  # erasure is durable: only the new version remains
    cur = snapshot_read(spark, path)
    assert cur.filter(F.col("user_id").isin(1, 2)).count() == 0
    assert cur.count() == 98


def test_delete_keys_noop_when_nothing_matches(spark, tmp_path):
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_versions,
    )

    path = _delete_fixture(spark, tmp_path)
    before = snapshot_versions(path)
    out = snapshot_delete_keys(
        spark, path, spark.createDataFrame([(12345,)], "user_id long"), ["user_id"]
    )
    assert out["deleted_rows"] == 0
    assert snapshot_versions(path) == before  # idempotent: no new version


def test_delete_keys_rewrite_is_broadcast_anti_no_shuffle(spark, tmp_path):
    """The PRODUCTION rewrite plan (via the same _delete_rewrite the
    operator executes) must stream the table through a broadcast
    LeftAnti — no shuffle of the table, no collect on the data path."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        _delete_rewrite,
        snapshot_read,
    )

    path = _delete_fixture(spark, tmp_path)
    keys = spark.createDataFrame([(3,)], "user_id long")
    cur = snapshot_read(spark, path)
    _cond, remaining = _delete_rewrite(cur, keys, ["user_id"])
    p = remaining._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "Exchange hashpartitioning" not in p


def test_delete_keys_purge_replay_finishes_erasure(spark, tmp_path):
    """Replay durability: a purge_history call whose keys already
    vanished (crash-after-commit replay / making an earlier soft
    delete durable) must STILL purge retained history."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_versions,
    )

    path = _delete_fixture(spark, tmp_path)
    keys = spark.createDataFrame([(1,)], "user_id long")
    snapshot_delete_keys(spark, path, keys, ["user_id"], keep=10)  # soft
    assert len(snapshot_versions(path)) == 3
    out = snapshot_delete_keys(
        spark, path, keys, ["user_id"], purge_history=True, keep=10
    )  # replay: rows already gone, purge must still run
    assert out["deleted_rows"] == 0 and out["purged_versions"] == 2
    assert len(snapshot_versions(path)) == 1


def test_erasure_feed_maintains_datamart_incrementally(spark, tmp_path):
    """Composition: a non-purging erasure produces a delete-only
    change feed, and apply_change_feed folds it into the datamart
    aggregate — equal to a from-scratch rebuild after the deletion."""
    from data_warehouse_nhom8_spark.pipeline.datamart import AggSpec, apply_change_feed
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_delete_keys,
        snapshot_diff,
        snapshot_overwrite,
        snapshot_read,
        snapshot_versions,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, "ACME" if i % 3 else "Beta") for i in range(30)],
        "user_id long, company_name string",
    )
    snapshot_overwrite(df, path, keep=10)
    spec = AggSpec("agg_by_company", "company_name", "total_jobs")
    prev_agg = df.groupBy("company_name").agg(
        F.count(F.lit(1)).alias("total_jobs")
    )

    keys = spark.createDataFrame([(0,), (3,), (7,)], "user_id long")  # 2 Beta, 1 ACME
    snapshot_delete_keys(spark, path, keys, ["user_id"], keep=10)
    v1, v2 = snapshot_versions(path)[-2:]
    feed = snapshot_diff(
        spark, path, v1, v2, keys=["user_id"], emit_update_preimage=True
    )
    assert {r["_change"] for r in feed.collect()} == {"delete"}

    maintained = {
        r["company_name"]: r["total_jobs"]
        for r in apply_change_feed(prev_agg, feed, spec).collect()
    }
    rebuilt = {
        r["company_name"]: r["total_jobs"]
        for r in snapshot_read(spark, path)
        .groupBy("company_name")
        .agg(F.count(F.lit(1)).alias("total_jobs"))
        .collect()
    }
    assert maintained == rebuilt == {"ACME": 19, "Beta": 8}


def test_vacuum_age_based_retention(spark, tmp_path):
    """Versions older than the horizon are removed; the live version
    survives at ANY age; young history is kept."""
    import os
    import time

    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_overwrite,
        snapshot_read,
        snapshot_vacuum,
        snapshot_versions,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(10).withColumnRenamed("id", "k")
    for _ in range(3):
        snapshot_overwrite(df, path, keep=10)
    vs = snapshot_versions(path)
    assert vs == [1, 2, 3]

    now = time.time()
    # v1 and v2 are "8 days old"; v3 (live) is also backdated — must survive
    for v in (1, 2, 3):
        os.utime(os.path.join(path, f"v{v:08d}"), (now - 8 * 86400,) * 2)

    out = snapshot_vacuum(path, keep_days=7, now=now)
    assert out == {"removed": [1, 2], "kept": [3]}
    assert snapshot_versions(path) == [3]
    assert snapshot_read(spark, path).count() == 10

    # once a new live version supersedes it, the aged v3 is fair game;
    # the fresh v4 (live, young) is kept
    snapshot_overwrite(df, path, keep=10)
    out2 = snapshot_vacuum(path, keep_days=7, now=now)
    assert out2 == {"removed": [3], "kept": [4]}


def test_snapshot_schema_evolution_across_versions(spark, tmp_path):
    """Additive schema evolution is native to the versioned layout:
    every version is a complete rewrite, so a new column simply
    appears in the next version — the live read carries it, time
    travel to an older version serves the OLD schema unchanged (no
    null-backfill surprises), rollback restores the old schema, and
    the change feed keeps refusing cross-schema diffs loudly
    (test_snapshot_diff_rejects_schema_mismatch)."""
    path = str(tmp_path / "t")
    snapshot_overwrite(_df(spark, [("a", 1), ("b", 2)]), path, keep=4)
    widened = _df(spark, [("a", 1), ("b", 2)]).withColumn("flag", F.lit("on"))
    snapshot_overwrite(widened, path, keep=4)

    live = snapshot_read(spark, path)
    assert "flag" in live.columns
    assert {r["flag"] for r in live.collect()} == {"on"}

    old = snapshot_read(spark, path, version=1)
    assert "flag" not in old.columns
    assert sorted(r["k"] for r in old.collect()) == ["a", "b"]

    from data_warehouse_nhom8_spark.sources.snapshots import snapshot_rollback

    snapshot_rollback(path, 1)
    assert "flag" not in snapshot_read(spark, path).columns


# ---------------------------------------------------------------- bucketed


def test_bucketed_snapshot_lifecycle(spark, tmp_path):
    """Bucketed versioned snapshots (round 8, the production layout):
    spec is STICKY across writers (inherit with no bucket args),
    compaction normalizes to file-per-bucket, keyed deletion
    preserves the layout, and a fresh catalog re-registers from the
    durable _BUCKETS.json + footers."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        _bucket_table_name,
        _current_version,
        snapshot_bucket_spec,
        snapshot_compact,
        snapshot_delete_keys,
    )

    path = str(tmp_path / "tbl")
    df = (
        spark.range(0, 5000)
        .withColumn("k", F.col("id") % 200)
        .withColumn("v", F.col("id") * 3)
    )
    snapshot_overwrite(df, path, bucket_by=["k"], n_buckets=8)
    assert snapshot_bucket_spec(path) == {"cols": ["k"], "n": 8, "sorted": True}

    # inherit: a writer that doesn't know about bucketing keeps it
    cur = snapshot_read(spark, path)
    snapshot_overwrite(cur.withColumn("v", F.col("v") + 1), path)
    assert snapshot_bucket_spec(path) == {"cols": ["k"], "n": 8, "sorted": True}
    assert snapshot_read(spark, path).count() == 5000

    # compaction → exactly one file per bucket, layout kept
    out = snapshot_compact(spark, path)
    assert out is not None
    files = [f for f in os.listdir(out) if f.endswith(".parquet")]
    assert len(files) == 8, files
    assert snapshot_bucket_spec(path) is not None

    # keyed deletion inherits the layout through its rewrite
    dels = spark.createDataFrame([(0,), (1,)], "k long")
    res = snapshot_delete_keys(spark, path, dels, ["k"])
    assert res["deleted_rows"] == 50
    assert snapshot_bucket_spec(path) is not None

    # fresh catalog (new session) re-registers from the durable spec
    v = _current_version(path)
    spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(path, v)}")
    assert snapshot_read(spark, path).count() == 4950

    # explicit demote: bucket_by=[] writes plain parquet
    snapshot_overwrite(snapshot_read(spark, path), path, bucket_by=[])
    assert snapshot_bucket_spec(path) is None
    assert snapshot_read(spark, path).count() == 4950


def test_bucketed_snapshot_join_is_colocated(spark, tmp_path):
    """Two snapshots bucketed on the same key join with ZERO Exchange
    (broadcast disabled — the both-sides-big regime where bucketing
    pays; same contract as sources.tables but through the versioned
    snapshot path)."""
    pa = str(tmp_path / "a")
    pb = str(tmp_path / "b")
    base = spark.range(0, 4000).withColumn("k", F.col("id") % 97)
    snapshot_overwrite(base.withColumn("v", F.col("id")), pa, bucket_by=["k"], n_buckets=8)
    snapshot_overwrite(
        base.select("k").distinct().withColumn("w", F.col("k") * 2),
        pb,
        bucket_by=["k"],
        n_buckets=8,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = snapshot_read(spark, pa).join(snapshot_read(spark, pb), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert j.count() == 4000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_upsert_merge_table_side_no_shuffle(spark, tmp_path):
    """THE production D1 merge gate: over a bucketed staging snapshot,
    `upsert_keyed_join` plans with NO ShuffleExchange anywhere — the
    snapshot streams through a broadcast anti join and the bucketed
    write adds no exchange. (The window-form twin shuffles the whole
    table: that asymmetry is why the join form is the default.)"""
    from data_warehouse_nhom8_spark.operators.dedup import upsert_keyed_join

    path = str(tmp_path / "stg")
    cur = (
        spark.range(0, 5000)
        .select(
            F.col("id").alias("job_id"),
            (F.col("id") % 7).alias("payload"),
            F.lit("2026-01-01").cast("date").alias("extracted_date"),
        )
    )
    snapshot_overwrite(cur, path, bucket_by=["job_id"], n_buckets=8)
    inc = spark.createDataFrame(
        [(1, 99, "2026-01-02"), (5001, 1, "2026-01-02")],
        "job_id long, payload long, extracted_date string",
    ).withColumn("extracted_date", F.col("extracted_date").cast("date"))

    merged = upsert_keyed_join(
        snapshot_read(spark, path), inc, ["job_id"], [F.desc("extracted_date")]
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    # every shuffle is the increment's dedup window (it appears once
    # per union branch — both increment-scale); the snapshot scan
    # feeds the broadcast anti join DIRECTLY, so the table side is
    # Exchange-free (O(increment) vs the window form's O(table))
    n_shuffles = plan.count("Exchange hashpartitioning")
    assert 1 <= n_shuffles <= 2, plan
    # each shuffle subtree bottoms out at the increment's local
    # relation, never at the snapshot's file scan
    for chunk in plan.split("Exchange hashpartitioning")[1:]:
        below = chunk.split("\n\n")[0]
        assert "snap_" not in below.split("Scan ExistingRDD")[0], plan
    import re as _re

    assert _re.search(
        r"BroadcastHashJoin [^\n]*LeftAnti[^\n]*\n[^\n]*FileScan parquet "
        r"spark_catalog\.default\.snap_",
        plan,
    ), plan
    assert merged.count() == 5001
    # updated row carries the increment payload
    assert merged.filter("job_id = 1").collect()[0]["payload"] == 99


def test_auto_bucket_count_grows_with_table(spark, tmp_path):
    """n_buckets='auto' sizes the bucket count from the live version's
    uncompressed bytes (floor on first write; power-of-two growth as
    the table crosses each 256 MB step — exercised with a tiny target
    via the helper), and the inherited spec keeps the latest count."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        _auto_bucket_count,
        snapshot_bucket_spec,
        snapshot_overwrite,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 20000).withColumn("k", F.col("id") % 100)
    # first write: no live version yet -> floor buckets
    snapshot_overwrite(df, path, bucket_by=["k"], n_buckets="auto")
    assert snapshot_bucket_spec(path)["n"] == 8

    # helper applies the power-of-two rule against a tiny target so
    # the growth path is exercised without writing gigabytes
    n = _auto_bucket_count(path, target_bytes=1024)
    assert n > 8 and (n & (n - 1)) == 0  # grew, still a power of two

    # inherit keeps the stored count when n_buckets isn't 'auto'
    snapshot_overwrite(df.withColumn("v", F.col("id") + 1), path)
    assert snapshot_bucket_spec(path)["n"] == 8


def test_bucketed_rollback_time_travel_and_diff(spark, tmp_path):
    """The bucketed layout composes with the version machinery:
    time-travel reads re-register version-qualified catalog entries,
    rollback re-points without touching layout, and the change feed
    diffs two bucketed versions correctly."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_bucket_spec,
        snapshot_diff,
        snapshot_rollback,
        snapshot_versions,
    )

    path = str(tmp_path / "t")
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    snapshot_overwrite(v1, path, bucket_by=["k"], n_buckets=4, keep=3)
    v2 = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k long, v string"
    )
    snapshot_overwrite(v2, path, keep=3)  # inherits buckets
    assert snapshot_versions(path) == [1, 2]
    assert snapshot_bucket_spec(path, 1) is not None
    assert snapshot_bucket_spec(path, 2) is not None

    # time travel through the catalog path
    old = {r["k"]: r["v"] for r in snapshot_read(spark, path, version=1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}

    # change feed across bucketed versions
    feed = {
        (r["k"], r["_change"]): r["v"]
        for r in snapshot_diff(spark, path, 1, 2, keys=["k"]).collect()
    }
    assert feed == {(2, "update"): "B", (3, "delete"): "c", (4, "insert"): "d"}

    # rollback re-points; layout and data intact; next write claims v3
    snapshot_rollback(path, 1)
    assert {r["k"] for r in snapshot_read(spark, path).collect()} == {1, 2, 3}
    assert snapshot_bucket_spec(path) is not None
    snapshot_overwrite(v2, path, keep=3)
    assert snapshot_versions(path) == [1, 2, 3]
    assert snapshot_bucket_spec(path, 3)["cols"] == ["k"]


def test_compaction_auto_rebuckets_growing_table(spark, tmp_path):
    """auto_buckets at compaction: the weekly sweep re-sizes a bucketed
    table's count from its live bytes — exercised by shrinking the
    helper's target via monkeypatched byte accounting is overkill;
    instead verify (a) a right-sized table is a no-op, (b) an
    OVER-bucketed table (spec n >> auto size) re-buckets DOWN to the
    auto count with identical rows."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_bucket_spec,
        snapshot_compact,
    )

    path = str(tmp_path / "t")
    df = spark.range(0, 5000).withColumn("k", F.col("id") % 50)
    # create with a too-large count for this tiny table
    snapshot_overwrite(df, path, bucket_by=["k"], n_buckets=64)
    assert snapshot_bucket_spec(path)["n"] == 64
    out = snapshot_compact(spark, path, auto_buckets=True)
    assert out is not None
    spec = snapshot_bucket_spec(path)
    assert spec["cols"] == ["k"] and spec["n"] == 8  # auto floor
    assert snapshot_read(spark, path).count() == 5000
    # second sweep: right-sized now; only compacts if files > count
    files = [
        f for f in os.listdir(out) if f.endswith(".parquet")
    ]
    assert len(files) <= 8
    assert snapshot_compact(spark, path, auto_buckets=True) is None


def test_bucketed_snapshot_nested_types_reregister(spark, tmp_path):
    """The catalog re-register path derives DDL from parquet footers —
    nested types (array, struct, date) must survive a fresh-catalog
    read of a bucketed version byte-identically."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        _bucket_table_name,
        _current_version,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, ["a", "b"], {"x": 1, "y": "u"}, "2026-01-01"),
         (2, [], {"x": 2, "y": None}, "2026-01-02")],
        "k long, tags array<string>, meta struct<x:int,y:string>, d string",
    ).withColumn("d", F.col("d").cast("date"))
    snapshot_overwrite(df, path, bucket_by=["k"], n_buckets=4)
    spark.sql(f"DROP TABLE IF EXISTS {_bucket_table_name(path, _current_version(path))}")
    got = snapshot_read(spark, path)
    assert got.schema == df.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, df.collect()))


def _dir_parquet_bytes(d):
    total = 0
    for root, _, files in os.walk(d):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    return total


def test_epoch_append_read_and_replay_supersede(spark, tmp_path):
    """The epoch-append commit (round 12): each epoch lands as its own
    file set; epoch_read unions base + epochs; a re-run of the SAME
    epoch (at-least-once replay) supersedes the earlier attempt so the
    store converges; exclude_epoch hides exactly one epoch."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_ids,
        epoch_read,
    )

    path = str(tmp_path / "store")
    e0 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    e1 = spark.createDataFrame([(3, "c")], "k long, v string")
    epoch_append(e0, path, 0)
    epoch_append(e1, path, 1)
    assert epoch_ids(path) == [0, 1]
    got = {tuple(r) for r in epoch_read(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # exclude_epoch: the merge's "store without my own epoch" view
    got0 = {tuple(r) for r in epoch_read(spark, path, exclude_epoch=1).collect()}
    assert got0 == {(1, "a"), (2, "b")}
    # replay of epoch 1 with different rows REPLACES, never doubles
    e1b = spark.createDataFrame([(3, "c"), (4, "d")], "k long, v string")
    epoch_append(e1b, path, 1)
    got = {tuple(r) for r in epoch_read(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c"), (4, "d")}
    assert epoch_ids(path) == [0, 1]


def test_epoch_append_io_is_batch_sized_not_store_sized(spark, tmp_path):
    """The scale contract the epoch log exists for: committing a small
    epoch on top of a large store writes ~the batch's bytes, NOT the
    store's (the old read→union→overwrite merge rewrote everything).
    Asserted on actual parquet bytes on disk."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_read,
    )

    path = str(tmp_path / "store")
    big = spark.range(200_000).select(
        F.col("id").alias("k"), F.md5(F.col("id").cast("string")).alias("v")
    )
    big_dir = epoch_append(big, path, 0)
    big_bytes = _dir_parquet_bytes(big_dir)
    small = spark.createDataFrame([(10**9, "tiny")], "k long, v string")
    small_dir = epoch_append(small, path, 1)
    small_bytes = _dir_parquet_bytes(small_dir)
    assert small_bytes < big_bytes / 20, (small_bytes, big_bytes)
    assert epoch_read(spark, path).count() == 200_001


def test_epoch_compact_folds_into_base_and_drops_epochs(spark, tmp_path):
    """epoch_compact commits the fold as a BASE snapshot version and
    removes exactly the folded epoch dirs; reads before/after agree;
    post-compaction appends union on top of the base."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_compact,
        epoch_ids,
        epoch_read,
        snapshot_read,
    )

    path = str(tmp_path / "store")
    for e in range(3):
        epoch_append(
            spark.createDataFrame([(e, e * 10)], "k long, n long"), path, e
        )
    before = {tuple(r) for r in epoch_read(spark, path).collect()}
    epoch_compact(spark, path)
    assert epoch_ids(path) == []
    assert {tuple(r) for r in snapshot_read(spark, path).collect()} == before
    assert {tuple(r) for r in epoch_read(spark, path).collect()} == before
    # new epochs stack on the compacted base
    epoch_append(spark.createDataFrame([(99, 990)], "k long, n long"), path, 7)
    assert {tuple(r) for r in epoch_read(spark, path).collect()} == before | {(99, 990)}


def test_reregistered_checkpoint_rebases_epoch_ids(spark, tmp_path):
    """A store re-pointed at a NEW writer checkpoint (the supported
    last-writer-wins re-registration) must accept the fresh stream's
    epoch ids, which restart at 0: register_store_checkpoint commits
    an epoch-id rebase past the fold watermark and every committed
    epoch, so the watermark tripwire guards the offline contract
    without bricking a legitimate re-ingest flow. Within ONE
    checkpoint the base is stable, so replays still supersede their
    own attempt."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_compact,
        epoch_ids,
        epoch_read,
        register_store_checkpoint,
    )

    path = str(tmp_path / "store")
    register_store_checkpoint(path, str(tmp_path / "ckA"))
    for e in range(3):
        epoch_append(
            spark.createDataFrame([(e, e * 10)], "k long, n long"), path, e
        )
    epoch_compact(spark, path)  # fold watermark = on-disk epoch 2
    before = {tuple(r) for r in epoch_read(spark, path).collect()}

    # re-point at a fresh checkpoint: its foreachBatch ids restart at
    # 0 — pre-rebase this first append raised "epoch 0 <= watermark 2"
    register_store_checkpoint(path, str(tmp_path / "ckB"))
    epoch_append(spark.createDataFrame([(9, 90)], "k long, n long"), path, 0)
    got = {tuple(r) for r in epoch_read(spark, path).collect()}
    assert got == before | {(9, 90)}
    # replay of the SAME stream epoch supersedes, never doubles
    epoch_append(
        spark.createDataFrame([(9, 90), (10, 100)], "k long, n long"), path, 0
    )
    got = {tuple(r) for r in epoch_read(spark, path).collect()}
    assert got == before | {(9, 90), (10, 100)}
    # the rebased on-disk ids sit strictly past the fold watermark
    assert all(e > 2 for e in epoch_ids(path)), epoch_ids(path)
    # same-checkpoint re-registration (process restart) keeps the base
    register_store_checkpoint(path, str(tmp_path / "ckB"))
    epoch_append(spark.createDataFrame([(11, 110)], "k long, n long"), path, 1)
    assert len(epoch_ids(path)) == 2, epoch_ids(path)


def test_epoch_delete_keys_purges_rows_and_epoch_files(spark, tmp_path):
    """GDPR deletion on an epoch store: matching rows vanish from the
    read face, the folded epoch dirs (which physically held them) are
    gone, and pre-delete versions are not retained for time travel —
    a delete whose data survives somewhere isn't a delete."""
    import os

    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_delete_keys,
        epoch_ids,
        epoch_read,
        snapshot_versions,
    )

    path = str(tmp_path / "store")
    for e in range(3):
        epoch_append(
            spark.createDataFrame(
                [(e * 10 + i, f"u{i}") for i in range(4)], "k long, user string"
            ),
            path,
            e,
        )
    doomed = spark.createDataFrame([("u1",), ("u3",)], "user string")
    out = epoch_delete_keys(spark, path, doomed, ["user"])
    assert out == {"deleted": 6, "remaining": 6}
    got = {r["user"] for r in epoch_read(spark, path).collect()}
    assert got == {"u0", "u2"}
    assert epoch_ids(path) == []  # the doomed rows' files are gone
    assert len(snapshot_versions(path)) == 1  # no pre-delete history
    # byte-level: no parquet file under the store still holds 'u1'
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "rb") as fh:
                    assert b"u1" not in fh.read()


def test_epoch_append_empty_batch_is_readable(spark, tmp_path):
    """An all-duplicates micro-batch appends an EMPTY epoch (the URL
    first-seen merge's common steady state). Spark writes a
    schema-carrying part file even for zero rows, so epoch_read's
    multi-path scan must keep working across empty epochs — and a
    later non-empty epoch stacks normally."""
    from data_warehouse_nhom8_spark.sources.snapshots import (
        epoch_append,
        epoch_ids,
        epoch_read,
    )

    path = str(tmp_path / "store")
    epoch_append(spark.createDataFrame([(1, "a")], "k long, v string"), path, 0)
    epoch_append(spark.createDataFrame([], "k long, v string"), path, 1)
    assert epoch_ids(path) == [0, 1]
    assert {tuple(r) for r in epoch_read(spark, path).collect()} == {(1, "a")}
    epoch_append(spark.createDataFrame([(2, "b")], "k long, v string"), path, 2)
    assert {tuple(r) for r in epoch_read(spark, path).collect()} == {(1, "a"), (2, "b")}


def test_epoch_compact_is_crash_atomic_via_fold_watermark(spark, tmp_path, monkeypatch):
    """A crash between the fold's pointer swap and its epoch-dir GC
    must NOT double-count: the committed version carries a
    _FOLDED_THROUGH watermark that hides the folded epochs even while
    their dirs survive on disk. Simulated by making rmtree a no-op
    during compact (the crash window), then checking reads, then
    verifying the next compact GC's the debris for real."""
    import shutil as _shutil

    from data_warehouse_nhom8_spark.sources import snapshots as S

    real_rmtree = _shutil.rmtree
    path = str(tmp_path / "store")
    for e in range(3):
        S.epoch_append(
            spark.createDataFrame([(e, 1)], "k long, n long"), path, e
        )
    before = {tuple(r) for r in S.epoch_read(spark, path).collect()}

    monkeypatch.setattr(S.shutil, "rmtree", lambda *a, **k: None)
    S.epoch_compact(spark, path)
    monkeypatch.setattr(S.shutil, "rmtree", real_rmtree)

    # folded dirs survive on disk, but the watermark hides them
    import os as _os

    survivors = _os.listdir(_os.path.join(path, "epochs"))
    assert survivors, "crash simulation should leave folded epoch dirs"
    assert S.epoch_folded_through(path) == 2
    assert S.epoch_ids(path) == []
    assert {tuple(r) for r in S.epoch_read(spark, path).collect()} == before

    # replaying a FOLDED epoch is a contract break — loud, not silent
    import pytest as _pytest

    with _pytest.raises(ValueError, match="fold watermark"):
        S.epoch_append(spark.createDataFrame([(9, 9)], "k long, n long"), path, 1)

    # new epochs stack; the next fold GC's the crash debris for real
    S.epoch_append(spark.createDataFrame([(7, 1)], "k long, n long"), path, 7)
    S.epoch_compact(spark, path)
    assert S.epoch_folded_through(path) == 7
    assert not _os.listdir(_os.path.join(path, "epochs"))
    assert {tuple(r) for r in S.epoch_read(spark, path).collect()} == before | {(7, 1)}


def test_fold_watermark_is_sticky_across_plain_base_writes(spark, tmp_path):
    """A base rewrite that doesn't know about epochs (GDPR delete, a
    re-layout) must carry the fold watermark forward — otherwise
    crash-debris epochs below it would resurrect on the next read."""
    from data_warehouse_nhom8_spark.sources import snapshots as S

    path = str(tmp_path / "store")
    S.epoch_append(spark.createDataFrame([(1, 1)], "k long, n long"), path, 0)
    S.epoch_compact(spark, path)
    assert S.epoch_folded_through(path) == 0
    S.snapshot_overwrite(
        spark.createDataFrame([(2, 2)], "k long, n long"), path
    )
    assert S.epoch_folded_through(path) == 0


def test_epoch_delete_keys_sweeps_uncommitted_debris(spark, tmp_path):
    """GDPR erasure must also remove marker-less crash-debris attempt
    dirs (a crashed in-flight append readers never saw) — bytes of a
    doomed key must not survive anywhere under the store."""
    import os as _os

    from data_warehouse_nhom8_spark.sources import snapshots as S

    path = str(tmp_path / "store")
    S.epoch_append(
        spark.createDataFrame([(1, "doomed-user"), (2, "kept")], "k long, user string"),
        path,
        0,
    )
    # marker-less debris dir holding the doomed key's bytes
    debris = _os.path.join(path, "epochs", "e000000000005_a0001")
    spark.createDataFrame([(9, "doomed-user")], "k long, user string").write.mode(
        "overwrite"
    ).parquet(debris)
    _os.remove(_os.path.join(debris, "_COMPLETE")) if _os.path.exists(
        _os.path.join(debris, "_COMPLETE")
    ) else None
    out = S.epoch_delete_keys(
        spark, path, spark.createDataFrame([("doomed-user",)], "user string"), ["user"]
    )
    assert out["remaining"] == 1
    for root, _, files in _os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                with open(_os.path.join(root, f), "rb") as fh:
                    assert b"doomed-user" not in fh.read()
