"""Streaming jobs (SURVEY.md §2h).

The reference is batch-only: daily cron micro-batches (extract doc
§8.1), relative-timestamp late data resolved at rest
(staging_transformer_v2.py:64-75), upsert-on-arrival
(ON DUPLICATE KEY, :134-144). The engine maps those semantics to
Structured Streaming:

  daily cron ingest      → file source + Trigger.AvailableNow
  late data tolerance    → withWatermark on the event-time column
  day-grain rollup       → tumbling F.window(ts, "1 day")
  (not in reference)     → sliding F.window / F.session_window,
                           exposed for the idiomatic surface
  ON DUPLICATE KEY       → foreachBatch running the SAME batch merge
                           (operators.dedup.upsert_last_writer_wins) —
                           one merge implementation for batch + stream

Exactly-once-ish: the file source + checkpoint gives at-least-once
micro-batches; the upsert sink is idempotent by key, so replays
converge — the same contract the reference gets from its skip-if-done
ledger + UNIQUE key.

Epoch-append stores (round 12). Twelve persisted stores — near-dup
state and pairs, sketch, vocab, corpus, chunks, freq, span, URL, IVF,
SimHash signatures and the cluster map — share one set of storage
mechanics, written once in this module; each store's face keeps only
its batch transform, its fold and its read shape.

  sink      `_foreach_batch_sink` registers the sink's checkpoint as
            each store's writer (`snapshots.register_store_checkpoint`
            — the handle the offline guard resolves to a live query)
            and wires foreachBatch.
  append    `_append_epoch` commits a micro-batch's rows as THAT
            epoch's file set (`snapshots.epoch_append`): O(batch)
            merge I/O, the store is never rewritten on the hot path
            (a read→union→overwrite merge is O(store) per epoch). A
            replayed micro-batch REPLACES its own epoch's files, so
            additive counts stay exact and the at-least-once file
            source is effectively exactly-once. Rows carry a
            storage `epoch` column stamped with the ON-DISK id (stream
            id + re-registration rebase, `snapshots.on_disk_epoch`),
            so last-writer-wins `desc(epoch)` agrees with the log.
  read      `_committed` returns base ∪ epochs — or the split
            last-writer-wins read `_lww_read`, where a later epoch
            beats an earlier one (the old incoming-beats-current
            upsert) — and raises FileNotFoundError on an empty store.
            The storage `epoch` column is dropped by LWW reads.
  compact   `compact_*` fold base + epochs into a new BASE version
            whose rows carry `epoch = -1` (`_as_base`), which every
            live epoch beats. OFFLINE only, with the stream stopped at
            a committed checkpoint: a replayed batch could not replace
            rows the fold moved into the base; after a clean stop
            there is nothing to replay, and the restarted stream's
            epochs never collide with -1. `snapshots.epoch_compact`
            enforces it mechanically.

Scale: stateful aggs keep per-window per-key state in the state
store; the watermark bounds state size. Shuffle partition count =
state store shard count — size it for the key cardinality, not the
data volume.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from data_warehouse_nhom8_spark.operators.dedup import upsert_last_writer_wins
from data_warehouse_nhom8_spark.sources.snapshots import (
    assert_stamp_format,
    epoch_append,
    epoch_compact,
    epoch_read,
    epoch_read_parts,
    epoch_tail_bytes,
    on_disk_epoch,
    register_store_checkpoint,
    snapshot_overwrite,
    snapshot_read,
)


def stream_source(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source readStream over a (possibly partitioned) directory."""
    r = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        r = r.option("maxFilesPerTrigger", max_files_per_trigger)
    if fmt == "csv":
        r = r.option("header", "true")
    return r.load(path)


def tumbling_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    window: str = "1 day",
    watermark: str = "1 day",
) -> DataFrame:
    """Day-grain rollup (the A3/Q28 twin) with late-data tolerance."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact integer cents (value is 2-decimal fixed-point):
            # order-independent LONG sum in the window state — no boxed
            # decimal per event; per-window bound ~9e13 rows at any SF
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100.0
            ).alias("total"),
        )
        .select(F.col("w.start").alias("w_start"), *keys, "n", "total")
    )


def sliding_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window rollup (idiomatic surface; no reference twin)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "n")
    )


def session_rollup(
    events: DataFrame,
    ts_col: str = "ts",
    key: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows (gap-based), the streaming-native form of the
    Q29 LAG-gap analysis — one row per (key, session)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("s"), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key,
            F.col("s.start").alias("s_start"),
            F.col("s.end").alias("s_end"),
            "n_events",
        )
    )


def lint_microbatch(
    df: DataFrame,
    name: str,
    ledger=None,
    run_date=None,
    epoch_id: int = 0,
    enforce: bool = False,
    first_epoch_only: bool = True,
) -> list[dict]:
    """The streaming face of `plans.doctor` (VERDICT r7 stretch #9):
    run the 100 TB plan checklist on a micro-batch plan INSIDE a
    foreachBatch body, where streaming plans actually materialize
    (`lint_plan` needs an executed plan; a DataStreamWriter has none
    until an epoch runs).

    Findings land as a ``doctor:stream:<name>`` run-ledger row — the
    same monitoring surface as the batch doctor and dq:* rows — and
    `enforce=True` raises on a fatal anti-pattern, failing the
    streaming query LOUDLY on its first epoch instead of burning
    cluster time on a cartesian join every batch forever. Only epoch 0
    is linted by default: the micro-batch plan shape is epoch-
    invariant, so re-rendering the plan per batch buys nothing.
    """
    if first_epoch_only and epoch_id:
        return []
    import datetime

    from data_warehouse_nhom8_spark.plans.doctor import lint_plan

    findings = lint_plan(df)
    fatal = [f for f in findings if f["severity"] == "fatal"]
    if ledger is not None:
        day = run_date or datetime.date.today()
        t0 = datetime.datetime.now()
        log_id = ledger.open_run(f"doctor:stream:{name}", day)
        msg = "; ".join(
            f"[{f['severity']}] {f['rule']}: {f['detail']}" for f in findings
        )
        ledger.close_run(
            log_id,
            f"doctor:stream:{name}",
            day,
            status="Failed" if fatal else "Success",
            rows_processed=len(findings),
            error_message=msg[:1000] or None,
            start_time=t0,
        )
    if enforce and fatal:
        raise ValueError(
            f"doctor:stream:{name}: fatal plan anti-patterns in the "
            f"micro-batch plan: {[f['rule'] for f in fatal]}"
        )
    return findings


# ------------------------------------------------- epoch-store mechanics


def _foreach_batch_sink(
    stream: DataFrame, checkpoint: str, merge, *store_paths: str
) -> DataStreamWriter:
    """The foreachBatch writer every sink returns, after registering
    `checkpoint` as the writer of each epoch store in `store_paths`."""
    for path in store_paths:
        register_store_checkpoint(path, checkpoint)
    return (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def _append_epoch(df: DataFrame, path: str, epoch_id: int) -> None:
    """Commit `df` as writer-stream epoch `epoch_id` of the store at
    `path`, its rows stamped with the on-disk epoch id."""
    stamp = F.lit(on_disk_epoch(path, epoch_id)).cast("long")
    epoch_append(df.withColumn("epoch", stamp), path, epoch_id)


def _committed(
    spark: SparkSession, path: str, sink: str, lww=None
) -> DataFrame:
    """The committed store at `path`: base ∪ epochs, or the split LWW
    read when `lww` is a store's (keys, tiebreak) — raising
    FileNotFoundError that names `sink` when nothing is committed."""
    if lww is None:
        store = epoch_read(spark, path)
    else:
        keys, tiebreak = lww
        store = _lww_read(spark, path, keys, [F.desc(c) for c in tiebreak])
    if store is None:
        raise FileNotFoundError(
            f"no committed store at {path}; run {sink} through at least "
            "one micro-batch first"
        )
    return store


def _as_base(fold):
    """A compaction fold: `fold`, then the base version's `epoch = -1`
    stamp."""
    return lambda store: fold(store).withColumn("epoch", F.lit(-1).cast("long"))


def _sum_fold(key: str, col: str):
    """Fold of an additive store: `col` summed per `key` (count
    addition is associative, so folding epochs changes no read)."""
    return lambda store: store.groupBy(key).agg(F.sum(col).cast("long").alias(col))


def _lww_fold(keys: Sequence[str], tiebreak: Sequence[str]):
    """Fold of a last-writer-wins store: one winner per key."""
    return lambda store: _lww_resolve(store, keys, [F.desc(c) for c in tiebreak])


# last-writer-wins stores: (keys, columns breaking ties within an
# epoch, descending)
_PAIRS_LWW = (["id_a", "id_b"], ["jaccard"])
_CORPUS_LWW = (["doc_id"], ["n_tokens"])
_CHUNKS_LWW = (["doc_id", "chunk_id"], ["chunk_fp"])
_SIMHASH_LWW = (["id"], ["sh"])
# additive stores: (key, count column)
_VOCAB_SUM = ("token", "n")
_SPAN_SUM = ("h", "n_docs")


def _first_seen(rows: DataFrame, path: str, key: str, epoch_id: int) -> DataFrame:
    """`rows` whose `key` no earlier epoch of the store admitted — the
    first-seen merge of the URL and IVF registries. The replaying
    epoch's own files are excluded, so a replay recomputes its delta
    without its previous attempt poisoning the anti-join.

    SPLIT anti-join (round 12): anti vs the base and the epoch tail
    separately — unioning a bucketed base with plain epoch files would
    erase its distribution and shuffle the whole registry every batch;
    sequentially, the base stays put (batch-sized shuffle onto its
    buckets) and the epoch tail (bounded by compaction cadence) joins
    broadcast-sized. Anti against A∪B ≡ anti A then anti B."""
    for part in epoch_read_parts(rows.sparkSession, path, exclude_epoch=epoch_id):
        if part is not None:
            rows = rows.join(part.select(key), key, "left_anti")
    return rows


# forced-broadcast ceiling for the live epoch tail's key set (on-disk
# parquet bytes of the full tail — the key projection is smaller, so
# this is conservative). 64 MiB compressed ≈ low-hundreds-MB in-memory
# hash relation: comfortably executor/driver-safe at local and
# cluster defaults, far above any on-cadence compaction tail.
_TAIL_BROADCAST_MAX_BYTES = 64 << 20


def _lww_resolve(store: DataFrame, keys: Sequence[str], tiebreak) -> DataFrame:
    """Winner per key across epochs: later epoch beats earlier (the
    old upsert's incoming-beats-current), `tiebreak` orders within an
    epoch. Drops the storage-only epoch column so readers see exactly
    the batch pipeline's schema."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.desc("epoch"), *tiebreak)
    return (
        store.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "epoch")
    )


def _lww_read(
    spark: SparkSession,
    path: str,
    keys: Sequence[str],
    tiebreak,
    exclude_epoch: int | None = None,
) -> DataFrame | None:
    """SPLIT last-writer-wins read (round 12): a window over
    base ∪ epochs shuffles the whole store per read; instead the
    BASE is by construction already resolved to one row per key
    (every base commit goes through the resolve fold, tagged
    epoch = -1, which every live epoch ≥ 0 beats), so the read is
      base rows whose key has NO live-epoch row   (broadcast anti —
                                                   the base never
                                                   shuffles)
      ∪ the live-epoch tail resolved on its own   (window over the
                                                   compaction-bounded
                                                   tail only).
    Identical output to resolving the union (pytest-gated by every
    stream==batch equality test); O(base scan + tail window) instead
    of O(store shuffle) at 100 TB."""
    # r14 tripwire: refuse a rebased store whose live rows may carry
    # pre-fix RAW epoch stamps (they'd silently lose every resolve
    # below) — metadata-only check, repair = snapshots.epoch_restamp
    assert_stamp_format(path)
    base, tail = epoch_read_parts(spark, path, exclude_epoch=exclude_epoch)
    if base is None and tail is None:
        return None
    if tail is None:
        return base.drop("epoch")
    tail_w = _lww_resolve(tail, keys, tiebreak)
    if base is None:
        return tail_w
    tail_keys = tail.select(*keys).distinct()
    # Broadcast only when the tail's on-disk bytes say it is small:
    # the tail is bounded by compaction CADENCE, not by size, and a
    # forced F.broadcast bypasses autoBroadcastJoinThreshold — a
    # lagging compaction must degrade to a shuffled anti join (slow,
    # base loses co-location for that read), never OOM the driver.
    if epoch_tail_bytes(path, exclude_epoch) <= _TAIL_BROADCAST_MAX_BYTES:
        tail_keys = F.broadcast(tail_keys)
    keep = base.join(tail_keys, list(keys), "left_anti").drop("epoch")
    return keep.unionByName(tail_w)


def upsert_sink(
    stream: DataFrame,
    snapshot_path: str,
    keys: Sequence[str],
    order_by_cols: Sequence[str],
    checkpoint: str,
    doctor_name: str | None = None,
    doctor_ledger=None,
    doctor_enforce: bool = False,
) -> DataStreamWriter:
    """foreachBatch upsert into a parquet snapshot — the streaming
    face of D1. Each micro-batch runs the shared batch merge against
    the current snapshot and atomically rewrites it.

    Idempotent under micro-batch replay (merge by key), which is what
    makes the at-least-once file source effectively exactly-once here.

    Why this face stays copy-on-write while the store faces moved to
    epoch-append commits (round 12): this sink maintains a GENERAL
    warehouse table whose whole point is that every downstream reader
    sees plain `snapshot_read` semantics — time travel, change feed,
    GDPR deletes, bucketed layout all hang off the version chain. A
    keyed MERGE is a rewrite in every table format too (copy-on-write
    Iceberg/Delta MERGE); the scale lever here is the bucketed layout
    (only the increment shuffles — see upsert_keyed_join) and, at
    partition grain, dynamic partition overwrite. The epoch log is
    for APPEND-shaped stores with dedicated read faces.

    `doctor_name` opts the sink into the first-epoch plan lint
    (`lint_microbatch`): the merged plan is reviewed before the write
    and findings ledger as ``doctor:stream:<name>``.
    """

    def merge(batch: DataFrame, epoch_id: int) -> None:
        current = snapshot_read(batch.sparkSession, snapshot_path)
        order_by = [F.desc(c) for c in order_by_cols]
        merged = upsert_last_writer_wins(current, batch, keys, order_by)
        if doctor_name:
            lint_microbatch(
                merged,
                doctor_name,
                ledger=doctor_ledger,
                epoch_id=epoch_id,
                enforce=doctor_enforce,
            )
        # distributed write to a fresh version dir + atomic pointer
        # swap: the input version's files stay intact until after the
        # commit, so there is no read-your-own-delete hazard and no
        # driver materialization — see sources.snapshots
        snapshot_overwrite(merged, snapshot_path)

    return _foreach_batch_sink(stream, checkpoint, merge)


_HIVE_DEFAULT_PART = "__HIVE_DEFAULT_PARTITION__"
# chars Spark's hive-layout writer percent-escapes in partition dir
# names (ExternalCatalogUtils.escapePathName's set): ASCII control
# chars plus the path/metachars below, as %XX uppercase hex
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def _hive_part_dirname(col: str, value) -> str:
    """The partition directory name Spark's writer creates for
    `col=value` — NULL and empty string land in the hive default
    partition; everything else is the value's string form with the
    writer's percent-escaping. Pytest pins this against directories
    Spark itself wrote (str/int/date/None/empty/metachar values)."""
    if value is None or value == "":
        return f"{col}={_HIVE_DEFAULT_PART}"
    if isinstance(value, bool):
        s = "true" if value else "false"
    elif isinstance(value, str):
        s = value
    else:
        s = str(value)  # int, date (ISO), datetime (space-separated)
    esc = "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_ESCAPE else ch for ch in s
    )
    return f"{col}={esc}"


def _touched_partition_paths(
    table_path: str, partition_col: str, values
) -> list[str]:
    """The K on-disk partition directories a micro-batch touches —
    constructed from the batch's distinct partition VALUES, so the
    read-back's file index lists O(K) directories instead of the full
    hive tree (r13 verdict task 3: on a 100 TB table with ~10⁵
    day×source dirs, a per-batch full listing is real driver/object-
    store time even though DPP already bounded the data reads).
    Values with no directory yet (first write of a partition) are
    simply absent — there is nothing to read back for them."""
    names = {_hive_part_dirname(partition_col, v) for v in values}
    return sorted(
        p
        for p in (os.path.join(table_path, n) for n in names)
        if os.path.isdir(p)
    )


def upsert_sink_partitioned(
    stream: DataFrame,
    table_path: str,
    keys: Sequence[str],
    order_by_cols: Sequence[str],
    partition_col: str,
    checkpoint: str,
) -> DataStreamWriter:
    """Partition-grain streaming MERGE (round 13): the upsert sink for
    a HIVE-PARTITIONED warehouse table (`layout.write_hive_partitioned`
    trees). Where `upsert_sink` rewrites the whole snapshot per
    micro-batch (copy-on-write MERGE — correct for the versioned
    store, priced by the TABLE), this sink prices the merge by the
    BATCH's partitions (r14 form): the batch's distinct partition
    VALUES (a bounded control-plane collect) are rendered into the K
    on-disk partition directory paths (`_touched_partition_paths` —
    hive-escaped, pinned against directories Spark itself wrote) and
    the read-back opens exactly those directories, so both the file
    LISTING and the data read are O(K) — the r13 semi-join + dynamic-
    partition-pruning form bounded the data read but still paid a
    full hive-tree listing per micro-batch. The same last-writer-wins
    merge runs, and the write uses dynamic partition overwrite
    (`partitionOverwriteMode=dynamic`, pinned per-write) — so exactly
    the K touched partitions are replaced and the rest of a 100 TB
    table is never read or written.

    CONTRACT: `partition_col` must be key-stable — a row key's
    partition value never changes across versions (the day-grain fact
    keyed by (day, id), the reference's truncate-and-reload day). A
    key that MOVED partitions would leave its old row behind, because
    only the touched partitions are merged. This is the standard
    partition-grain MERGE constraint (Hive dynamic overwrite, Delta
    replaceWhere share it).

    CONTRACT (r14, explicit-path consequence): `partition_col` must
    be a string / integral / date / boolean column — the types whose
    Python `str()` rendering provably matches Spark's own partition-
    directory rendering (pytest-pinned). DOUBLE/FLOAT, TIMESTAMP, and
    DECIMAL partition values are REFUSED at sink construction: Java
    renders 1.2345678E7 where Python writes 12345678.0 and trims
    fractional-second zeros Python keeps, so a constructed path would
    silently MISS the real directory and the dynamic overwrite would
    replace that partition with batch-only rows — deleting committed
    history. (The r13 semi-join form matched by typed value and
    tolerated these types; the O(K)-listing form trades that for not
    listing 10⁵ directories per micro-batch.) Partition on a
    string/date projection of such columns instead.

    Replay-idempotent: a re-run micro-batch re-merges the same keys
    into the same partitions and overwrites the same directories —
    the at-least-once file source converges, same as `upsert_sink`."""
    ptype = stream.schema[partition_col].dataType
    if not isinstance(
        ptype,
        (T.StringType, T.IntegerType, T.LongType, T.ShortType, T.ByteType,
         T.DateType, T.BooleanType),
    ):
        raise TypeError(
            f"upsert_sink_partitioned: partition column {partition_col!r} "
            f"has type {ptype.simpleString()} — only string/integral/date/"
            "boolean partition values render identically in Python and in "
            "Spark's partition-directory writer. A double/timestamp/decimal "
            "value would construct a path that misses the real directory "
            "and the dynamic overwrite would silently DELETE that "
            "partition's committed rows. Partition on a string or date "
            "projection instead."
        )

    def merge(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.persist()
        try:
            if batch.isEmpty():
                return
            # the batch's distinct partition values — a BOUNDED
            # control-plane collect (K touched partitions per
            # micro-batch, the same cardinality the r13 DPP broadcast
            # carried), never row data
            touched_vals = [
                r[0]
                for r in batch.select(partition_col)
                .distinct()
                .collect()  # bounded-collect: K partition VALUES, never rows
            ]
            # construct the K(+NULL) partition directories from the
            # values (r14, verdict task 3): the r13 semi-join + DPP
            # form bounded the DATA read to K partitions but still
            # paid a FULL hive-tree file-index listing per micro-batch
            # — O(all partitions) driver metadata work on a 100 TB
            # table. An explicit path list makes the listing itself
            # O(K).
            # PIN the batch's schema on the read-back: partition-
            # directory type INFERENCE would re-type e.g. a
            # zero-padded STRING day ("00123") as INT and the next
            # write would land it in a NEW directory (day=123),
            # stranding the old partition's rows as permanent
            # stale duplicates. basePath keeps the partition column
            # in scope for the leaf-dir scan.
            paths = _touched_partition_paths(
                table_path, partition_col, touched_vals
            )
            current = None
            if paths:
                current = (
                    spark.read.schema(batch.schema)
                    .option("basePath", table_path)
                    .parquet(*paths)
                )
            order_by = [F.desc(c) for c in order_by_cols]
            merged = upsert_last_writer_wins(current, batch, keys, order_by)
            # PIN dynamic overwrite on the writer itself: under the
            # ambient STATIC default (a stock session that didn't go
            # through session.get_spark) mode=overwrite would delete
            # the ENTIRE table tree — including every untouched
            # partition — before the job runs. The per-write option
            # overrides any session conf, so the merge can never
            # depend on who built the session.
            merged.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(partition_col).parquet(table_path)
        finally:
            batch.unpersist()

    return _foreach_batch_sink(stream, checkpoint, merge)


def neardup_ingest_sink(
    stream: DataFrame,
    state_path: str,
    pairs_path: str,
    checkpoint: str,
    threshold: float = 0.7,
    k: int = 64,
    bands: int = 16,
    shingle_w: int = 3,
    max_bucket_size: int = 200,
) -> DataStreamWriter:
    """Streaming near-dup ingest — the LLM-pipeline face of the
    foreachBatch upsert: every micro-batch of documents is
    incrementally deduped against the persisted (id, sig, h64)
    signature state (operators.neardup.minhash_incremental_with_state
    — only the batch is shingled/signatured); the batch's state rows
    and its newly found pairs land as that epoch's files in the two
    stores. Feeding batches one at a time produces exactly the full
    batch detector's pair set (pytest-gated). Reads go through `read_sig_state` /
    `read_neardup_pairs`, last-writer-wins per key. Assumes an
    append-only corpus (the LLM-ingest shape): re-ingesting a CHANGED
    text under an existing id updates its state row but does not
    retract pairs the old text produced."""
    from data_warehouse_nhom8_spark.operators.neardup import (
        minhash_incremental_with_state,
    )

    def merge(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        store = read_sig_state(spark, state_path, exclude_epoch=epoch_id)
        pairs, new_store = minhash_incremental_with_state(
            batch,
            store,
            threshold=threshold,
            k=k,
            bands=bands,
            shingle_w=shingle_w,
            max_bucket_size=max_bucket_size,
        )
        # the batch's state delta: new_store = kept_old ∪ batch rows,
        # and kept_old excludes batch ids by construction, so a semi
        # join on the batch's ids selects exactly the batch's rows —
        # the WRITE is batch-sized (the store is only ever read)
        batch_ids = batch.select(F.col("doc_id").alias("id")).distinct()
        # state first: a crash between the two appends re-runs the
        # micro-batch (at-least-once), and both appends replace their
        # own epoch's files — idempotent either way
        _append_epoch(new_store.join(batch_ids, "id", "left_semi"), state_path, epoch_id)
        _append_epoch(pairs, pairs_path, epoch_id)

    return _foreach_batch_sink(stream, checkpoint, merge, state_path, pairs_path)


def read_sig_state(
    spark: SparkSession, state_path: str, exclude_epoch: int | None = None
) -> DataFrame | None:
    """(id, sig, h64) — the near-dup signature state, last-writer-wins
    resolved per id across epochs (re-ingested ids take their newest
    epoch's row). None when nothing is committed yet."""
    return _lww_read(spark, state_path, ["id"], [], exclude_epoch=exclude_epoch)


def read_neardup_pairs(spark: SparkSession, pairs_path: str) -> DataFrame:
    """(id_a, id_b, jaccard) — the accumulated near-dup pair table,
    one row per pair: later epochs beat earlier for a re-derived pair,
    jaccard descending breaks ties within an epoch."""
    return _committed(spark, pairs_path, "neardup_ingest_sink", _PAIRS_LWW)


def sketch_rollup_sink(
    stream: DataFrame,
    store_path: str,
    fine_keys: Sequence[str],
    distinct_col: str,
    checkpoint: str,
) -> DataStreamWriter:
    """Streaming maintenance of the mergeable HLL sketch store — the
    incremental face of `aggregates.hll_sketch_rollup`: each
    micro-batch pre-aggregates one sketch row per fine cell as that
    epoch's files, so both the distinct estimates and n_rows stay
    exact under replay. Coarse rollups read the store with
    `read_sketch_rollup` and never touch the fact stream;
    `compact_sketch_store` re-groups epochs without changing any
    estimate (sketch union is associative)."""
    merge = sketch_store_merge(store_path, fine_keys, distinct_col)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def sketch_store_merge(
    store_path: str, fine_keys: Sequence[str], distinct_col: str
):
    """The sketch store's foreachBatch merge, as a standalone builder:
    exposed so the restart tests can drive the EXACT production merge
    under an injected mid-epoch kill (store written, checkpoint not
    committed) and assert the epoch-replacement idempotence that makes
    Spark's re-delivery converge."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        cells = batch.groupBy(*fine_keys).agg(
            F.hll_sketch_agg(distinct_col).alias("sketch"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        _append_epoch(cells, store_path, epoch_id)

    return merge


def read_sketch_rollup(
    spark: SparkSession,
    store_path: str,
    coarse_keys: Sequence[str],
    est_name: str = "est_distinct",
) -> DataFrame:
    """Answer a coarse distinct rollup from the streaming sketch store
    alone: union the per-(cell, epoch) sketches up to `coarse_keys`.
    Same output shape as `hll_sketch_rollup`'s coarse table."""
    store = _committed(spark, store_path, "sketch_rollup_sink")
    return store.groupBy(*coarse_keys).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(est_name),
        F.sum("n_rows").alias("n_rows"),
    )


def compact_sketch_store(
    spark: SparkSession, store_path: str, fine_keys: Sequence[str]
) -> None:
    """Fold all epochs of the sketch store into one row per cell:
    sketch union is associative, so every rollup estimate is unchanged
    and n_rows sums exactly; the store shrinks from cells × epochs to
    cells rows."""
    epoch_compact(
        spark,
        store_path,
        fold=_as_base(
            lambda store: store.groupBy(*fine_keys).agg(
                F.hll_union_agg("sketch").alias("sketch"),
                F.sum("n_rows").alias("n_rows"),
            )
        ),
    )


def vocab_store_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming maintenance of the unigram vocabulary store — the
    incremental face of `text.unigram_surprisal_scores` (see
    `text.merge_vocab_counts`): each micro-batch contributes one
    (token, n, epoch) row per token and `read_vocab_store` sums
    across epochs, so LM-quality scoring of a daily batch
    (`text.surprisal_against_vocab`) never re-tokenizes the corpus."""
    merge = vocab_store_merge(store_path, id_col, text_col)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def vocab_store_merge(store_path: str, id_col: str = "doc_id", text_col: str = "text"):
    """The vocab store's foreachBatch merge, as a standalone builder
    (same rationale as `sketch_store_merge`: the restart tests inject
    a crash between store write and checkpoint commit and re-run the
    exact production path)."""
    from data_warehouse_nhom8_spark.operators.text import vocab_counts

    def merge(batch: DataFrame, epoch_id: int) -> None:
        _append_epoch(vocab_counts(batch, id_col, text_col), store_path, epoch_id)

    return merge


def read_vocab_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(token, n) summed across epochs — the vocabulary table
    `text.surprisal_against_vocab` scores against; equal to
    `text.vocab_counts` over everything ingested (pytest-gated)."""
    return _sum_fold(*_VOCAB_SUM)(_committed(spark, store_path, "vocab_store_sink"))


def compact_vocab_store(spark: SparkSession, store_path: str) -> None:
    """Fold all epochs into a base version with one row per token
    (count addition is associative — every downstream surprisal score
    unchanged)."""
    epoch_compact(spark, store_path, fold=_as_base(_sum_fold(*_VOCAB_SUM)))


def run_available_now(writer: DataStreamWriter) -> None:
    """Drain everything currently in the source, then stop — the
    daily-cron micro-batch semantics (Trigger.AvailableNow)."""
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def corpus_ingest_sink(
    stream: DataFrame,
    corpus_path: str,
    chunks_path: str,
    checkpoint: str,
    min_tokens: int = 30,
    chunk_tokens: int = 128,
    stride: int = 64,
    bench_grams: str | None = None,
    decontam_gram_w: int = 8,
    max_cont_fraction: float | None = None,
    html_col: str | None = None,
) -> DataStreamWriter:
    """Streaming corpus prep — the streaming face of
    `pipeline.corpus_prep`: each micro-batch of raw documents runs
    the SAME certified plan (quality gate → lang-ID → split, the
    q58 chain) and commits the batch's prepped docs / chunks as
    that epoch's files. Last-writer-wins by doc_id (and (doc_id, chunk_id) for
    chunks) is resolved AT READ TIME by `read_corpus_store` /
    `read_chunks_store` — n_tokens / chunk_fp break ties within an
    epoch; `compact_corpus_store` materializes the resolution
    offline.

    Dedup semantics: exact dedup runs WITHIN each micro-batch plus
    id-keyed last-writer-wins ACROSS batches. Cross-batch
    content-level dedup (same text, different ids) is a composition,
    not a re-implementation: pipe the stream through
    `streaming.stateful.first_seen_filter` keyed on
    `text.fingerprint_col` before this sink.

    Decontamination-on-ingest (round 11): pass `bench_grams` (a
    `benchmark_gram_store` PATH — static between suite changes, so
    no per-batch re-digesting) and each micro-batch is scrubbed
    through `operators.corpus.decontaminate_gate` BEFORE prep —
    quality gates and chunking see the clean text, exactly as the
    batch job does with the same arguments (equality pytest-gated);
    `max_cont_fraction` drops past-salvage docs at the door.

    HTML ingest (round 11): `html_col` names a raw-HTML column — each
    micro-batch opens with crawl-tier extraction
    (`operators.text.html_text_cols`, q117's operator), exactly as
    the batch job does with the same argument (equality
    pytest-gated), so every downstream stage sees text, never
    markup."""
    from data_warehouse_nhom8_spark.operators.corpus import chunk_documents
    from data_warehouse_nhom8_spark.pipeline.corpus_prep import prepare_corpus_df

    def merge(batch: DataFrame, epoch_id: int) -> None:
        if html_col is not None:
            from data_warehouse_nhom8_spark.operators.text import html_text_cols

            cols = html_text_cols(html_col)
            keep = [c for c in batch.columns if c not in (html_col, "text")]
            batch = batch.select(*keep, cols["text"].alias("text"))
        if bench_grams is not None:
            from data_warehouse_nhom8_spark.operators.corpus import (
                decontaminate_gate,
            )

            batch = decontaminate_gate(
                batch,
                bench_grams=bench_grams,
                gram_w=decontam_gram_w,
                max_cont_fraction=max_cont_fraction,
            )
        prepped = prepare_corpus_df(batch, min_tokens=min_tokens)
        # corpus first: a crash between the two appends re-runs the
        # micro-batch (at-least-once), and both appends replace their
        # own epoch's files — idempotent either way
        _append_epoch(prepped, corpus_path, epoch_id)
        chunks = chunk_documents(prepped, chunk_tokens=chunk_tokens, stride=stride)
        _append_epoch(chunks, chunks_path, epoch_id)

    return _foreach_batch_sink(stream, checkpoint, merge, corpus_path, chunks_path)


def read_corpus_store(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The streamed corpus, last-writer-wins resolved per doc_id —
    equal to the batch `prepare_corpus_df` output over everything
    ingested (pytest-gated)."""
    return _committed(spark, corpus_path, "corpus_ingest_sink", _CORPUS_LWW)


def read_chunks_store(spark: SparkSession, chunks_path: str) -> DataFrame:
    """The streamed chunk table, last-writer-wins resolved per
    (doc_id, chunk_id) — equal to the batch `chunk_documents` output
    over the resolved corpus (pytest-gated)."""
    return _committed(spark, chunks_path, "corpus_ingest_sink", _CHUNKS_LWW)


def compact_corpus_store(
    spark: SparkSession, corpus_path: str, chunks_path: str | None = None
) -> None:
    """Materialize the LWW resolution into a base version and drop the
    folded epochs — corpus and (optionally) chunks."""
    epoch_compact(spark, corpus_path, fold=_as_base(_lww_fold(*_CORPUS_LWW)))
    if chunks_path is not None:
        epoch_compact(spark, chunks_path, fold=_as_base(_lww_fold(*_CHUNKS_LWW)))


def freq_head_sink(
    stream: DataFrame,
    store_path: str,
    fine_keys: Sequence[str],
    item_col: str,
    checkpoint: str,
    m: int = 100,
) -> DataStreamWriter:
    """Streaming maintenance of the heavy-hitter candidate store — the
    incremental face of `aggregates.freq_candidate_rollup`: each
    micro-batch counts its (fine cell, item) pairs, keeps the local
    top-m per cell, and commits them as that epoch's
    (cell, item, epoch) rows.

    The per-(cell, epoch) truncation composes with the batch
    operator's bound — each epoch acts as one more "cell" in the
    Misra-Gries shortfall Σ floor(N/(m+1)); when m covers the
    per-batch cardinality nothing truncates and `read_freq_head`
    equals the exact batch answer (pinned in test_streaming)."""
    def merge(batch: DataFrame, epoch_id: int) -> None:
        from data_warehouse_nhom8_spark.operators.aggregates import local_topm

        counts = batch.groupBy(*fine_keys, item_col).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        cells = local_topm(counts, list(fine_keys), "cnt", item_col, m)
        _append_epoch(cells, store_path, epoch_id)

    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def read_freq_head(
    spark: SparkSession,
    store_path: str,
    coarse_keys: Sequence[str],
    item_col: str,
    k: int = 5,
) -> DataFrame:
    """Answer a coarse top-k from the candidate store alone: sum the
    stored per-(cell, item, epoch) counts up to (coarse, item), rank,
    keep k. Same output shape as `freq_candidate_rollup`'s head."""
    from pyspark.sql.window import Window

    store = _committed(spark, store_path, "freq_head_sink")
    merged = store.groupBy(*coarse_keys, item_col).agg(
        F.sum("cnt").alias("lb_count")
    )
    w = Window.partitionBy(*coarse_keys).orderBy(F.desc("lb_count"), F.col(item_col))
    return merged.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def compact_freq_store(
    spark: SparkSession,
    store_path: str,
    fine_keys: Sequence[str],
    item_col: str,
    m: int = 100,
) -> None:
    """Fold all epochs of the heavy-hitter candidate store into one
    row per (cell, item), re-truncated to the per-cell top-m: candidate
    counts are summable, and re-truncating a candidate list yields a
    candidate list (merged counts stay lower bounds; the shortfall
    bound composes like one more truncation level)."""
    from data_warehouse_nhom8_spark.operators.aggregates import local_topm

    def fold(store: DataFrame) -> DataFrame:
        merged = store.groupBy(*fine_keys, item_col).agg(F.sum("cnt").alias("cnt"))
        return local_topm(merged, list(fine_keys), "cnt", item_col, m)

    epoch_compact(spark, store_path, fold=_as_base(fold))


def interval_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "1 hour",
    watermark: str = "2 hours",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with an event-time interval bound — the
    attribution shape (purchase within `within` of a view by the same
    user). Right-side columns come back `right_prefix`-renamed.

    `how="left_outer"` additionally emits each unmatched left row
    (null right columns) once the watermark passes the end of its
    match interval — the "views that never converted" report. Outer
    results flush on watermark ADVANCE, i.e. in a micro-batch after
    the one that closed the interval; a drained AvailableNow run needs
    one more trigger (or a sentinel event) to surface the tail.

    Both sides carry a watermark and the join condition carries the
    time bound, which is what lets the state store EVICT: a buffered
    left row can only ever match right rows in [ts, ts+within], so
    once the right watermark passes ts+within the row is dropped.
    Without the bound, stream-stream join state grows forever — the
    100 TB/day failure mode. State is keyed by (key, time-bucket);
    shuffle partitions = state shards, sized by key cardinality.

    The reference has no streaming analogue (its joins run at rest in
    MySQL, loadtowh/load_to_wh.sh:62-87); this is the engine's
    idiomatic extension of those join semantics to continuous arrival.
    """
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, f"{right_prefix}{c}")
    lw = left.withWatermark(ts_col, watermark)
    rw = r.withWatermark(f"{right_prefix}{ts_col}", watermark)
    cond = (
        (F.col(key) == F.col(f"{right_prefix}{key}"))
        & (F.col(f"{right_prefix}{ts_col}") >= F.col(ts_col))
        & (
            F.col(f"{right_prefix}{ts_col}")
            <= F.col(ts_col) + F.expr(f"INTERVAL {within}")
        )
    )
    return lw.join(rw, cond, how)


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming exact-duplicate drop with BOUNDED state:
    `dropDuplicatesWithinWatermark` keeps one row per key and evicts
    the key's state once the watermark passes its event time + delay —
    the streaming twin of the batch insert-ignore dedup (D3,
    operators.dedup.insert_ignore; reference: the UNIQUE KEY
    idx_job_id insert-ignore, staging/init_staging_db_v2.sql:69).

    Contract: duplicates arriving within the watermark delay of the
    first sighting are dropped; a duplicate arriving LATER than the
    delay may re-emit (state was evicted) — at-least-once output, made
    exactly-once by the idempotent upsert sink downstream. Unbounded
    `dropDuplicates` would be exact forever but its state never
    shrinks; at 100 TB/day the bounded form is the only viable one.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def span_store_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming maintenance of the span-dedup window-hash store — the
    incremental face of `operators.span_dedup` (the q110 operator):
    each micro-batch of documents contributes its per-hash DISTINCT
    document counts as that epoch's files, so the batch-side detector
    (`duplicated_spans_incremental` over `read_span_store`) judges a
    daily batch against the whole streamed corpus while hashing only
    that batch."""
    merge = span_store_merge(store_path, window, id_col, text_col)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def span_store_merge(
    store_path: str,
    window: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The span store's foreachBatch merge as a standalone builder
    (drivable by the mid-epoch-kill restart tests, like
    sketch_store_merge / vocab_store_merge)."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        from data_warehouse_nhom8_spark.operators.span_dedup import (
            span_store_build,
        )

        part = span_store_build(batch, window=window, id_col=id_col, text_col=text_col)
        _append_epoch(part, store_path, epoch_id)

    return merge


def _refuse_hex_span_keys(store: DataFrame | None, store_path: str) -> None:
    """Raise when a committed part of the span store holds hex-string
    window hashes — written before `span_store_build` switched to
    binary `unhex(md5)` keys (r16). Mixed with binary parts, or joined
    against the binary batch hashes of `duplicated_spans_incremental`,
    such rows match nothing and no error would surface. Reads one
    parquet footer per part directory."""
    from urllib.parse import unquote, urlparse

    import pyarrow as pa
    import pyarrow.parquet as pq

    if store is None:
        return
    first = {}
    for f in store.inputFiles():
        first.setdefault(os.path.dirname(f), unquote(urlparse(f).path))
    hex_dirs = sorted(
        d for d, f in first.items()
        if pa.types.is_string(pq.read_schema(f).field("h").type)
    )
    if hex_dirs:
        raise ValueError(
            f"span store at {store_path} holds hex-string window hashes in "
            f"{hex_dirs}, written before span_store_build's binary "
            "unhex(md5) keys: they would match no batch hash. Rebuild the "
            "store at a fresh path: commit span_store_build over the corpus "
            "as its epoch 0, or replay the corpus through span_store_sink."
        )


def read_span_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(h, n_docs) summed across epochs — the exact count table
    `duplicated_spans_incremental` consumes. Refuses a store holding
    hex-string hashes (`_refuse_hex_span_keys`)."""
    store = _committed(spark, store_path, "span_store_sink")
    _refuse_hex_span_keys(store, store_path)
    return _sum_fold(*_SPAN_SUM)(store)


def compact_span_store(spark: SparkSession, store_path: str) -> None:
    """Fold all epochs into a base version with one row per hash
    (counts are additive). Refuses a store holding hex-string hashes:
    folding them with binary ones would hide them from the check."""
    _refuse_hex_span_keys(epoch_read(spark, store_path), store_path)
    epoch_compact(spark, store_path, fold=_as_base(_sum_fold(*_SPAN_SUM)))


def url_store_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    seed: str = "url0",
) -> DataStreamWriter:
    """Streaming canonical-URL FIRST-SEEN registry — the crawl-tier
    face of `operators.corpus.url_dedup_domain_cap` (the q111
    operator; round-10 verdict task 7): each micro-batch of crawled
    documents canonicalizes its URLs, picks the batch's deterministic
    winner per canon_url (the batch operator's md5-priority rule),
    and admits only URLs NEVER SEEN in any earlier epoch. The store
    holds one (canon_url, domain, doc_id, epoch) row per admitted
    URL — URL-registry-sized, NO corpus text, so recrawl batches
    dedup against the whole history without rescanning the corpus.

    First-seen semantics across epochs (earlier crawl wins — the
    curation contract for recrawls: the corpus already shipped the
    first copy), md5-priority within an epoch (exactly the batch
    operator's winner). Equality with a batch run that ranks by
    (epoch, md5-pri, id) is pytest-gated; the per-domain cap stays a
    batch/corpus-level policy applied over `read_url_store` output.
    The anti-join READ keys on canon_url — at 100 TB keep the
    compacted base bucketed on canon_url (`compact_url_store` passes
    bucket_by) so only the batch side shuffles."""
    merge = url_store_merge(store_path, url_col, id_col, seed)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def url_store_merge(
    store_path: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    seed: str = "url0",
):
    """The URL registry's foreachBatch merge as a standalone builder
    (drivable by the mid-epoch-kill restart tests, like
    span_store_merge / sketch_store_merge)."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        from data_warehouse_nhom8_spark.operators.corpus import (
            url_canonical_cols,
        )

        cols = url_canonical_cols(url_col)
        pri = F.md5(
            F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))
        )
        w = Window.partitionBy("canon_url").orderBy("__pri", id_col)
        batch_winners = (
            batch.select(
                F.col(id_col).alias("doc_id"),
                cols["domain"].alias("domain"),
                cols["canon_url"].alias("canon_url"),
            )
            .withColumn("__pri", pri)
            .withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("canon_url", "domain", "doc_id")
        )
        fresh = _first_seen(batch_winners, store_path, "canon_url", epoch_id)
        _append_epoch(fresh, store_path, epoch_id)

    return merge


def read_url_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(canon_url, domain, doc_id, epoch) — the first-seen URL
    registry: exactly one row per canonical URL ever admitted (the
    merge only inserts never-seen URLs, so no cross-epoch fold is
    needed — the store IS the registry)."""
    return _committed(spark, store_path, "url_store_sink")


def compact_url_store(spark: SparkSession, store_path: str) -> None:
    """Fold the registry's epoch files into one bucketed base version
    (rows are disjoint across epochs — the fold is identity, this is
    pure file-count/layout maintenance). Bucketing the base on
    canon_url means the merge's first-seen anti-join no longer
    shuffles the store side."""
    epoch_compact(spark, store_path, bucket_by=["canon_url"])


def ivf_store_sink(
    stream: DataFrame,
    model_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataStreamWriter:
    """Streaming ANN-index ingest — the crawl-tier face of the IVF
    index (`operators.similarity`): each micro-batch of embeddings is
    assigned to its nearest cell against a FIXED offline-fit centroid
    model (`ivf_save_model` output at `model_path` — production fits
    on an initial corpus and refits between compactions, exactly the
    near-dup signature store's cadence) and admitted into the store
    with FIRST-SEEN id semantics: a vector for an id already indexed
    in an EARLIER epoch is ignored (a document embeds once; this also
    sidesteps the cross-cell tombstone a last-writer-wins re-embed
    would need — re-embedding pipelines rebuild the index with
    `ivf_write_index` at the next refit instead). Replay convergence
    and probe-equality vs a one-shot batch index on the union are
    pytest-gated.

    Scale: assignment is map-only (k·d fold per vector, no shuffle);
    the first-seen anti-join keys on the id. At rest keep the store
    bucketed/range-laid by `cluster` (snapshot layout) so probes
    prune to the probed cells — `read_ivf_store` hands the table to
    `cosine_topk_ivf_probe`, whose cell filter then skips files by
    the stats manifest exactly like the at-rest `ivf_write_index`
    layout prunes partitions."""
    merge = ivf_store_merge(model_path, store_path, id_col, vec_col)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def ivf_store_merge(
    model_path: str,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """The IVF ingest's foreachBatch merge as a standalone builder
    (drivable by the mid-epoch-kill restart tests, like the other
    store faces)."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Window

        from data_warehouse_nhom8_spark.operators.similarity import (
            ivf_assign,
            ivf_load_model,
        )

        centroids = ivf_load_model(model_path)
        assigned = ivf_assign(batch, centroids, id_col=id_col, vec_col=vec_col).select(
            F.col(id_col).alias("id"),
            F.col("__v").alias("v"),
            "cluster",
        )
        # one deterministic winner per id WITHIN the batch (mirrors
        # url_store_merge's in-batch row_number winner): duplicate ids
        # arriving in a single micro-batch would otherwise all pass
        # the prior-epochs anti-join and violate read_ivf_store's
        # one-row-per-id-ever-admitted contract. Tiebreak on the
        # vector bytes' md5 — stable across partitionings.
        w = Window.partitionBy("id").orderBy(F.md5(F.col("v").cast("string")))
        assigned = (
            assigned.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .drop("__r")
        )
        fresh = _first_seen(assigned, store_path, "id", epoch_id)
        _append_epoch(fresh, store_path, epoch_id)

    return merge


def read_ivf_store(spark: SparkSession, store_path: str, id_col: str = "vec_id") -> DataFrame:
    """(id_col, __v, cluster) — the streamed IVF index in exactly the
    shape `cosine_topk_ivf_probe` consumes (one row per id ever
    admitted; the merge only inserts never-seen ids — within a batch
    a deterministic row_number winner, across batches first-seen)."""
    store = _committed(spark, store_path, "ivf_store_sink")
    return store.select(
        F.col("id").alias(id_col), F.col("v").alias("__v"), "cluster"
    )


def compact_ivf_store(spark: SparkSession, store_path: str) -> None:
    """Fold the index's epoch files into one base version (rows are
    disjoint across epochs — identity fold; file-count maintenance
    so probes list O(1) dirs)."""
    epoch_compact(spark, store_path)

# ------------------------------------------------ simhash signature store

def simhash_sig_store_build(
    docs: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Batch base build of the PERSISTED SimHash signature store —
    the at-rest face of the q39 tier (VERDICT r14 task 1: the
    signature table previously existed only as a session memo; the
    MinHash tier's `corpus_sig_store_persist` and the IVF `_MODEL`
    were the only stores with a disk face). Rows are
    (id, sh, epoch): md5-token-hash SimHash signatures
    (`operators.neardup.simhash_signatures`, the exact construction
    q39's DuckDB twin reproduces bitwise) committed as epoch 0 of an
    epoch-append store. At 100 TB the fold runs once per corpus
    snapshot at ingest; probes never re-fold corpus text."""
    simhash_sig_store_update(docs, store_path, 0, id_col, text_col)
    return store_path


def simhash_sig_store_update(
    batch_docs: DataFrame,
    store_path: str,
    epoch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Incremental batch face: signature the NEW documents only and
    epoch-append — O(batch) compute and I/O. Last-writer-wins per id
    at read time, so a re-ingested document (same id, newer epoch)
    supersedes its old signature without a tombstone.
    incremental==full equality is pytest-gated
    (test_sig_cluster_stores)."""
    from data_warehouse_nhom8_spark.operators.neardup import (
        simhash_signatures,
    )

    _append_epoch(simhash_signatures(batch_docs, id_col, text_col), store_path, epoch_id)


def simhash_sig_store_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataStreamWriter:
    """Streaming ingest face: each micro-batch of documents folds its
    own signatures (map-only — the SWAR fold never shuffles) and
    epoch-appends them; LWW per id across epochs gives re-crawled
    documents update semantics. stream==batch equality is
    pytest-gated."""
    merge = simhash_sig_store_merge(store_path, id_col, text_col)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def simhash_sig_store_merge(
    store_path: str, id_col: str = "doc_id", text_col: str = "text"
):
    """The signature store's foreachBatch merge as a standalone
    builder (drivable by the mid-epoch-kill restart tests, like the
    other store faces)."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        simhash_sig_store_update(batch, store_path, epoch_id, id_col, text_col)

    return merge


def read_simhash_sig_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(id, sh) — the signature table, last-writer-wins resolved per
    id (split base/tail read: the compacted base never shuffles; the
    epoch tail, bounded by compaction cadence, resolves on its own).
    Feed straight into `simhash_pairs_from_signatures` — q39's serve
    path. Duplicate ids WITHIN one epoch resolve deterministically on
    the signature value (a corpus ships one text per id; the tiebreak
    just pins replay determinism)."""
    sink = "simhash_sig_store_build or simhash_sig_store_sink"
    return _committed(spark, store_path, sink, _SIMHASH_LWW)


def compact_simhash_sig_store(spark: SparkSession, store_path: str) -> None:
    """Materialize the LWW resolution into a bucketed base version
    (bucketed on id: the read's anti-join and any downstream
    signature join stop shuffling the store side) and drop the folded
    epochs."""
    epoch_compact(
        spark, store_path, fold=_as_base(_lww_fold(*_SIMHASH_LWW)), bucket_by=["id"]
    )


# ---------------------------------------------------- cluster map store

def cluster_map_store_build(edges: DataFrame, store_path: str) -> str:
    """Batch base build of the PERSISTED duplicate-cluster store —
    the at-rest face of the q49/q118 cluster maps (VERDICT r14
    task 1). The store holds EDGES (id_a, id_b, epoch): pair
    detectors (exact-Jaccard, SimHash, embedding buckets) append
    edge batches; `read_cluster_map_store` resolves them to the
    (id, component) map with min-label connected components; and
    compaction CONTRACTS the graph to its star form — one
    (member, root) edge per clustered id — which preserves both
    connectivity and the min-id labels (the root IS the component's
    min member), so post-compaction reads are O(clustered ids + live
    tail), never a re-pairing of the corpus."""
    cluster_map_store_update(edges, store_path, 0)
    return store_path


def cluster_map_store_update(
    edges: DataFrame, store_path: str, epoch_id: int
) -> None:
    """Epoch-append an edge batch (id_a, id_b) — O(batch) I/O; the
    incremental contract CC(base stars ∪ new edges) == CC(all
    original edges) is pytest-gated (test_sig_cluster_stores)."""
    rows = edges.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
    )
    _append_epoch(rows, store_path, epoch_id)


def cluster_edges_sink(
    stream: DataFrame, store_path: str, checkpoint: str
) -> DataStreamWriter:
    """Streaming ingest face: each micro-batch of detector edges
    epoch-appends. Duplicate edges across epochs are harmless —
    connected components is a set-semantics fold (the CC's internal
    distinct dedups), and compaction contracts them away."""
    merge = cluster_map_store_merge(store_path)
    return _foreach_batch_sink(stream, checkpoint, merge, store_path)


def cluster_map_store_merge(store_path: str):
    """The cluster store's foreachBatch merge as a standalone builder
    (drivable by the mid-epoch-kill restart tests)."""

    def merge(batch: DataFrame, epoch_id: int) -> None:
        cluster_map_store_update(batch, store_path, epoch_id)

    return merge


def read_cluster_map_store(spark: SparkSession, store_path: str) -> DataFrame:
    """(id, component) — min-label connected components over base
    star-edges ∪ live epoch edges. The label-propagation rounds run
    over the CONTRACTED graph after compaction (one star edge per
    clustered id plus the bounded live tail), so open cost scales
    with the cluster map, not with detector history."""
    from data_warehouse_nhom8_spark.operators.dedup_clusters import (
        connected_components,
    )

    sink = "cluster_map_store_build or cluster_edges_sink"
    edges = _committed(spark, store_path, sink)
    return connected_components(edges.select("id_a", "id_b"), "id_a", "id_b")


def compact_cluster_map_store(spark: SparkSession, store_path: str) -> None:
    """Fold base + epochs into the contracted star form: run the
    components to fixpoint, write one (member, root) edge per
    clustered id as the new base, drop the folded epochs. Star
    contraction preserves min-id labels exactly (the root is the
    component's minimum member and is itself present), pytest-gated."""
    from data_warehouse_nhom8_spark.operators.dedup_clusters import (
        connected_components,
    )

    def fold(store: DataFrame) -> DataFrame:
        cc = connected_components(store.select("id_a", "id_b"), "id_a", "id_b")
        return cc.select(F.col("id").alias("id_a"), F.col("component").alias("id_b"))

    epoch_compact(spark, store_path, fold=_as_base(fold))
