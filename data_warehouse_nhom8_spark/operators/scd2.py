"""SCD Type 2 merge (SURVEY.md §2i D2) — the reference's signature op.

Reference semantics (loadtowh/load_to_wh.sh:62-87):
  1. UPDATE: current rows (expired='9999-12-31') whose natural key
     matches an incoming row and whose tracked attributes differ get
     expired = <effective date>   (:64-75)
  2. INSERT: incoming rows with no *live* match are inserted as new
     current versions (NOT EXISTS anti-join, :78-87)
Natural key = (job_title, company_name) under utf8mb4_unicode_ci —
case-insensitive — so keys are normalized before matching.

Decisions encoded here (SURVEY §4 "custom work"):
  * change detection defaults to NULL-SAFE (`a <=> b`); MySQL's `<>`
    (NULL never counts as changed) is available via null_safe=False.
  * surrogate keys are deterministic: row_number over a stable sort of
    the inserted batch, offset by max existing sk — reruns produce
    identical keys (never monotonically_increasing_id).

Plan shape & scale: each input is planned once, however many
consumers it has. Two increment-sized parts are computed eagerly and
kept in executor blocks (localCheckpoint): the deduped increment (the
one read of the increment), then the live rows it matches with a
change flag (a scan of `current`); one aggregate over `current` gives
the largest surrogate key. The delta is derived from those blocks —
expired versions ∪ new versions — and the snapshot is `current` minus
the changed keys' live rows, ∪ the delta: one more scan of `current`,
no read of the increment. An increment side is broadcast when its
materialized size fits autoBroadcastJoinThreshold. At 100 TB
`current` should be bucketed on the normalized key so no scan
shuffles it. The output is a full snapshot — pair with dynamic
partition overwrite to rewrite only affected partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.functions.cleaning import canonical_key, collation_key

CURRENT_SENTINEL = "9999-12-31"


def scd2_merge(
    current: DataFrame | None,
    incoming: DataFrame,
    natural_keys: Sequence[str],
    compare_cols: Sequence[str],
    effective_date: str,
    sk_col: str = "job_sk",
    expired_col: str = "expired",
    null_safe: bool = True,
    normalize_keys: bool = True,
    collate_compare: bool = True,
    keep_norm_keys: bool = False,
    held: list[DataFrame] | None = None,
) -> DataFrame:
    """Return the post-merge snapshot (history + current rows).

    `keep_norm_keys=True` PERSISTS the normalized-key columns
    (`__nk_<key>`) in the output — the bucketed-warehouse contract:
    the snapshot is bucketed on the normalized keys (the columns the
    merge actually joins on), so the next day's merge reads a scan
    already hash-distributed on its join key and the live side never
    shuffles. When `current` arrives carrying `__nk_*` columns they
    are REUSED, not recomputed — a recompute would alias away the
    scan's bucket partitioning and reintroduce the Exchange.

    `incoming` must carry the business columns (natural keys +
    compare_cols + any payload); `current` additionally carries
    `sk_col` and `expired_col`. First load: pass current=None.

    `collate_compare` (default True = reference parity): STRING
    compare columns are compared under UNICODE_CI_AI, matching the
    reference's MySQL `<>` under utf8mb4_unicode_ci
    (load_to_wh.sh:70-74) — a case- or accent-only difference in a
    tracked attribute is NOT a change, so it must not spuriously
    expire and re-insert a version. Non-string columns always compare
    exactly. Pass False for binary comparison.

    The merge computes the increment-sized parts eagerly, once: the
    deduped increment, then the live rows it matches with their change
    flag. When `held` is given, those materialized DataFrames are
    appended to it; `release_materialized(held)` frees them once the
    returned snapshot has been written.
    """
    sentinel = F.lit(CURRENT_SENTINEL).cast("date")
    eff = F.lit(effective_date).cast("date")

    def norm_expr(k: str):
        if not normalize_keys:
            return F.col(k)
        # keep_norm_keys persists the key for BUCKETING, so it must be
        # a plain string (collated types are illegal bucket columns):
        # canonical_key = binary-comparable fold with the same equality
        # as collation_key on the reference's data domain. The
        # non-persisted path keeps native ICU collation.
        return canonical_key(k) if keep_norm_keys else collation_key(k)

    def with_norm(df: DataFrame) -> DataFrame:
        # collation_key = native UNICODE_CI_AI (case+accent-insensitive,
        # the utf8mb4_unicode_ci twin) — 'Hà Nội' and 'Ha Noi' are one key
        for k in natural_keys:
            if f"__nk_{k}" in df.columns:
                continue  # persisted (bucketed snapshot) — reuse as-is
            df = df.withColumn(f"__nk_{k}", norm_expr(k))
        return df

    nk = [f"__nk_{k}" for k in natural_keys]

    # Dedup the increment on the natural key (one version per key per
    # load — the reference's daily dump has the same property via the
    # staging UNIQUE key). Deterministic winner: rank-1 under a total
    # order over every column — dropDuplicates keeps an arbitrary row,
    # which would break the rerun-identical contract below.
    from data_warehouse_nhom8_spark.operators.windows import latest_per_key

    inc_n = with_norm(incoming)
    tiebreak = [F.asc_nulls_first(c) for c in incoming.columns]
    inc = latest_per_key(inc_n, nk, tiebreak)

    nk_drop = [] if keep_norm_keys else nk
    held = [] if held is None else held
    inc = _materialize(inc, held)

    if current is None:
        new_rows = inc.drop(*nk_drop) if nk_drop else inc
        return _assign_sks(new_rows, None, sk_col, natural_keys).withColumn(
            expired_col, sentinel
        )

    cur = with_norm(current)
    string_cols = {f.name for f in incoming.schema.fields if f.dataType.simpleString() == "string"}

    def differs(c: str):
        a, b = F.col(c), F.col(f"__inc_{c}")
        if collate_compare and c in string_cols:
            a, b = collation_key(a), collation_key(b)
        return ~a.eqNullSafe(b) if null_safe else (a != b) & a.isNotNull() & b.isNotNull()

    change_cond = F.lit(False)
    for c in compare_cols:
        change_cond = change_cond | differs(c)

    def live_key_is(prefix: str):
        """A live `cur` row whose key equals the other side's `prefix`ed key."""
        cond = F.col(expired_col) == sentinel
        for k in nk:
            cond = cond & (F.col(k) == F.col(f"{prefix}{k}"))
        return cond

    # The live rows the increment matches, with their change flag. A
    # key whose live rows disagree (a broken invariant) counts as
    # changed when any of them differs: all of them expire and one new
    # version replaces them, so the key keeps exactly one live row.
    inc_cmp = inc.select(
        *[F.col(k).alias(f"__inc{k}") for k in nk],
        *[F.col(c).alias(f"__inc_{c}") for c in compare_cols],
    )
    matched = _materialize(
        cur.join(_broadcast_if_fits(inc_cmp, inc), live_key_is("__inc"))
        .select(*cur.columns, F.max(change_cond).over(Window.partitionBy(*nk)).alias("__changed")),
        held,
    )
    # the largest key in the table: a top-1 runs as one job without a
    # shuffle, max() as two under adaptive execution
    top = cur.select(sk_col).orderBy(F.desc_nulls_last(sk_col)).limit(1).collect()  # bounded-collect: one row
    base = top[0][0] if top else None

    changed = matched.filter("__changed")
    expired_now = changed.drop("__changed", *nk_drop).withColumn(expired_col, eff)
    # New versions: incoming keys that are brand-new OR whose live row
    # just got expired, i.e. the increment minus the unchanged keys.
    unchanged_keys = matched.filter(~F.col("__changed")).select(*nk)
    new_versions = (
        inc.join(_broadcast_if_fits(unchanged_keys, matched), on=nk, how="left_anti")
        .drop(*nk_drop)
        .withColumn(expired_col, sentinel)
    )
    new_with_sks = _assign_sks(new_versions, base, sk_col, natural_keys)

    # The one scan of `current` in the rewrite: every row but the live
    # versions of the changed keys.
    changed_keys = changed.select(*[F.col(k).alias(f"__chg{k}") for k in nk])
    kept = cur.join(_broadcast_if_fits(changed_keys, matched), live_key_is("__chg"), "left_anti")

    out_cols = [c for c in cur.columns if c not in nk_drop]
    return (
        kept.select(out_cols)
        .unionByName(expired_now.select(out_cols))
        .unionByName(new_with_sks.select(out_cols))
    )


def release_materialized(held: list[DataFrame]) -> None:
    """Free the blocks of the DataFrames a merge materialized (its
    `held` list). Call it once nothing reads the merge's output any
    more, e.g. after the snapshot is written and read back from
    storage; until then the blocks stay until the JVM collects them."""
    for df in held:
        df._jdf.queryExecution().logical().rdd().unpersist(False)
    held.clear()


def _materialize(df: DataFrame, held: list[DataFrame]) -> DataFrame:
    """`df` computed once, eagerly, into executor blocks; later plans
    read the blocks instead of re-running `df`'s plan."""
    out = df.localCheckpoint(eager=True)
    held.append(out)
    return out


def _broadcast_if_fits(side: DataFrame, materialized: DataFrame) -> DataFrame:
    """`side` with a broadcast hint when the materialized DataFrame it
    is derived from fits the session's autoBroadcastJoinThreshold (-1
    disables broadcasts). A checkpoint's plan statistics are those of
    the plan it replaced, so the planner cannot judge its size itself."""
    spark = materialized.sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit < 0:
        return side
    rdd_id = materialized._jdf.queryExecution().logical().rdd().id()
    for info in spark.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd_id:
            return F.broadcast(side) if info.memSize() + info.diskSize() <= limit else side
    return side


def _assign_sks(
    new_rows: DataFrame,
    base: int | None,
    sk_col: str,
    natural_keys: Sequence[str],
) -> DataFrame:
    """Deterministic surrogate keys at any batch size: global rank of
    each row in the total order by natural key, offset by `base`, the
    largest key already in the table (None: the table is empty).
    Identical input ⇒ identical keys,
    which is what makes reruns idempotent (AUTO_INCREMENT, reference
    create_warehouse_db.sql:7724, is NOT deterministic under replay —
    this is deliberately stronger).

    Backfill-scale shape (round-1 verdict #8): instead of one global
    `Window.orderBy` (which funnels the whole batch through a single
    partition), the rank is computed as

        repartitionByRange(keys) → row_number per range partition
        + broadcast cumulative partition-count offsets

    so the data path never leaves parallel execution. The only
    single-partition step is the running sum over the per-partition
    COUNTS (≤ shuffle-partition-count rows — control-plane sized).
    Natural keys are unique within the batch (deduped upstream), so
    the global rank is partition-boundary-independent: any range
    partitioning yields the same total order, hence the same keys.
    """
    keys = [F.col(k) for k in natural_keys]
    parted = new_rows.repartitionByRange(*keys).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(*keys)
    local = parted.withColumn("__rn", F.row_number().over(w_local).cast("long"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        parted.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__off", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).cast("long"))
        .select("__pid", "__off")
    )
    return (
        local.join(F.broadcast(offsets), on="__pid")
        .withColumn(sk_col, (F.col("__rn") + F.col("__off") + F.lit(base or 0)).cast("long"))
        .drop("__pid", "__rn", "__off")
    )


def scd2_invariant_violations(snapshot: DataFrame, natural_keys: Sequence[str],
                              expired_col: str = "expired") -> DataFrame:
    """Rows violating 'exactly one current version per natural key' —
    empty DataFrame ⇔ healthy table (used by tests and the write path
    as a FK-style validation, SURVEY §2c J7)."""
    sentinel = F.lit(CURRENT_SENTINEL).cast("date")
    live = snapshot.filter(F.col(expired_col) == sentinel)
    keys = [collation_key(k).alias(f"__nk_{k}") for k in natural_keys]
    return (
        live.select(*keys)
        .groupBy(*[f"__nk_{k}" for k in natural_keys])
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def scd2_as_of(
    snapshot: DataFrame,
    as_of_date: str,
    effective_col: str = "extracted_date",
    expired_col: str = "expired",
) -> DataFrame:
    """Point-in-time read: the version of every key that was current
    on `as_of_date` — rows with effective <= date < expired (the
    half-open interval the merge maintains: on a change day the OLD
    version expires at that day and the NEW one takes effect, so the
    change day itself reads the new version, matching the reference's
    'report reflects the morning load' semantics). The filter is two
    pushable range predicates — at rest this prunes row groups on the
    date columns' parquet stats."""
    d = F.lit(as_of_date).cast("date")
    return snapshot.filter(
        (F.col(effective_col) <= d) & (d < F.col(expired_col))
    )


def scd2_as_of_pruned(
    spark,
    path: str,
    as_of_date: str,
    effective_col: str = "extracted_date",
    expired_col: str = "expired",
):
    """Point-in-time read AT REST with file-level data skipping
    (round 12, verdict task 7): consult the snapshot version's
    `_STATS.json` manifest (written by `snapshot_compact(stats_cols=
    [effective, expired])`) and scan ONLY files whose
    [min(effective), max(expired)] hull can hold a version current on
    `as_of_date` — i.e. min(effective) <= d AND max(expired) >= d.
    Old point-in-time reports skip every file of versions that began
    after d entirely; the residual `scd2_as_of` filter then applies
    row-wise, so pruned == plain ALWAYS (superset guarantee — files
    without usable stats are kept, fail-open). Current-row sentinel
    dates (9999-12-31) simply make a file's expired hull unbounded
    above — such files are correctly always candidates.

    Returns (df, files_selected, files_total) like `snapshot_scan`;
    `df` is an empty frame with the table schema when no file
    qualifies. At 100 TB this is the difference between an as-of
    report scanning the full warehouse history and scanning the
    handful of files whose version range brackets the date — the same
    skip a table format's planner gets from its manifest."""
    import datetime as _dt

    from data_warehouse_nhom8_spark.sources.snapshots import (
        snapshot_read,
        snapshot_scan,
    )

    d = _dt.date.fromisoformat(as_of_date)
    df, n_sel, n_total = snapshot_scan(
        spark,
        path,
        ranges={effective_col: (None, d), expired_col: (d, None)},
    )
    if df is None:
        base = snapshot_read(spark, path)
        if base is None:
            raise FileNotFoundError(f"no committed snapshot at {path}")
        return base.limit(0), 0, n_total
    return (
        scd2_as_of(df, as_of_date, effective_col, expired_col),
        n_sel,
        n_total,
    )


def scd2_temporal_join(
    fact: DataFrame,
    snapshot: DataFrame,
    natural_keys: Sequence[str],
    fact_date_col: str,
    effective_col: str = "extracted_date",
    expired_col: str = "expired",
    how: str = "left",
) -> DataFrame:
    """Historically-correct enrichment: each fact row joins the dim
    VERSION that was current at the fact's own date (reprocessing a
    July fact against December dims is the classic SCD2 misuse this
    prevents).

    Scale notes: an equi-join on the natural key with the validity
    residual evaluated inside the join — never a range explosion,
    because a healthy SCD2 key's versions are disjoint half-open
    intervals, so AT MOST ONE version matches any fact date (the
    invariant `scd2_invariant_violations` checks). Shuffles on the
    key like any dim join; broadcast the snapshot when dim-sized.
    Dim columns arrive suffixed `_dim` where they would collide."""
    f, s = fact.alias("__f"), snapshot.alias("__s")
    cond = None
    for k in natural_keys:
        c = f[k] == s[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (s[effective_col] <= f[fact_date_col])
        & (f[fact_date_col] < s[expired_col])
    )
    joined = f.join(s, cond, how)
    fact_cols = set(fact.columns)
    out_cols = [f[c] for c in fact.columns] + [
        s[c].alias(f"{c}_dim") if c in fact_cols else s[c]
        for c in snapshot.columns
        if c not in natural_keys
    ]
    return joined.select(*out_cols)
