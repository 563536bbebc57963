"""Corpus-preparation operators for LLM training-data pipelines
(SURVEY.md §2k north-star extensions; no reference twin — the
reference stops at warehouse queries, these are the ops a training
corpus needs before the data ever reaches a tokenizer).

Every operator is a native Catalyst expression (no Python UDFs), and
every deterministic one is exactly SQL-expressible, so the derived
queries (q54–q59) are fully driver-oracled against DuckDB:

  hash_split_col     — deterministic train/val/test assignment
  pii_redact_cols    — email/phone detection + redaction
  chunk_documents    — sliding token-window chunking (map-only)
  stratified_sample  — per-stratum hash-ordered top-k manifest
  weighted_mixture   — data-mixing quotas over stratified_sample
  contamination_counts — n-gram overlap vs a benchmark set
  per_source_cap     — Common-Crawl-style per-domain document cap
                       (md5-priority deterministic sample, salted
                       two-phase skew-safe window)

Scale notes (100 TB):
  * hash_split_col and pii_redact_cols are pure per-row projections —
    they run inside whole-stage codegen over the scan, zero shuffle.
  * chunk_documents is scan + explode: output rows ≈ tokens/stride,
    still shuffle-free; partition count follows the input splits.
  * stratified_sample shuffles only ~quota rows per stratum (map-side
    WindowGroupLimit, plan-gated), never the full stratum.
  * per_source_cap with salt_buckets=S bounds the per-source window
    input to S*cap rows regardless of how hot a domain is — the
    single-window form would shuffle a hot domain's millions of rows
    to one task.
  * contamination_counts joins the corpus's exploded n-grams against
    the benchmark gram set on a 128-bit digest. Benchmark suites are
    tiny (thousands of docs) next to a 100 TB corpus → the gram set
    broadcasts and the join is map-side; the corpus side never
    shuffles. Grams travel as md5 digests, never raw strings.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from data_warehouse_nhom8_spark.regexes import WS_SPLIT


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ------------------------------------------------------- hash split

def hash_split_col(
    key: Column | str,
    train: float = 0.8,
    val: float = 0.1,
    buckets: int = 100,
    salt: str = "split-v1",
) -> tuple[Column, Column]:
    """Deterministic (bucket, split) assignment from a stable key.

    bucket = first 32 bits of md5(salt || key) mod `buckets` — the
    same document lands in the same split on every run, machine, and
    engine (DuckDB computes the identical expression, so the split is
    portable across the whole stack). Changing `salt` re-draws the
    assignment; keying on a content fingerprint instead of an id makes
    the split leak-proof under exact duplicates."""
    if not 0 < train < 1 or not 0 <= val < 1 or train + val >= 1:
        raise ValueError("need 0<train, 0<=val, train+val<1")
    h = F.conv(F.substring(F.md5(F.concat(F.lit(salt), _c(key).cast("string"))), 1, 8), 16, 10)
    bucket = (h.cast("long") % buckets).alias("bucket")
    t_hi = int(train * buckets)
    v_hi = t_hi + int(val * buckets)
    # a NULL key must yield a NULL split, not silently land in 'test'
    # (when(null < k) is false, so the otherwise() branch would win)
    split = (
        F.when(bucket.isNull(), F.lit(None).cast("string"))
        .when(bucket < t_hi, F.lit("train"))
        .when(bucket < v_hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split")
    )
    return bucket, split


# ---------------------------------------------------- PII redaction

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PHONE_RE = r"\+?\d[\d .-]{7,}\d"

# All patterns live in the Java-regex ∩ RE2 common subset (no
# backrefs, no lookaround) so Spark and DuckDB match identically.


def pii_redact_cols(text: Column | str = "text") -> dict[str, Column]:
    """Detection counts + redacted text: emails → <EMAIL>, then IPv4
    → <IP>, then phone-ish digit runs (>=9 chars of digits/space/
    dot/dash) → <PHONE>. Order matters: emails first so address
    digits can't half-match as phones, IPs before phones so a dotted
    quad ("192.168.100.200" satisfies the phone shape) is labeled
    <IP>, not <PHONE>. Counts are computed independently on the
    ORIGINAL text (a dotted quad counts under n_ips AND n_phones —
    counts are per-pattern detectors, the redaction is what's
    mutually exclusive). One projection, codegen-resident."""
    t = _c(text)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(f"({EMAIL_RE})"), 1)).cast("long")
    n_ips = F.size(F.regexp_extract_all(t, F.lit(f"({IP_RE})"), 1)).cast("long")
    n_phones = F.size(F.regexp_extract_all(t, F.lit(f"({PHONE_RE})"), 1)).cast("long")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return {
        "n_emails": n_emails,
        "n_ips": n_ips,
        "n_phones": n_phones,
        "redacted": redacted,
    }


# ---------------------------------------------------------- chunking

def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Sliding token-window chunking: windows of `chunk_tokens`
    whitespace tokens starting every `stride` tokens (start positions
    1, 1+stride, ... <= n_tokens, so every token is covered and the
    tail chunk may be short). Output one row per (doc, chunk):
    (id, chunk_id, n_tokens, chunk_fp) with chunk_fp = md5 of the
    space-rejoined window.

    Map-only: tokenize once per row (named column — Catalyst does not
    CSE across branches), explode the start sequence, slice. No
    shuffle; at 100 TB the output partitioning follows the scan.

    NULL text yields no chunk rows (the explode drops the doc) —
    run after the quality gate, which already excludes null docs."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    from data_warehouse_nhom8_spark.session import repartition_for_compute

    toks = F.split(F.trim(_c(text_col)), WS_SPLIT)
    staged = repartition_for_compute(df).select(F.col(id_col), toks.alias("__tk"))
    starts = F.sequence(F.lit(1), F.size("__tk"), F.lit(stride))
    exploded = staged.select(
        id_col, "__tk", F.explode(starts).alias("__s")
    )
    chunk = F.slice(F.col("__tk"), F.col("__s"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        ((F.col("__s") - 1) / stride).cast("long").alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


# ------------------------------------------------ stratified sampling

def stratified_sample(
    df: DataFrame,
    strata_col: str,
    quotas: dict[str, int],
    order_key: Column | str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: within each stratum, rank rows
    by md5(order_key) (plus id tie-break) and keep the stratum's
    quota. Hash-ordering makes the sample pseudo-random yet exactly
    reproducible on any engine/cluster/run — no rand() seed plumbing,
    no sampleBy approximation. Unknown strata get quota 0.

    Scale: one window per stratum partition. Skew note — a stratum is
    NOT a single task: rank-by-hash only needs the per-stratum TOP-k,
    so Spark's WindowGroupLimit pushes the k-limit into the shuffle
    map side (plan-gated in tests); only ~k rows per stratum reach the
    reduce side, never the full 100 TB stratum."""
    from pyspark.sql import Window

    h = F.md5(_c(order_key).cast("string"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    quota = F.coalesce(
        *[
            F.when(F.col(strata_col) == k, F.lit(v))
            for k, v in sorted(quotas.items())
        ],
        F.lit(0),
    )
    # literal max-quota bound first: WindowGroupLimit needs a LITERAL
    # rank predicate to push the top-k into the shuffle map side; the
    # exact per-stratum quota then refines on the survivors
    hard_cap = max(quotas.values(), default=0)
    return (
        df.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= F.lit(hard_cap))
        .filter(F.col("rk") <= quota)
    )


# --------------------------------------------------- decontamination

def _gram_digests(
    df: DataFrame, id_col: str, text_col: str, gram_w: int
) -> DataFrame:
    """(id, gram) with gram = md5 digest of each distinct `gram_w`-token
    window of the lowercased token stream. Digests, not strings, cross
    the wire; md5 keeps DuckDB parity (xxhash64 has no DuckDB twin).

    CPU-heavy per-row work (n_tokens md5s per doc) → repartitioned off
    the input splits first (the local testdata is one row group; real
    100 TB scans already have thousands of splits — no-op there)."""
    from data_warehouse_nhom8_spark.session import repartition_for_compute

    toks = F.split(F.lower(F.trim(_c(text_col))), WS_SPLIT)
    staged = repartition_for_compute(df).select(F.col(id_col).alias("id"), toks.alias("__tk"))
    n = F.size("__tk")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - gram_w + 1, F.lit(1))),
        lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("__tk"), i, gram_w))),
    )
    return staged.select("id", F.explode(F.array_distinct(grams)).alias("gram"))


def benchmark_gram_store(
    benchmark: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_w: int = 8,
) -> None:
    """Materialize a benchmark's deduped gram digests to `path`.

    Benchmark suites change rarely while the corpus is re-scanned
    daily, so the daily decontamination job should NOT re-tokenize
    and re-digest the benchmark every run — same memoization shape as
    the incremental near-dup signature store (neardup). Write once
    when the suite changes; pass the PATH to
    `contamination_counts(bench_grams=path)` thereafter — the path
    form validates that the store's gram width matches the query's
    (a silent mismatch returns all-zero overlaps, i.e. contaminated
    docs sail through decontamination).

    The store carries its build parameters in a `_meta` sidecar
    (underscore-prefixed → invisible to a plain parquet read of
    `path`)."""
    (
        _gram_digests(benchmark, id_col, text_col, gram_w)
        .select("gram")
        .distinct()
        .write.mode("overwrite")
        .parquet(path)
    )
    spark = benchmark.sparkSession
    spark.createDataFrame(
        [(int(gram_w), _TOKENIZER_TAG)], "gram_w int, tokenizer string"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "_meta"))


# Bump when _gram_digests' tokenization/digest scheme changes: stores
# built under a different scheme are incompatible even at equal gram_w.
_TOKENIZER_TAG = "ws-lower-md5-v1"


def read_benchmark_gram_store(spark, path: str, gram_w: int) -> DataFrame:
    """Open a `benchmark_gram_store` output, failing fast unless its
    recorded gram width and tokenizer scheme match what the caller is
    about to use on the corpus side."""
    meta_path = os.path.join(path, "_meta")
    try:
        meta = spark.read.parquet(meta_path).collect()
    except Exception as e:  # AnalysisException: path missing
        raise ValueError(
            f"{path} has no _meta sidecar — not a benchmark_gram_store "
            "output (or built by a pre-meta version; rebuild the store)"
        ) from e
    got_w, got_tok = meta[0]["gram_w"], meta[0]["tokenizer"]
    if got_w != gram_w or got_tok != _TOKENIZER_TAG:
        raise ValueError(
            f"gram store at {path} was built with gram_w={got_w}, "
            f"tokenizer={got_tok!r} but the query uses gram_w={gram_w}, "
            f"tokenizer={_TOKENIZER_TAG!r} — a mismatched store would "
            "silently report zero overlap; rebuild it"
        )
    return spark.read.parquet(path)


def contamination_counts(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    gram_w: int = 8,
    bench_grams: DataFrame | str | None = None,
) -> DataFrame:
    """Benchmark decontamination: for every corpus doc, how many of
    its distinct `gram_w`-token n-grams appear in ANY benchmark doc.
    Returns (id, n_overlap, contaminated) for every corpus row —
    zero-overlap docs included (left join), so the output is a total
    decision table, not just the positives.

    The benchmark gram set is deduped and broadcast (benchmark suites
    are orders of magnitude smaller than the corpus); the corpus side
    is scan + explode + map-side hash join + partial-agg — no
    corpus-wide shuffle of raw text ever happens. Pass `bench_grams`
    to skip re-digesting an unchanged benchmark suite: a PATH string
    (a `benchmark_gram_store` output) is opened through
    `read_benchmark_gram_store`, which fails fast unless the store's
    recorded gram_w/tokenizer match this call's; a raw (gram)
    DataFrame is trusted as-is (the caller owns the match)."""
    if (benchmark is None) == (bench_grams is None):
        raise ValueError("pass exactly one of benchmark / bench_grams")
    if isinstance(bench_grams, str):
        bench_grams = read_benchmark_gram_store(
            corpus.sparkSession, bench_grams, gram_w
        )
    if bench_grams is None:
        bench_grams = (
            _gram_digests(benchmark, id_col, text_col, gram_w)
            .select("gram").distinct()
        )
    bench_grams = F.broadcast(bench_grams.select("gram"))
    overlap = (
        _gram_digests(corpus, id_col, text_col, gram_w)
        .join(bench_grams, "gram", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(overlap, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def weighted_mixture(
    df: DataFrame,
    strata_col: str,
    weights: dict[str, float],
    total: int,
    order_key: Column | str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic data-mixing manifest: sample ~`total` rows with
    per-stratum counts proportional to `weights` (largest-remainder
    rounding, so quotas sum exactly to `total`). Pure driver-side
    arithmetic on the weights dict + one `stratified_sample` pass —
    the certified q59 path does the distributed work. Strata absent
    from `weights` contribute nothing; a stratum smaller than its
    quota under-fills it (by design: no replacement)."""
    if total < 0 or not weights or any(w < 0 for w in weights.values()):
        raise ValueError("need total >= 0 and non-negative weights")
    wsum = sum(weights.values())
    if wsum <= 0:
        raise ValueError("weights must sum > 0")
    exact = {k: total * w / wsum for k, w in weights.items()}
    quotas = {k: int(v) for k, v in exact.items()}
    short = total - sum(quotas.values())
    # largest remainder; stable key tie-break keeps it deterministic
    for k in sorted(exact, key=lambda k: (-(exact[k] - quotas[k]), k))[:short]:
        quotas[k] += 1
    return stratified_sample(df, strata_col, quotas, order_key, id_col)


def sequence_packing_manifest(
    df: DataFrame,
    seq_len: int = 512,
    shard_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence-packing accounting — per shard, the
    document stream (ordered by `id_col`) is conceptually concatenated
    and cut into `seq_len`-token training sequences; each document is
    attributed to the sequence its FIRST token lands in. Output: one
    row per (shard, seq_id) with the doc span and token fill.

    This is the GPT-style packing bookkeeping (no padding waste, docs
    may straddle boundaries) expressed as pure windowed arithmetic:
    running token sum per shard → start offset → floor-div bucket.

    Scale notes (100 TB): the running sum partitions by the SHARD
    column — packing is per-shard sequential by construction (a global
    document order would serialize the corpus through one task), so
    parallelism = shard count; use enough shards (source × hash-bucket
    in production) to fill the cluster. One shuffle on the shard key,
    then a single window pass; the per-(shard, seq) aggregate
    partial-combines map-side.
    """
    from pyspark.sql.window import Window

    if seq_len <= 0:
        raise ValueError("seq_len must be positive")
    from data_warehouse_nhom8_spark.operators.text import token_count_col

    toks = df.select(
        F.col(shard_col).alias("shard"),
        F.col(id_col).alias("doc_id"),
        token_count_col(text_col).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.select(
        "shard",
        "doc_id",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_off"),
    ).withColumn("seq_id", F.floor(F.col("start_off") / seq_len).cast("long"))
    return (
        placed.groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_started"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("shard", "seq_id")
    )


def temperature_mixture_weights(
    df: DataFrame,
    token_budget: int,
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based mixture reweighting (T=2, i.e. p^(1/2)) — the
    standard multi-source LM sampling scheme: a source's sampling
    weight is sqrt(tokens_s) / Σ sqrt(tokens_s), flattening the raw
    size distribution so small sources are not drowned out. Output per
    source: token count, mixture weight, and expected epochs over the
    source under `token_budget` sampled tokens.

    Determinism contract: sqrt is IEEE-correctly-rounded in both
    engines; each sqrt is quantized to DECIMAL(28,6) BEFORE the
    cross-source sum so the normalizer is an exact decimal sum
    (order-independent), then one double division per source. The
    exponent is fixed at 1/2 for exactly this reason — a general
    pow(x, alpha) is not guaranteed bit-identical across engines.

    Scale notes: one partial-agg pass over the corpus for per-source
    token counts (map-side combined); the normalizer window runs over
    source-cardinality rows (dim-sized).
    """
    from pyspark.sql.window import Window

    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    from data_warehouse_nhom8_spark.operators.text import token_count_col

    per_source = df.groupBy(F.col(strata_col).alias("source")).agg(
        F.sum(token_count_col(text_col)).alias("n_tokens")
    )
    sq = F.sqrt(F.col("n_tokens").cast("double")).cast("decimal(28,6)")
    scored = per_source.withColumn("__sq", sq).withColumn(
        "__norm", F.sum("__sq").over(Window.partitionBy())
    )
    weight = (F.col("__sq").cast("double") / F.col("__norm").cast("double"))
    return scored.select(
        "source",
        "n_tokens",
        weight.alias("mix_weight"),
        (weight * F.lit(float(token_budget)) / F.col("n_tokens")).alias(
            "expected_epochs"
        ),
    ).orderBy("source")


def deterministic_shuffle_key(
    df: DataFrame,
    seed: str = "epoch0",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reproducible global shuffle order for training-data delivery:
    every row gets an md5-derived hex sort key from (id, seed) —
    changing the seed reshuffles, re-running does not. Downstream
    writers `orderBy("shuffle_key")` (a range-partitioned distributed
    sort, the scale path) to lay the corpus out in shuffled order.

    md5 over the decimal-string id is engine-portable (identical hex
    in Spark and DuckDB), unlike engine-native hash functions.
    """
    return df.withColumn(
        "shuffle_key",
        F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed))),
    )


def per_source_cap(
    df: DataFrame,
    cap: int = 10,
    seed: str = "cap0",
    id_col: str = "doc_id",
    group_col: str = "source",
    salt_buckets: int | None = None,
) -> DataFrame:
    """Per-source document cap — Common-Crawl-style curation keeps at
    most `cap` documents per domain/source so no single crawl host
    dominates the training mixture. Selection is a DETERMINISTIC
    random sample: priority = md5(id:seed) (engine-portable, same hex
    on Spark and DuckDB — deterministic_shuffle_key's contract), so
    the kept set is stable across runs/engines and reshuffles only
    when the seed changes.

    Returns (id, group, rank_in_source), rank ≤ cap, ordered.

    Skew is the 100 TB concern: one hot domain can hold millions of
    rows, and a single row_number() window shuffles ALL of them to one
    task. With `salt_buckets=S`, a first row_number over
    (group, xxhash64(id) mod S) pre-caps each salt shard to `cap` rows
    map-side-ish (S tasks per group, each keeping ≤ cap), so at most
    S·cap rows per group reach the final window — bounded regardless
    of domain size. The two-phase result EQUALS the single-phase one
    (pytest-gated): any row in a group's global top-cap by priority
    ranks ≤ cap within its own shard too, so phase 1 never drops a
    final keeper. The salt hash never touches the result — only the
    md5 priority orders rows — so xxhash64's engine-specificity stays
    out of the certified output."""
    from pyspark.sql import Window

    pri = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed)))
    base = df.select(id_col, group_col).withColumn("__pri", pri)
    if salt_buckets and salt_buckets > 1:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col(group_col), shard).orderBy("__pri", id_col)
        base = (
            base.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= cap)
            .drop("__r1")
        )
    w = Window.partitionBy(group_col).orderBy("__pri", id_col)
    return (
        base.withColumn("rank_in_source", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_source") <= cap)
        .select(id_col, group_col, "rank_in_source")
        .orderBy(group_col, "rank_in_source")
    )


# ------------------------------------------- URL canonicalization


def url_canonical_cols(url: Column | str) -> dict[str, Column]:
    """Web-curation URL canonicalization (the normalize step every
    crawl-derived corpus runs before URL-level dedup — the reference
    has no crawl tier; this extends S1's scraped-source story to the
    Common-Crawl shape). Returns native-expression columns:

      canon_url — scheme stripped, fragment/query stripped, host
                  lowercased, leading ``www.`` and default ports
                  (:80/:443) removed, ``/index.html`` collapsed,
                  trailing slashes trimmed; path case preserved
                  (paths are case-sensitive; hosts are not)
      domain    — the canonicalized host alone (per-domain cap key)

    Pure per-row regex projections — whole-stage codegen over the
    scan, zero shuffle, and every step is byte-identical in DuckDB
    (simple anchored patterns, no engine-specific regex syntax), so
    derived queries are fully driver-oracled.

    When `url` is a column NAME the chain assembles as two memoized
    parses (r16 build-cost rule — ~40 py4j calls per build otherwise);
    identical regexp_replace/extract operators, Column twin kept as
    the fallback for Column inputs, results oracle-pinned (q111)."""
    if isinstance(url, str):
        from data_warehouse_nhom8_spark.session import memo_expr

        s = (
            f"regexp_replace(regexp_replace(regexp_replace(trim({url}), "
            "'#.*', ''), '\\\\?.*', ''), '^[a-zA-Z][a-zA-Z0-9+.-]*://', '')"
        )
        host = f"regexp_replace(lower(regexp_extract({s}, '^[^/]+', 0)), ':(80|443)$', '')"
        domain = f"regexp_replace({host}, '^www\\\\.', '')"
        path = (
            f"regexp_replace(regexp_replace(regexp_replace({s}, '^[^/]+', ''), "
            "'/index\\\\.html$', '/'), '/+$', '')"
        )
        return {
            "domain": memo_expr(domain),
            "canon_url": memo_expr(f"concat({domain}, {path})"),
        }
    s = F.trim(_c(url))
    s = F.regexp_replace(s, "#.*", "")  # fragment
    s = F.regexp_replace(s, r"\?.*", "")  # query string
    s = F.regexp_replace(s, "^[a-zA-Z][a-zA-Z0-9+.-]*://", "")  # scheme
    host = F.lower(F.regexp_extract(s, "^[^/]+", 0))
    host = F.regexp_replace(host, ":(80|443)$", "")  # default ports
    domain = F.regexp_replace(host, r"^www\.", "")
    path = F.regexp_replace(s, "^[^/]+", "")  # raw path ('' when none)
    path = F.regexp_replace(path, r"/index\.html$", "/")
    path = F.regexp_replace(path, "/+$", "")
    return {"domain": domain, "canon_url": F.concat(domain, path)}


def url_dedup_domain_cap(
    df: DataFrame,
    url_col: Column | str = "url",
    cap: int = 10,
    seed: str = "url0",
    id_col: str = "doc_id",
    salt_buckets: int | None = None,
) -> DataFrame:
    """URL-level exact dedup + per-domain cap — the two curation
    passes a crawl corpus runs back-to-back on the canonicalized URL:

      1. collapse every raw-URL variant of the same canonical URL to
         ONE document (deterministic winner: lowest md5(id:seed)
         priority, id tiebreak — engine-portable, reshuffles only
         when the seed changes);
      2. keep at most `cap` surviving documents per DOMAIN, same
         md5-priority order (`per_source_cap`'s policy, composed
         here so the cap sees the deduped set, not raw variants).

    Returns (id, domain, canon_url, rank_in_domain), rank <= cap.

    Scale notes: pass 1 windows over canon_url — fine-grained keys
    (a single URL repeats per mirror/recrawl, thousands at worst),
    no salting needed. Pass 2 windows over domain — the hot-domain
    skew axis; `salt_buckets=S` bounds any domain's final window to
    S*cap rows exactly as in `per_source_cap` (a shard winner set is
    a superset of the global top-cap), pytest-gated equal to the
    single-window form."""
    from pyspark.sql import Window

    cols = url_canonical_cols(url_col)
    pri = F.md5(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(seed)))
    base = df.select(
        id_col,
        cols["domain"].alias("domain"),
        cols["canon_url"].alias("canon_url"),
    ).withColumn("__pri", pri)
    w_url = Window.partitionBy("canon_url").orderBy("__pri", id_col)
    deduped = (
        base.withColumn("__ru", F.row_number().over(w_url))
        .filter(F.col("__ru") == 1)
        .drop("__ru")
    )
    if salt_buckets and salt_buckets > 1:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets))
        w1 = Window.partitionBy(F.col("domain"), shard).orderBy("__pri", id_col)
        deduped = (
            deduped.withColumn("__r1", F.row_number().over(w1))
            .filter(F.col("__r1") <= cap)
            .drop("__r1")
        )
    w_dom = Window.partitionBy("domain").orderBy("__pri", id_col)
    return (
        deduped.withColumn("rank_in_domain", F.row_number().over(w_dom).cast("long"))
        .filter(F.col("rank_in_domain") <= cap)
        .select(id_col, "domain", "canon_url", "rank_in_domain")
        .orderBy("domain", "rank_in_domain")
    )


# --------------------------------------- contamination span fraction


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    gram_w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_grams: DataFrame | str | None = None,
) -> DataFrame:
    """Token-LEVEL benchmark contamination: for every corpus doc, the
    fraction of its tokens covered by `gram_w`-token windows that
    appear verbatim in ANY benchmark doc — the span-granular upgrade
    of `contamination_counts`' boolean gate (a doc quoting one
    benchmark question 1% of its length is salvageable by span
    excision; a 90%-covered doc is not — the decision needs the
    FRACTION, not the bit).

    Returns a total decision table (zeros included):
      (id, n_tokens, cont_tokens, n_spans, cont_fraction)
    where cont_tokens counts tokens under merged maximal contaminated
    spans (overlapping windows coalesce exactly as in
    `operators.span_dedup` — same position→span fold, same
    gaps-and-islands oracle twin).

    Scale notes (single-scan form, round 11): the benchmark
    gram-digest set is deduped and broadcast (suites are tiny vs the
    corpus); the corpus side is ONE scan — the window build carries
    the doc's token count alongside the posexploded hashes, a
    broadcast LEFT join marks benchmark hits (bench grams are
    distinct, so no row multiplication), and ONE per-doc aggregate
    folds hit positions into merged spans while keeping every doc
    (zeros included) — no second text scan, no join-back. Per-doc
    state is position-list-sized and the corpus never shuffles raw
    text. (The previous shape scanned the corpus twice — once for
    windows, once for token counts — and joined the two; measured at
    sf0.1 the second split+scan and the join were ~40% of warm time.)
    Digests are md5 (DuckDB-reproducible equality classes), matching
    `_gram_digests`/`span_dedup._window_hashes` byte-for-byte so a
    store built by `benchmark_gram_store` at the same gram_w can
    feed this operator too.

    NULL-text rows have no token windows and are dropped (the
    `_window_hashes` ≥1-window rule applies to non-null text only);
    filter or impute upstream if the corpus can carry them."""
    folded = _contamination_folded(
        corpus, benchmark, gram_w, id_col, text_col, bench_grams=bench_grams
    )
    return folded.select(
        id_col,
        "n_tokens",
        # spans are window-granular; a short tail doc can be fully
        # covered by a window longer than the doc — clamp
        F.least(
            F.expr("aggregate(__spans, 0, (a, x) -> a + (x.e - x.s))"),
            F.col("n_tokens"),
        )
        .cast("long")
        .alias("cont_tokens"),
        F.size("__spans").cast("long").alias("n_spans"),
    ).withColumn(
        "cont_fraction",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("cont_tokens") / F.col("n_tokens"), 4),
        ).otherwise(F.lit(0.0)),
    )


def _contamination_folded(
    corpus: DataFrame,
    benchmark: DataFrame | None,
    gram_w: int,
    id_col: str,
    text_col: str,
    bench_grams: DataFrame | str | None = None,
) -> DataFrame:
    """Shared single-scan core of `contamination_fraction` and
    `decontaminate_scrub`: (id, n_tokens, __spans) per corpus doc,
    where __spans is the array of merged maximal contaminated spans
    (struct<s,e,n>, window-granular, token positions 0-based).
    See `contamination_fraction`'s scale notes — one corpus scan,
    broadcast benchmark gram set, per-doc position fold. `bench_grams`
    follows `contamination_counts`' contract: a PATH string opens a
    `benchmark_gram_store` (gram_w/tokenizer validated), a DataFrame
    is trusted as-is, and exactly one of benchmark / bench_grams must
    be passed."""
    from data_warehouse_nhom8_spark.operators.span_dedup import (
        _merge_positions_col,
        _window_hashes,
    )
    from data_warehouse_nhom8_spark.session import repartition_if_split_starved

    if (benchmark is None) == (bench_grams is None):
        raise ValueError("pass exactly one of benchmark / bench_grams")
    if isinstance(bench_grams, str):
        bench_grams = read_benchmark_gram_store(
            corpus.sparkSession, bench_grams, gram_w
        )
    if bench_grams is None:
        bench_grams = (
            _gram_digests(benchmark, id_col, text_col, gram_w)
            .select("gram")
            .distinct()
        )
    bench_grams = (
        bench_grams.select(F.col("gram").alias("__h")).withColumn("__m", F.lit(1))
    )
    base = repartition_if_split_starved(corpus.select(id_col, text_col))
    if isinstance(text_col, str):
        # parsed selectExpr forms (r16 build-cost rule — this core is
        # on the q112/q116/q57 timed paths); identical operators to
        # the Column twins below, results pinned by the oracles
        from data_warehouse_nhom8_spark.operators.span_dedup import (
            _window_hashes_sql,
        )
        from data_warehouse_nhom8_spark.regexes import WS_SPLIT_SQL

        wins = base.selectExpr(
            f"{id_col} AS __id",
            f"size(split(lower(trim({text_col})), '{WS_SPLIT_SQL}')) AS __nt",
            f"posexplode({_window_hashes_sql(text_col, gram_w)}) AS (__pos, __h)",
        )
    else:
        wins = base.select(
            F.col(id_col).alias("__id"),
            F.size(F.split(F.lower(F.trim(_c(text_col))), WS_SPLIT)).alias("__nt"),
            F.posexplode(_window_hashes(_c(text_col), gram_w)).alias(
                "__pos", "__h"
            ),
        )
    marked = wins.join(F.broadcast(bench_grams), "__h", "left")
    per_doc = marked.groupBy("__id").agg(
        F.max("__nt").alias("n_tokens"),
        # collect_list skips the NULLs the when() leaves on misses —
        # only true benchmark hits enter the position fold
        F.expr(
            "sort_array(collect_list(CASE WHEN __m = 1 THEN __pos END))"
        ).alias("__ps"),
    )
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_tokens",
        _merge_positions_col("__ps", gram_w).alias("__spans"),
    )


# Broadcast the contaminated-spans side of the scrub join while the
# CORPUS input is under this on-disk size (the `sets_cached`-style
# size policy): the spans table is bounded by the contaminated doc
# subset and carries window-granular struct arrays — orders of
# magnitude smaller than the text it was derived from — so a corpus
# whose raw bytes fit here bounds the broadcast to low MBs. Above the
# bound (and at 100 TB) the scrub keeps the shuffle join: a broadcast
# build of a corpus-scale span table is exactly the driver/executor
# OOM §3.1 warns about.
_SPANS_BROADCAST_MAX_CORPUS_BYTES = 256 * 1024 * 1024


def _input_bytes(df: DataFrame) -> int:
    import os as _os

    files = df.inputFiles()
    if not files:
        return 1 << 62  # in-memory input: size unknown — treat as over-bound
    total = 0
    for f in files:
        try:
            total += _os.path.getsize(f.replace("file:", "", 1))
        except OSError:
            return 1 << 62  # unknown input — treat as over-bound
    return total


def decontaminate_scrub(
    corpus: DataFrame,
    benchmark: DataFrame | None = None,
    gram_w: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_grams: DataFrame | str | None = None,
    ordered: bool = False,
    broadcast_spans: bool | None = None,
) -> DataFrame:
    """Token-level benchmark decontamination SCRUB — the excision
    step `contamination_fraction` measures for: every token covered
    by a merged contaminated span is REMOVED and the document is
    re-emitted with the surviving tokens (original casing preserved;
    whitespace normalized to single spaces — the span positions are
    defined on the lowercased whitespace-split token stream, and the
    original token at each position is what survives). The
    production recipe is fraction-gate + scrub: docs past a
    contamination threshold drop entirely (`contamination_fraction`
    feeds that filter); lightly-quoted docs keep their clean bulk
    through this operator instead of being discarded.

    Returns a total table over every NON-NULL-text corpus doc —
    NULL-text rows are dropped here (round 12: the scrub CURATES, so
    a doc with no text is not a document; `contamination_fraction`
    stays total because it MEASURES, reporting NULL n_tokens for
    such rows. Previously NULL-text rows leaked through the left
    join with NULL counts and behaved differently with vs without
    the downstream gate's bound):
      (id, n_tokens, kept_tokens, removed_tokens, n_spans, clean_text)
    with kept_tokens + removed_tokens == n_tokens, removed_tokens ==
    the clamped cont_tokens of `contamination_fraction` (same spans,
    same window-granular clamp at doc end), and clean_text == ''
    when a short doc's single whole-doc window is contaminated.

    Scale notes: span derivation is the shared single-scan core
    (broadcast benchmark grams, corpus text never shuffles). The
    join-back ships ONLY contaminated docs' span arrays (hits-only —
    clean docs take the left-join miss path and pass through
    untouched), so the join's build side is the contaminated subset,
    not the corpus; on the snapshot layout bucketed by id the probe
    side's text stays put. Token excision is a native two-arg
    `filter` lambda over the split array — per-row, codegen, no UDF."""
    spans = (
        _contamination_folded(
            corpus, benchmark, gram_w, id_col, text_col, bench_grams=bench_grams
        )
        .filter(F.size("__spans") > 0)
        .select(id_col, "__spans")
    )
    # r16 (VERDICT r15 task 7, guide §2.4/§3.1): size-policied
    # broadcast of the spans side. The spans aggregate's output size
    # is unknown to Catalyst (post-ObjectHashAggregate), so the
    # planner falls back to a SortMergeJoin that shuffles the CORPUS
    # TEXT by id — the one heavy-bytes exchange on the scrub path
    # (r15 plan: Exchange(3) under the SMJ, on top of the final
    # order's range exchange — text moved twice). Under the size
    # policy the spans side broadcasts and corpus text never shuffles
    # for the join; the SMJ stays the over-bound fallback.
    if broadcast_spans is None:
        broadcast_spans = _input_bytes(corpus) <= _SPANS_BROADCAST_MAX_CORPUS_BYTES
    joined = (
        corpus.select(id_col, text_col)
        .filter(_c(text_col).isNotNull())
        .join(F.broadcast(spans) if broadcast_spans else spans, id_col, "left")
    )
    if ordered:
        # r15: `ordered=True` sorts BETWEEN the join and the excision
        # instead of the caller sorting the finished table. A global
        # sort's range exchange samples its child to pick bounds; with
        # the sort on top, that sampling pass re-ran the O(tokens x
        # spans) excision filter over every row (measured 0.81 ->
        # 0.50 s at sf0.1). Here the sampler only re-merges the
        # join's already-shuffled inputs, and the excision — an
        # order-preserving projection — runs exactly once, above the
        # Sort. Output row order is identical (pinned by the q116
        # oracle's result-order check).
        joined = joined.orderBy(id_col)
    # stage the token array AND the filtered survivors as NAMED columns
    # (the q52/minhash staging rule): each is referenced 2-3x below and
    # the excision filter is O(tokens x spans) per row — inlined, the
    # plan runs it once per referencing output column (verified in the
    # collapsed plan); multi-referenced non-cheap aliases survive
    # CollapseProject, so the filter runs once per row.
    # Assembled as parsed selectExpr when text_col is a name (r16, the
    # round-10 build-cost rule — this builder sits in the q116 timed
    # path; same operators, same lambdas, Column twin kept below).
    if isinstance(text_col, str):
        from data_warehouse_nhom8_spark.regexes import WS_SPLIT_SQL

        staged = joined.selectExpr(
            id_col,
            "__spans",
            f"split(trim({text_col}), '{WS_SPLIT_SQL}') AS __ot",
        ).selectExpr(
            id_col,
            "__spans",
            "__ot",
            "CASE WHEN __spans IS NULL THEN __ot ELSE "
            "filter(__ot, (tok, i) -> NOT exists(__spans, "
            "sp -> i >= sp.s AND i < sp.e)) END AS __kept",
        )
        return staged.selectExpr(
            id_col,
            "CAST(size(__ot) AS BIGINT) AS n_tokens",
            "CAST(size(__kept) AS BIGINT) AS kept_tokens",
            "CAST((size(__ot) - size(__kept)) AS BIGINT) AS removed_tokens",
            "CAST(coalesce(size(__spans), 0) AS BIGINT) AS n_spans",
            "concat_ws(' ', __kept) AS clean_text",
        )
    return _scrub_tail_column_form(joined, id_col, text_col)


def _scrub_tail_column_form(joined: DataFrame, id_col: str, text_col) -> DataFrame:
    """Column-API twin of the scrub excision tail — the readable
    specification, the Column-input path, and the form-equivalence
    pytest's reference."""
    staged = joined.select(
        id_col,
        "__spans",
        F.split(F.trim(_c(text_col)), WS_SPLIT).alias("__ot"),
    ).select(
        id_col,
        "__spans",
        "__ot",
        F.when(F.col("__spans").isNull(), F.col("__ot"))
        .otherwise(
            F.filter(
                F.col("__ot"),
                lambda tok, i: ~F.exists(
                    F.col("__spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"])
                ),
            )
        )
        .alias("__kept"),
    )
    return staged.select(
        id_col,
        F.size("__ot").cast("long").alias("n_tokens"),
        F.size("__kept").cast("long").alias("kept_tokens"),
        (F.size("__ot") - F.size("__kept")).cast("long").alias("removed_tokens"),
        F.coalesce(F.size("__spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
    )


def decontaminate_gate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    gram_w: int = 8,
    max_cont_fraction: float | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_grams: DataFrame | str | None = None,
) -> DataFrame:
    """The production decontamination STAGE: scrub + drop gate in one
    call, schema-preserving — `text_col` is replaced by the scrubbed
    survivors and every other column passes through, so the result
    slots into any pipeline position (`pipeline.corpus_prep` and the
    streaming ingest sink both use it).

    `max_cont_fraction` (None = keep everything scrubbed): docs whose
    REMOVED-token fraction exceeds the bound are dropped entirely —
    past-salvage docs (a 90%-benchmark doc is not a training doc with
    the quotes cut out; the q112 fraction rationale). The comparison
    is exact-integer (removed * 10000 <= bound-in-bp * n_tokens), no
    float boundary ambiguity. NULL-text docs drop in BOTH modes (the
    scrub excludes them — round 12; previously they survived as
    empty-text docs when no bound was set but dropped when one was).

    Scale: one extra id-equi-join of docs against the scrub output
    (both id-keyed — co-partitioned on the bucketed snapshot layout);
    the scrub itself never shuffles corpus text (see
    `decontaminate_scrub`)."""
    scrubbed = decontaminate_scrub(
        docs,
        benchmark,
        gram_w=gram_w,
        id_col=id_col,
        text_col=text_col,
        bench_grams=bench_grams,
    )
    if max_cont_fraction is not None:
        bp = int(round(max_cont_fraction * 10000))
        scrubbed = scrubbed.filter(
            F.col("removed_tokens") * 10000 <= F.lit(bp) * F.col("n_tokens")
        )
    replaced = docs.drop(text_col).join(
        scrubbed.select(id_col, F.col("clean_text").alias(text_col)),
        id_col,
        "inner",
    )
    return replaced.select(*docs.columns)
