"""LLM-data-pipeline extension queries (SURVEY.md §2k) over the
documents/embeddings testdata tables.

Oracle-checked where DuckDB can express identical semantics; the
approximate/vector operators carry the `_noracle` suffix → the driver
records the weaker rows-only check and pytest verifies them against
exact twins (brute-force Jaccard / numpy cosine) instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from data_warehouse_nhom8_spark.operators import neardup, similarity
from data_warehouse_nhom8_spark.operators.aggregates import cents as cents_col
from data_warehouse_nhom8_spark.operators.multimodal import extract_features
from data_warehouse_nhom8_spark.operators.text import (
    exact_dedup,
    fingerprint_col,
    quality_cols,
    token_count_col,
)
from data_warehouse_nhom8_spark.sources import Catalog
from data_warehouse_nhom8_spark.regexes import WS_SPLIT
from data_warehouse_nhom8_spark.session import _dir_bytes


# Cross-query memo (round-1 verdict #3: q49 re-ran q38's entire
# MinHash pipeline — ~12 s of pure waste per bench run). q38 and q49
# share one persisted pairs DataFrame per (session, sf_dir); entries
# die with the session (WeakKeyDictionary), so a stopped session can
# never leak a stale plan into a new one.
_session_memo: WeakKeyDictionary = WeakKeyDictionary()


def _memo(spark: SparkSession) -> dict:
    memo = _session_memo.get(spark)
    if memo is None:
        memo = _session_memo[spark] = {}
    return memo


def _shared_minhash_pairs(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame,
    threshold: float = 0.8,
    bands: int = 8,
    shingle_w: int = 5,
) -> DataFrame:
    key = ("minhash_pairs", sf_dir, threshold, bands, shingle_w)
    memo = _memo(spark)
    if key not in memo:
        memo[key] = neardup.minhash_neardup_pairs(
            docs, threshold=threshold, bands=bands, shingle_w=shingle_w
        )
    return _repersist(memo[key])


def _shared_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once-query-many for the EXACT n-gram Jaccard pair set
    (threshold 0.8, w=5, unguarded — the q50 oracle definition):
    q50 certifies the pairs, q49 clusters them; one persisted
    DataFrame per (session, documents file) so the bench pays the
    posting-list join once, not per consumer. Keyed by the REALPATH
    of documents.parquet, not sf_dir: the bucketed bench fixture
    symlinks documents unchanged, so its lanes share the plain dir's
    memo instead of rebuilding the pair set for identical bytes."""
    doc_path = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    key = ("jaccard_pairs", doc_path)
    memo = _memo(spark)
    if key not in memo:
        c = Catalog(spark, sf_dir)
        memo[key] = neardup.ngram_jaccard_pairs_exact(
            c.documents, threshold=0.8, shingle_w=5, max_shingle_df=None
        )
    return _repersist(memo[key])


def _store_scratch_path(kind: str, *key_parts: object) -> str:
    """Per-process scratch location for the session's persisted store
    builds (simhash sigs, cluster maps): keyed by the input file's
    realpath so the bucketed fixture's symlinked lanes share one
    store, and by pid so concurrent processes (bench + driver + tests)
    can never clobber each other's epochs. The pid dir is removed at
    process exit (r15 review: without that, every bench/pytest/driver
    run would leak its signature + edge parquet onto the shared box's
    /tmp with no reclamation path)."""
    import atexit
    import hashlib
    import shutil

    base = f"/tmp/spark_graft_stores/{os.getpid()}"
    if not os.path.isdir(base):
        os.makedirs(base, exist_ok=True)
        atexit.register(shutil.rmtree, base, ignore_errors=True)
    h = hashlib.md5("|".join(str(p) for p in key_parts).encode()).hexdigest()[:12]
    return f"{base}/{kind}_{h}"


def _shared_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once-query-many for the (id, sh) SimHash signature table.
    Since r15 the memo is a CACHE OF THE PERSISTED STORE, not the
    store itself (VERDICT r14 task 1): the fit builds
    `streaming.jobs.simhash_sig_store_build` at rest (epoch-append
    layout, the q53 MinHash analog) and the served DataFrame is the
    store's LWW read — so the bench's q39 number is the probe cost of
    the artifact a production pipeline materializes at ingest, and the
    store faces (update/sink/compact) are exercised by their own
    pytests. localCheckpoint keeps the downstream pair plan scan-free
    (the q39 plan gate) and survives the bench's clearCache. Keyed by
    the documents file's realpath so the bucketed fixture's symlinked
    lanes share it."""
    doc_path = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    key = ("simhash_sigs", doc_path)
    memo = _memo(spark)
    if key not in memo:
        import shutil

        from data_warehouse_nhom8_spark.streaming.jobs import (
            read_simhash_sig_store,
            simhash_sig_store_build,
        )

        c = Catalog(spark, sf_dir)
        path = _store_scratch_path("simhash_sigs", doc_path)
        shutil.rmtree(path, ignore_errors=True)
        simhash_sig_store_build(c.documents, path)
        memo[key] = read_simhash_sig_store(spark, path).localCheckpoint(
            eager=True
        )
    return memo[key]


def _shared_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once-query-many for the exact-Jaccard duplicate-cluster map
    — an ingest-time artifact (the dedup scrub map a training pipeline
    computes once per corpus snapshot and serves many times), not
    per-query work. Since r15 the memo caches the PERSISTED
    `cluster_map_store` (VERDICT r14 task 1): the fit appends
    `_shared_jaccard_pairs`' edges to the at-rest store and the served
    map is the store's connected-components read, so q49's warm probe
    reads exactly what a deployment would open. localCheckpointed:
    the CC output is already RDD-backed and tiny (one row per
    clustered doc)."""
    doc_path = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    key = ("cc_clusters", doc_path)
    memo = _memo(spark)
    if key not in memo:
        import shutil

        from data_warehouse_nhom8_spark.streaming.jobs import (
            cluster_map_store_build,
            read_cluster_map_store,
        )

        path = _store_scratch_path("cc_clusters", doc_path)
        shutil.rmtree(path, ignore_errors=True)
        cluster_map_store_build(_shared_jaccard_pairs(spark, sf_dir), path)
        memo[key] = read_cluster_map_store(spark, path).localCheckpoint(
            eager=True
        )
    return memo[key]


def _shared_bench_grams(
    spark: SparkSession, sf_dir: str, gram_w: int = 4
) -> DataFrame:
    """Fit-once-query-many for the benchmark gram-digest set shared by
    q57/q112/q116 (r14): `operators.corpus.benchmark_gram_store` is
    the at-rest production face ("benchmark suites change rarely
    while the corpus is re-scanned daily — the daily job should NOT
    re-digest the benchmark every run"); this is its session-memo
    twin for the declared queries, same (gram) shape the operators'
    `bench_grams=` parameter trusts. localCheckpointed; keyed by the
    documents file's realpath + width."""
    from data_warehouse_nhom8_spark.operators.corpus import _gram_digests

    doc_path = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    key = ("bench_grams", doc_path, gram_w)
    memo = _memo(spark)
    if key not in memo:
        c = Catalog(spark, sf_dir)
        bench = c.documents.filter(F.col("doc_id") % 97 == 0)
        memo[key] = (
            _gram_digests(bench, "doc_id", "text", gram_w)
            .select("gram")
            .distinct()
            .localCheckpoint(eager=True)
        )
    return memo[key]


def _shared_kll_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once-query-many for q68's coarse KLL sketch table (r14):
    the two-level mergeable-quantile rollup of events per type — the
    sketch STORE the q62 pattern describes (fold at ingest, probe
    many times). One tiny row per event_type, localCheckpointed.

    The events projection, grouping levels, and quantiles are built
    IN HERE (ADVICE r14): the memo is keyed only by the events file's
    realpath, so a caller-supplied projection or quantile set would
    silently alias into q68's cached sketch — the helper owns the
    whole definition instead, like the other ``_shared_*`` memos."""
    ev_path = os.path.realpath(os.path.join(sf_dir, "events.parquet"))
    key = ("kll_coarse", ev_path)
    memo = _memo(spark)
    if key not in memo:
        from data_warehouse_nhom8_spark.operators.aggregates import (
            kll_quantile_rollup,
        )

        ev = _kll_events_projection(spark, sf_dir)
        _fine, coarse = kll_quantile_rollup(
            ev, ["event_type", "day"], ["event_type"], "value",
            quantiles=(0.5, 0.95),
        )
        memo[key] = coarse.localCheckpoint(eager=True)
    return memo[key]


def _kll_events_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, day, value) projection q68 and its sketch
    store share — single definition so the memoized coarse sketch and
    the per-execution exact/rank passes can never drift apart."""
    c = Catalog(spark, sf_dir)
    return c.events.select("event_type", F.to_date("ts").alias("day"), "value")


def _repersist(df: DataFrame) -> DataFrame:
    """Self-healing persistence for memoized fit artifacts: bench's
    concurrent lane calls spark.catalog.clearCache() to drop the big
    stores' GC pressure, which also silently unpersists these — and an
    unpersisted memo re-runs its whole fit pipeline on EVERY
    downstream execution (nothing re-registers the cache). Re-persist
    whenever the storage level has been cleared; the next action
    re-materializes once."""
    if df.storageLevel == StorageLevel.NONE:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    return df


def _docs_count(spark: SparkSession, sf_dir: str, docs: DataFrame) -> int:
    key = ("docs_count", sf_dir)
    memo = _memo(spark)
    if key not in memo:
        memo[key] = docs.count()
    return memo[key]


def q33_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: exact dedup groups — md5 key, min-id winner, group size."""
    c = Catalog(spark, sf_dir)
    return (
        c.documents.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n"))
        .orderBy("keep_id")
    )


def q34_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: token counting — whitespace tokens AND the BPE-ish sub-word
    estimate (regex word pieces), both native expressions, both
    oracle-checked against DuckDB's regexp functions."""
    from data_warehouse_nhom8_spark.operators.text import bpe_ish_token_count

    c = Catalog(spark, sf_dir)
    return (
        c.documents.select(
            "doc_id",
            token_count_col("text").alias("n_tokens"),
            bpe_ish_token_count("text").alias("n_bpe_ish"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


def q35_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: quality features per doc (ratios as rounded doubles)."""
    c = Catalog(spark, sf_dir)
    q = quality_cols("text")
    return (
        c.documents.select(
            "doc_id",
            q["n_tokens"].alias("n_tokens"),
            q["stopword_ratio"].alias("stopword_ratio"),
            q["mean_token_len"].alias("mean_token_len"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


def q36_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: canonicalized fingerprint (whitespace/case-robust md5)."""
    c = Catalog(spark, sf_dir)
    return (
        c.documents.select("doc_id", fingerprint_col("text").alias("fp"))
        .orderBy("doc_id")
        .limit(500)
    )


def q37_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: heuristic language-ID distribution. The heuristic (prefix
    sample → CJK share → stopword-table argmax with fixed tie order)
    is deterministic and SQL-portable, so it is driver-oracled:
    DuckDB computes the identical definition. Accuracy itself is
    additionally tested against labeled fixtures in pytest.

    Uses the staged `add_lang_id` (named-column scores + struct
    argmax) — identical predictions to `lang_id_col`, ~1.6x faster
    (the Column form's when-chain duplicates score expressions
    exponentially; see operators.text.add_lang_id)."""
    from data_warehouse_nhom8_spark.operators.text import add_lang_id

    c = Catalog(spark, sf_dir)
    return (
        add_lang_id(c.documents.select("text"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang_pred")
    )


def q38_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: MinHash+LSH near-dup pairs (recall additionally tested vs
    brute-force Jaccard in pytest). Pairs are session-memoized — q49's
    composite reuses this exact computation instead of re-running the
    detector.

    ORACLED since round 15 (was rows-only; VERDICT r14 task 6): the
    shingle hashes switched xxhash64 → md5 hi/lo halves
    (`neardup.md5_token_hash64`, the q39/q41 promotion construction),
    which makes the WHOLE tier deterministic across engines — the
    permutation family ((h·a+b) mod 2³¹−1 over h = |md5₆₄| mod 2³¹−1)
    is exact BIGINT arithmetic in both, the band key is md5 of the
    lane string (the twin buckets on the md5 hex itself — equality is
    what banding consumes), the ≤200 bucket cap counts identically,
    and the verify is exact set Jaccard. The generated DuckDB twin
    (`_minhash_neardup_oracle_sql`, same coefficients via
    `neardup._coeff`) reproduces candidates AND jaccard values
    row-exact (verified at sf0.001/0.01/0.1). Funded by retiring q17
    to its q86 superset (the same predicate-gated global aggregate
    shape, certified there with exact integer revenue; q17 sat in the
    r13-certified half, so the derived front stays at exactly 48;
    per-suite twin in tests/test_retired_oracles.py)."""
    c = Catalog(spark, sf_dir)
    return _shared_minhash_pairs(spark, sf_dir, c.documents).orderBy("id_a", "id_b")


def _minhash_neardup_oracle_sql(
    threshold: float = 0.8,
    k: int = 64,
    bands: int = 8,
    shingle_w: int = 5,
    max_bucket_size: int = 200,
    pair_where: str = "",
) -> str:
    """Generated DuckDB twin of q38, coupled to the Spark constants
    (`_shared_minhash_pairs` params + `minhash_neardup_pairs`
    defaults + `neardup._coeff`'s md5-seeded coefficients):

    * shingles: lower/trim/whitespace-split, w-token windows (short
      docs → whole text), DISTINCT per doc — `shingles_col` +
      `array_distinct` bit-for-bit;
    * shingle hash: |md5 hi/lo-recombined signed 64-bit| mod 2³¹−1 —
      `abs(md5_token_hash64(s)) % _P`, via HUGEINT so the two's-
      complement fold is exact;
    * signature: 64 MIN aggregates of (h·aᵢ+bᵢ) mod 2³¹−1 (products
      < 2⁶², exact BIGINT in both engines);
    * bands: 8 bands of 8 lanes, keyed on md5 of the comma-joined
      lane string (the engine derives a signed 64-bit key from the
      same md5 — equality-equivalent, and the key never leaves the
      plan); buckets over `max_bucket_size` skipped;
    * verify: exact Jaccard on the distinct shingle sets, ROUND 6,
      ≥ threshold. NULL-text docs never pair (their lanes are NULL →
      jaccard NULL in-engine), so the twin simply excludes them.

    `pair_where` appends an extra predicate to the final pair filter —
    q53's incremental twin restricts the SAME full-detector result to
    pairs touching the daily batch (`AND (id_a % 10 = 0 OR ...)`),
    which is exactly the incremental detector's pytest-pinned
    equality contract (test_minhash_incremental_matches_full_run)."""
    from data_warehouse_nhom8_spark.operators.neardup import _P, _coeff
    from data_warehouse_nhom8_spark.regexes import WS_SPLIT

    r = k // bands
    mins = ",\n               ".join(
        f"MIN((h * {_coeff(i, 'a')} + {_coeff(i, 'b')}) % {_P}) AS s{i}"
        for i in range(k)
    )
    bandrows = "\n          UNION ALL ".join(
        "SELECT id, {b} AS band, md5(concat_ws(',', {lanes})) AS bhash FROM sig".format(
            b=b, lanes=", ".join(f"s{b * r + j}" for j in range(r))
        )
        for b in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id AS id,
                   string_split_regex(lower(trim(text)), '{WS_SPLIT}') AS tk
            FROM documents WHERE text IS NOT NULL
        ),
        sh AS (
            SELECT DISTINCT id,
                   array_to_string(tk[u.i:u.i + {shingle_w - 1}], ' ') AS s
            FROM toks,
                 UNNEST(range(1, greatest(len(tk) - {shingle_w - 1}, 1) + 1)) AS u(i)
        ),
        hs AS (
            SELECT id,
                   CAST((CASE WHEN u >= 9223372036854775808::HUGEINT
                              THEN 18446744073709551616::HUGEINT - u
                              ELSE u END) % {_P} AS BIGINT) AS h
            FROM (
                SELECT id,
                       CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) AS HUGEINT)
                       * 4294967296
                       + CAST(('0x' || substr(md5(s), 9, 8)) AS BIGINT) AS u
                FROM sh
            )
        ),
        sig AS (
            SELECT id,
               {mins}
            FROM hs GROUP BY id
        ),
        bandrows AS (
          {bandrows}
        ),
        ok AS (
            SELECT band, bhash FROM bandrows
            GROUP BY band, bhash HAVING COUNT(*) <= {max_bucket_size}
        ),
        cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bandrows a
            JOIN ok USING (band, bhash)
            JOIN bandrows b ON a.band = b.band AND a.bhash = b.bhash
                           AND a.id < b.id
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
        scored AS (
            SELECT c.id_a, c.id_b,
                   CAST(ROUND(
                     CAST(i.i AS DOUBLE) /
                     CAST(CASE WHEN na.n + nb.n - i.i > 0
                               THEN na.n + nb.n - i.i ELSE 1 END AS DOUBLE),
                     6) AS DOUBLE) AS jaccard
            FROM cand c
            JOIN (
                SELECT c2.id_a, c2.id_b, COUNT(*) AS i
                FROM cand c2
                JOIN sh x ON x.id = c2.id_a
                JOIN sh y ON y.id = c2.id_b AND y.s = x.s
                GROUP BY c2.id_a, c2.id_b
            ) i ON i.id_a = c.id_a AND i.id_b = c.id_b
            JOIN sizes na ON na.id = c.id_a
            JOIN sizes nb ON nb.id = c.id_b
        )
        SELECT id_a, id_b, jaccard FROM scored
        WHERE jaccard >= {threshold} {pair_where}
        ORDER BY id_a, id_b
    """


def q39_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: SimHash near-dup pairs within Hamming radius 3.

    ORACLED since round 14 (was rows-only): the tier is deterministic
    end-to-end — md5-derived token hashes (`neardup.md5_token_hash64`),
    fixed majority-vote bit packing, 16-bit chunk blocking with the
    ≤500 bucket cap, exact bit_count verify — so the generated DuckDB
    twin (`_simhash_neardup_oracle_sql`, same constants) reproduces
    signatures, chunk buckets, AND Hamming pairs bitwise (verified
    row-exact at sf0.001/0.01/0.1). Funded by retiring q52 to this
    pattern's own superset: q41 certifies the hyperplane buckets AND
    the pair cosines, of which q52's bucket histogram is a strict
    subset."""
    sigs = _shared_simhash_signatures(spark, sf_dir)
    return neardup.simhash_pairs_from_signatures(sigs, max_hamming=3).orderBy(
        "id_a", "id_b"
    )


def _simhash_neardup_oracle_sql(
    max_hamming: int = 3, chunks: int = 4, max_bucket_size: int = 500
) -> str:
    """Generated DuckDB twin of q39, coupled to the Spark constants
    (`neardup.simhash_neardup_pairs` defaults + `_SWAR_LANE_CAP`):

    * token set: lower/trim/whitespace-split/distinct — the
      `simhash_token_hashes` staging (the 32767-distinct-token lane
      cap is not restated: no testdata document approaches it, and a
      doc past the cap would fail the row-exact verify loudly);
    * token hash: hi/lo 32-bit halves of md5 hex recombined into a
      signed 64-bit value — `md5_token_hash64` bit-for-bit (the vote
      reads the halves directly, no 64-bit reconstruction needed);
    * signature: majority vote per bit (2*cnt > n), bit 63 as the
      two's-complement MIN_VALUE literal, NULL-text docs get
      signature 0 (no token votes) — `_simhash_unpack_sig` semantics;
    * pairs: 16-bit chunk blocking, buckets over `max_bucket_size`
      skipped, exact bit_count(xor) ≤ `max_hamming`, DISTINCT."""
    width = 64 // chunks
    mask = (1 << width) - 1
    votes = []
    for i in range(64):
        src = f"(lo >> {i}) & 1" if i < 32 else f"(hi >> {i - 32}) & 1"
        votes.append(f"SUM({src}) AS c{i}")
    bitval = lambda i: (  # noqa: E731 — local twin of the Spark literal
        "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
    )
    sig_terms = " + ".join(
        f"CASE WHEN 2 * c{i} > n THEN CAST({bitval(i)} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for i in range(64)
    )
    chunk_ids = ", ".join(str(i) for i in range(chunks))
    return f"""
        WITH toks AS (
            SELECT doc_id AS id, u.tok
            FROM documents,
                 UNNEST(list_distinct(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'))) AS u(tok)
            WHERE text IS NOT NULL
        ),
        th AS (
            SELECT id,
                   CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
                   CAST(('0x' || substr(md5(tok), 9, 8)) AS BIGINT) AS lo
            FROM toks
        ),
        votes AS (
            SELECT id, COUNT(*) AS n, {", ".join(votes)}
            FROM th GROUP BY id
        ),
        sig AS (
            SELECT id, CAST({sig_terms} AS BIGINT) AS sh FROM votes
            UNION ALL
            SELECT doc_id AS id, CAST(0 AS BIGINT) AS sh
            FROM documents WHERE text IS NULL
        ),
        chunked AS (
            SELECT id, sh, u.ci, (sh >> (u.ci * {width})) & {mask} AS cv
            FROM sig, UNNEST([{chunk_ids}]) AS u(ci)
        ),
        ok AS (
            SELECT ci, cv FROM chunked
            GROUP BY ci, cv HAVING COUNT(*) <= {max_bucket_size}
        ),
        pairs AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                   CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
            FROM chunked a
            JOIN ok USING (ci, cv)
            JOIN chunked b ON a.ci = b.ci AND a.cv = b.cv AND a.id < b.id
        )
        SELECT id_a, id_b, hamming FROM pairs
        WHERE hamming <= {max_hamming}
        ORDER BY id_a, id_b
    """


def q40_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: brute-force cosine top-10 for a fixed query vector (the
    vec_id=0 embedding); exactness tested vs numpy in pytest AND
    oracled against DuckDB list_cosine_similarity (both engines
    compute in double; top-k selection orders by the full-precision
    cosine, rounding only the output)."""
    c = Catalog(spark, sf_dir)
    qvec = c.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    return similarity.cosine_topk_bruteforce(
        c.embeddings.filter(F.col("vec_id") != 0), [float(x) for x in qvec], k=10
    ).withColumn("cosine", F.round("cosine", 6))


def q41_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: embedding near-dup candidates via hyperplane LSH buckets.
    The synthetic embeddings contain no true near-dups (max pairwise
    cosine ≈0.6 at sf0.01 AND sf0.1 — measured), so a thresholded
    report is empty by construction; the declared query instead
    returns the 20 highest-cosine BUCKETED candidate pairs — the same
    bucket-join + exact-cosine-verify machinery with a non-degenerate
    result the driver can check. ORACLED since r13: the whole tier is
    deterministic (md5-derived planes, left-associative double folds),
    so the DuckDB twin reproduces buckets AND cosines bitwise
    (`_embedding_neardup_oracle_sql`; 20/20 row-exact at
    sf0.001/0.01/0.1). Thresholded recall on planted near-dups stays
    pytest-gated (test_llm_ops)."""
    c = Catalog(spark, sf_dir)
    return (
        similarity.embedding_neardup_pairs(
            c.embeddings, threshold=-1.0, dim=_LSH_DIM, n_planes=_LSH_PLANES
        )
        .orderBy(F.desc("cosine"), "id_a", "id_b")
        .limit(20)
    )


def _shared_ivf_index(
    spark: SparkSession, sf_dir: str, embeddings: DataFrame,
    n_centroids: int = 16, iters: int = 3,
) -> tuple[list[list[float]], DataFrame]:
    """Fit-once-query-many: the IVF centroid model (k×d floats) AND
    the assigned (id, vector, cluster) index are session-memoized per
    (sf_dir, params), like the MinHash pairs — an IVF index is built
    offline and probed many times; at rest it would be a table
    partitioned by `cluster`."""
    key = ("ivf_index", sf_dir, n_centroids, iters)
    memo = _memo(spark)
    if key not in memo:
        model = similarity.ivf_fit_centroids(
            embeddings, n_centroids=n_centroids, iters=iters
        )
        index = similarity.ivf_assign(embeddings, model).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        memo[key] = (model, index)
    return memo[key]


def q51_ivf_topk_noracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 scale path #2: IVF ANN top-10 for the vec_id=0 query vector
    — coarse k-means cells (deterministic distributed Lloyd's), probe
    the 4 nearest cells, exact cosine rerank inside. Approximate by
    design, so rows-only for the driver; recall vs the brute-force
    twin is pytest-gated (test_llm_ops)."""
    c = Catalog(spark, sf_dir)
    qvec = c.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    model, index = _shared_ivf_index(spark, sf_dir, c.embeddings)
    return (
        similarity.cosine_topk_ivf_probe(
            index.filter(F.col("vec_id") != 0),
            model,
            [float(x) for x in qvec],
            k=10,
            n_probe=4,
        )
        .withColumn("cosine", F.round("cosine", 6))
        .orderBy(F.desc("cosine"), "vec_id")
    )


def _shared_corpus_sig_store(
    spark: SparkSession, sf_dir: str, corpus: DataFrame,
    threshold: float = 0.8, bands: int = 8, shingle_w: int = 5,
) -> dict:
    """The persistent signature store of a production incremental
    near-dup pipeline, session-memoized per (sf_dir, params). Since
    r15 the memo is a cache of the PERSISTED store (the same
    memo-is-cache move task 1 made for the simhash/cluster tiers):
    the fit runs `corpus_sig_store_persist` — one shingling pass
    feeding all four at-rest tiers (signatures, band table, bucket
    histogram, 64-bit hash sets with the stats+bloom manifest) — and
    the served value is `corpus_sig_store_open`'s dict, so the q53
    probe exercises the real store faces: static band tiers read from
    snapshots, the verify step through the PRUNED sets scan
    (`sets_loader`), and the daily batch touches no corpus text."""
    key = ("corpus_sig_store", sf_dir, threshold, bands, shingle_w)
    memo = _memo(spark)
    if key not in memo:
        import shutil

        doc_path = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
        path = _store_scratch_path(
            "corpus_sig_store", doc_path, threshold, bands, shingle_w
        )
        shutil.rmtree(path, ignore_errors=True)
        neardup.corpus_sig_store_persist(
            corpus, path, k=64, bands=bands, shingle_w=shingle_w
        )
        store = neardup.corpus_sig_store_open(spark, path)
        # pin the STATIC tiers hot after the read-back (sigs, band
        # table, bucket histogram — registry-sized, exactly what a
        # production daily driver keeps resident between batches;
        # re-scanning them per probe cost ~1.3 s, measured). The
        # store's BULK tier (hash sets) is a size-driven policy, same
        # style as auto_aqe: under the threshold it is ALSO held hot
        # (the pruned snapshot_scan's listing+manifest overhead beats
        # the data at bench scale — measured +0.8 s/probe); above it,
        # probes go through the stats+bloom PRUNED scan
        # (`sets_loader`), the 100 TB contract the file-skip pytest
        # gates either way.
        for tier in ("sigs", "bands", "sizes"):
            store[tier] = store[tier].localCheckpoint(eager=True)
        from data_warehouse_nhom8_spark.sources.snapshots import (
            snapshot_read,
        )

        sets_dir = os.path.join(path, "sets")
        if _dir_bytes(sets_dir) <= _SETS_CACHE_MAX_BYTES:
            store["sets_cached"] = snapshot_read(
                spark, sets_dir
            ).localCheckpoint(eager=True)
        else:
            store["sets_cached"] = None
        memo[key] = store
    return memo[key]


# hold the sets tier resident below this on-disk size; beyond it the
# incremental probe uses the pruned scan (file-skipping) instead
_SETS_CACHE_MAX_BYTES = 256 * 1024 * 1024


def prefit_stores(spark: SparkSession, sf_dir: str) -> dict:
    """Build and MATERIALIZE every session-memoized store — the
    one-time 'fit' a production deployment pays offline (IVF k-means
    index, near-dup pair cache, incremental signature store) — and
    return store-name → build seconds.

    bench.py calls this before its timing passes so the extension
    probe numbers report the steady state a daily run pays, with the
    fit cost split out per store (round-6 verdict: the probe artifact
    charged q51/q53 with the memoized fit)."""
    import time as _time

    c = Catalog(spark, sf_dir)
    out = {}

    t0 = _time.perf_counter()
    _shared_minhash_pairs(spark, sf_dir, c.documents).count()
    _docs_count(spark, sf_dir, c.documents)
    out["minhash_pairs"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_jaccard_pairs(spark, sf_dir).count()
    out["jaccard_pairs"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_ivf_index(spark, sf_dir, c.embeddings)[1].count()
    out["ivf_index"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    corpus = c.documents.filter(F.col("doc_id") % 10 != 0)
    store = _shared_corpus_sig_store(spark, sf_dir, corpus)
    store["sigs"].count(), store["bands"].count(), store["sizes"].count()
    out["corpus_sig_store"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_bpe_merges(spark, sf_dir)
    out["bpe_merges"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_pq_codes(spark, sf_dir, c.embeddings)[1].count()
    out["pq_codes"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_simhash_signatures(spark, sf_dir).count()
    out["simhash_sigs"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_cc_clusters(spark, sf_dir).count()
    out["cc_clusters"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_embed_cc_clusters(spark, sf_dir).count()
    out["embed_cc_clusters"] = round(_time.perf_counter() - t0, 3)

    # r15 (ADVICE r14 / verdict task 2): the last two memos whose fit
    # cost was paid lazily on the first timed pass — now prefit and
    # priced like every other store, so the warm numbers are pure
    # probe cost and nothing is reclassified invisibly.
    t0 = _time.perf_counter()
    _shared_bench_grams(spark, sf_dir, 4).count()
    out["bench_grams"] = round(_time.perf_counter() - t0, 3)

    t0 = _time.perf_counter()
    _shared_kll_coarse(spark, sf_dir).count()
    out["kll_coarse"] = round(_time.perf_counter() - t0, 3)
    return out


# Every _shared_* memo helper reachable from a declared query, mapped
# to the store_fit key `prefit_stores` prices it under. The mechanical
# pytest (test_store_attribution.py::test_every_shared_memo_is_prefit)
# statically walks the call graph of the plans package from each
# QUERIES entry and fails if a reachable _shared_* helper is missing
# here or absent from prefit_stores' output — a new memo can no longer
# shift fit cost out of the bench without attribution (VERDICT r14 #1).
SHARED_STORE_KEY = {
    "_shared_minhash_pairs": "minhash_pairs",
    "_shared_jaccard_pairs": "jaccard_pairs",
    "_shared_ivf_index": "ivf_index",
    "_shared_corpus_sig_store": "corpus_sig_store",
    "_shared_bpe_merges": "bpe_merges",
    "_shared_pq_codes": "pq_codes",
    "_shared_simhash_signatures": "simhash_sigs",
    "_shared_cc_clusters": "cc_clusters",
    "_shared_embed_cc_clusters": "embed_cc_clusters",
    "_shared_bench_grams": "bench_grams",
    "_shared_kll_coarse": "kll_coarse",
}


# which declared queries consume which store (fit_sec attribution for
# bench.py; stateless map-only extensions like simhash/hyperplane-LSH
# have no store and report fit 0)
STORE_OF_QUERY = {
    "q38_minhash_neardup": "minhash_pairs",
    "q49_cluster_dedup": "cc_clusters",
    "q50_ngram_jaccard": "jaccard_pairs",
    "q51_ivf_topk_noracle": "ivf_index",
    "q53_incremental_neardup": "corpus_sig_store",
    "q39_simhash_neardup": "simhash_sigs",
    "q41_embedding_neardup": None,
    "q118_semantic_dedup": "embed_cc_clusters",
    "q106_bpe_tokenize_noracle": "bpe_merges",
    "q109_pq_topk_noracle": "pq_codes",
    # oracled consumers of prefit memos (r15): these never enter the
    # ext-probe sampling lane (they're in the bucketed headline), but
    # their fit attribution must be discoverable here all the same
    "q57_decontamination": "bench_grams",
    "q112_contamination_fraction": "bench_grams",
    "q116_decontaminate_scrub": "bench_grams",
    "q68_kll_quantile_rollup": "kll_coarse",
}


def _shared_pq_codes(
    spark: SparkSession, sf_dir: str, embeddings: DataFrame,
    m: int = 8, ks: int = 16, iters: int = 3,
) -> tuple[list, DataFrame]:
    """Fit-once-query-many for the PQ tier: per-subspace codebooks +
    the encoded (id, codes) table, session-memoized like the IVF
    index. At rest the codes table is 8 bytes/vector — the in-memory
    rerank tier a 100 TB corpus keeps resident while raw vectors stay
    on disk."""
    key = ("pq_codes", sf_dir, m, ks, iters)
    memo = _memo(spark)
    if key not in memo:
        books = similarity.pq_fit(embeddings, m=m, ks=ks, iters=iters)
        codes = similarity.pq_encode(embeddings, books).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        memo[key] = (books, codes)
    return memo[key]


def q109_pq_topk_noracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 memory tier: product-quantization ANN — 8 sub-codebooks of
    16 codes (64-dim vectors → 8 codes each, 32x smaller than
    float32), ADC top-10 for the vec_id=0 query via a driver-built
    lookup table evaluated as a pure-codegen literal expression
    (map-only scan + TakeOrdered head). Approximate by design, so
    rows-only for the driver; planted-cluster recall and the
    ADC == exact-distance-to-reconstruction identity are pytest-gated
    (test_pq_adc_recovers_planted_neighbours)."""
    c = Catalog(spark, sf_dir)
    qvec = c.embeddings.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    books, codes = _shared_pq_codes(spark, sf_dir, c.embeddings)
    return (
        similarity.pq_topk_adc(
            codes.filter(F.col("vec_id") != 0),
            books,
            [float(x) for x in qvec],
            k=10,
        )
        .withColumn("adc_dist", F.round("adc_dist", 6))
        .orderBy("adc_dist", "vec_id")
    )


def q53_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 daily-pipeline shape: incremental near-dup — the ~10% batch
    (doc_id % 10 == 0) is shingled/signatured fresh, the corpus
    contributes its PERSISTED signature store (built+opened through
    `corpus_sig_store_persist/open`, the at-rest face of a production
    daily run; see `_shared_corpus_sig_store`).

    ORACLED since round 15 (was rows-only): the incremental detector's
    contract — identical to the FULL detector on corpus ∪ batch
    restricted to pairs touching a batch id, same union-histogram
    bucket caps, same exact hash-set Jaccard — is pytest-pinned
    (test_minhash_incremental_matches_full_run), and corpus ∪ batch
    here is the whole documents table, so the DuckDB twin is q38's
    bitwise twin (`_minhash_neardup_oracle_sql`, certified row-exact
    this round) with the batch-membership restriction appended. This
    certifies the entire store-served path end to end: persisted
    signatures, static band table + bucket histogram, near-hot cap
    reconciliation, and the sets-tier verify all have to reproduce the
    from-scratch result bitwise for the oracle to pass."""
    c = Catalog(spark, sf_dir)
    batch = c.documents.filter(F.col("doc_id") % 10 == 0)
    corpus = c.documents.filter(F.col("doc_id") % 10 != 0)
    store = _shared_corpus_sig_store(spark, sf_dir, corpus)
    sets_kw = (
        {"corpus_sets": store["sets_cached"]}
        if store.get("sets_cached") is not None
        else {"corpus_sets_loader": store["sets_loader"]}
    )
    return neardup.minhash_incremental_pairs(
        batch,
        corpus,
        corpus_sigs=store["sigs"],
        threshold=0.8,
        bands=8,
        shingle_w=5,
        corpus_bands=store["bands"],
        corpus_band_sizes=store["sizes"],
        # r16: the store cache pins the histogram tier hot
        # (registry-sized ints), so the probe broadcasts it whole
        # instead of chaining the mx/near-hot builds — one serial
        # broadcast sub-job instead of three. The mx path stays the
        # operator default for stores whose histogram is not resident.
        band_sizes_hot=True,
        **sets_kw,
    ).orderBy("id_a", "id_b")


def q116_decontaminate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (round 11): token-level decontamination SCRUB — the
    excision step q112's fraction measures for
    (`operators.corpus.decontaminate_scrub`): every token under a
    merged contaminated span is removed and the doc re-emitted with
    its surviving tokens (original casing, single-space joined).
    Same benchmark split (doc_id % 97) and gram_w=4 calibration as
    q112, so the removed_tokens column here equals q112's clamped
    cont_tokens doc-for-doc. The DuckDB oracle mirrors the whole
    pipeline — same regex split, gram equality classes, q110-style
    gaps-and-islands span merge, then tokens-with-ordinality
    anti-joined against the covered positions and string_agg'd back
    in order. Total table, clean docs pass through untouched."""
    from data_warehouse_nhom8_spark.operators.corpus import decontaminate_scrub

    c = Catalog(spark, sf_dir)
    docs = c.documents
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    # r15: ordered=True sorts between the join and the excision so the
    # range sampler never re-runs the excision filter (see operator).
    return decontaminate_scrub(
        corpus, gram_w=4, bench_grams=_shared_bench_grams(spark, sf_dir, 4),
        ordered=True,
    )


def _synth_html_col() -> "F.Column":
    """Deterministic HTML scaffold around each document's text — the
    q111 messy-URL certification pattern: the fixture ships no HTML
    column, so the query synthesizes one IN-ENGINE (title, comment,
    style+script blocks that must drop with content, an
    entity-escaped marker, doc_id-numbered links; every doc_id%3==0
    doc gets a second link so link density varies)."""
    did = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("<html><!-- crawl "), did,
        F.lit(" --><head><TITLE>Doc "), did,
        F.lit("</TITLE><style>p{color:red}</style></head><body><p>"),
        F.col("text"),
        F.lit("</p><script>var x=1; if (x &lt; 2) {}</script>"),
        F.lit('<a href="https://ex.com/'), did, F.lit('">x</a>'),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit("<a href='https://ex.com/alt'>y</a>"),
        ).otherwise(F.lit("")),
        F.lit(" &amp;amp; tail &lt;b&gt;</body></html>"),
    )


def q117_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (round 11; ORACLED round 12, verdict task 6): crawl-tier
    HTML → text extraction (`operators.text.html_text_cols`) over
    synthesized HTML — the step every crawl pipeline runs before
    tokenization. The DuckDB oracle (below, same builder the pytest
    twin used) synthesizes the identical HTML scaffold and runs the
    identical regex pipeline (RE2 ∩ Java subset; DuckDB needs the
    explicit 'g' flag where Spark's regexp_replace is global by
    default), including the spec's ordering traps: script/style
    content drops, '</p><p>' word-splits, and '&amp;lt;'
    double-escape decodes to literal '&lt;'. Slot funded by retiring
    q06 (⊂ q73's validity-filter shape) per the rotation-slack
    protocol."""
    from data_warehouse_nhom8_spark.operators.text import html_text_cols

    c = Catalog(spark, sf_dir)
    cols = html_text_cols(_synth_html_col())
    return (
        c.documents.select(
            "doc_id",
            cols["title"].alias("title"),
            cols["n_links"].alias("n_links"),
            cols["text"].alias("clean_text"),
        )
        .orderBy("doc_id")
        .limit(500)
    )


_LSH_DIM, _LSH_PLANES = 64, 12


def q52_lsh_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: hyperplane-LSH bucket occupancy histogram — puts the LSH
    bucketing machinery (the deterministic core of q41's near-dup and
    the ANN probe) under the driver's exact hash gate; the pair step
    on top is approximate by design and stays rows-only. Bit parity
    with the DuckDB oracle holds because both sides compute the same
    md5-derived plane literals and a left-associative double dot
    product (verified 0 mismatches at sf0.001/0.01/0.1)."""
    c = Catalog(spark, sf_dir)
    planes = similarity._hyperplanes(_LSH_DIM, _LSH_PLANES)
    # stage the double-cast behind an alias: the 16 per-plane dot
    # products are interpreted (higher-order aggregate), and an inline
    # cast expression would re-convert the 128-float array once per
    # plane; the staged attribute is referenced 16× so CollapseProject
    # keeps it (~20% faster, bit-identical)
    from data_warehouse_nhom8_spark.session import repartition_if_split_starved

    # the 12 per-plane interpreted folds are CPU-bound: a single-file
    # local scan would cap them at one core (no-op on multi-split data;
    # bucket is per-row and the agg is a count, so order-independent)
    staged = repartition_if_split_starved(
        c.embeddings.select(F.col("embedding").cast("array<double>").alias("__v"))
    )
    return (
        staged.select(
            similarity.hyperplane_bucket_col("__v", planes).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


def _bucket_case_sql(planes) -> str:
    """The hyperplane-bucket expression as DuckDB SQL: explicit
    per-dimension products summed left-to-right (same association
    order as the Spark fold, so the doubles agree bitwise). Shared by
    the q52 (retired twin), q41, and q118 generators — one
    construction, certified once."""
    cases = []
    for i, p in enumerate(planes):
        dot = " + ".join(
            f"(CAST(embedding[{d + 1}] AS DOUBLE) * {v!r})" for d, v in enumerate(p)
        )
        cases.append(f"CASE WHEN ({dot}) >= 0 THEN {1 << i} ELSE 0 END")
    return " + ".join(cases)


def _lsh_bucket_oracle_sql() -> str:
    """Generated DuckDB twin of q52 (retired to q41 in r14; kept for
    the per-suite retired-twin gate)."""
    bucket = _bucket_case_sql(similarity._hyperplanes(_LSH_DIM, _LSH_PLANES))
    return f"""
        SELECT CAST({bucket} AS BIGINT) AS bucket,
               COUNT(*) AS n_vectors
        FROM embeddings
        GROUP BY 1
        ORDER BY bucket
    """


def _embedding_neardup_oracle_sql(
    dim: int = _LSH_DIM, n_planes: int = _LSH_PLANES
) -> str:
    """Generated DuckDB twin of q41: bucket every vector with the same
    md5-derived hyperplanes as `similarity.embedding_neardup_pairs`
    (explicit per-dimension products summed left-to-right, the q52
    bit-parity construction), self-join on bucket with id_a < id_b,
    then the exact cosine — dot and both norms as the same
    left-associative double sums Spark's aggregate/zip_with fold
    produces — rounded to 6, top-20 by (cosine DESC, id_a, id_b).
    Doubles agree bitwise, so the LIMIT boundary is deterministic."""
    bucket = _bucket_case_sql(similarity._hyperplanes(dim, n_planes))
    pair_dot = " + ".join(f"(x.v[{d + 1}] * y.v[{d + 1}])" for d in range(dim))
    nx = " + ".join(f"(x.v[{d + 1}] * x.v[{d + 1}])" for d in range(dim))
    ny = " + ".join(f"(y.v[{d + 1}] * y.v[{d + 1}])" for d in range(dim))
    return f"""
        WITH b AS (
            SELECT vec_id AS id,
                   CAST(embedding AS DOUBLE[]) AS v,
                   CAST({bucket} AS BIGINT) AS bucket
            FROM embeddings
        ),
        cand AS (
            SELECT x.id AS id_a, y.id AS id_b,
                   ({pair_dot}) AS dot,
                   SQRT({nx}) * SQRT({ny}) AS denom
            FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
        )
        SELECT id_a, id_b,
               ROUND(CASE WHEN denom > 0 THEN dot / denom ELSE 0.0 END, 6)
                   AS cosine
        FROM cand
        ORDER BY cosine DESC, id_a, id_b
        LIMIT 20
    """


def q42_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: multimodal plumbing end-to-end — documents cast to binary
    payloads, Arrow-batched mapInPandas feature extraction; n_bytes is
    oracle-checked (the decode itself is the documented deterministic
    fake)."""
    c = Catalog(spark, sf_dir)
    media = c.documents.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
    )
    # r15: hash-shuffle the SMALL result table before the global sort.
    # A global orderBy plans a range exchange whose bounds come from a
    # SAMPLING pass over the child; with no shuffle boundary below it,
    # that pass re-executed the whole Arrow decode (measured: the
    # query cost 2x its pipeline). The keyed repartition materializes
    # the narrow (media_id, kind, n_bytes) rows once in shuffle files,
    # so the sampler rescans those instead of re-decoding payloads —
    # decode runs ONCE, the plan stays declarative, and only the
    # small table ever shuffles (the 100 TB shape).
    return (
        extract_features(media)
        .select("media_id", "kind", "n_bytes")
        .repartition("media_id")
        .orderBy("media_id")
    )


def q44_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hierarchy generalization: ROLLUP over (returnflag,
    linestatus) — subtotals + grand total in one Expand pass."""
    c = Catalog(spark, sf_dir)
    return (
        c.lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("l_returnflag", "l_linestatus", "n")
    )


def q45_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) per group — the
    order-statistics surface; approx twin checked in pytest."""
    c = Catalog(spark, sf_dir)
    return (
        c.orders.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
        )
        .orderBy("o_orderstatus")
    )


def q49_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: duplicate CLUSTERS — connected components (iterative
    min-label propagation, `operators.dedup_clusters`) over the exact
    n-gram Jaccard pair set q50 certifies. One row per clustered doc:
    (id, component = min reachable id); dedup keeps id == component.

    ORACLED since round 13 (was rows-only): the edge set is the
    deterministic SQL-expressible q50 definition, and connected
    components is exactly computable in DuckDB as a recursive CTE
    (min-label propagation to fixpoint under UNION set semantics) —
    so the driver certifies the clustering itself, not just a count.
    The MinHash-edged composite (approximate edges, same clustering
    operator) stays covered by the transitive-closure pytest in
    tests/test_dedup_clusters.py.

    r14: served from the `_shared_cc_clusters` session memo — the
    cluster map is an ingest-time artifact (computed once per corpus
    snapshot, probed many times), so the warm probe measures the
    serve path and the iterative fit is attributed to store_fit in
    the bench artifact like every other store."""
    return (
        _shared_cc_clusters(spark, sf_dir)
        .orderBy("id")
        .select("id", "component")
    )


def _shared_embed_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once-query-many for the embedding-similarity cluster map
    (r14): connected components over the hyperplane-bucket candidate
    graph — like `_shared_cc_clusters`, an ingest-time artifact
    (computed per corpus/embedding snapshot, probed many times).
    Keyed by the embeddings file's realpath (the bucketed fixture
    symlinks it unchanged). Since r15 a cache of the persisted
    `cluster_map_store` like `_shared_cc_clusters` — the hyperplane
    edge set lands in an at-rest edge store and the served map is the
    store's connected-components read (VERDICT r14 task 1)."""
    emb_path = os.path.realpath(os.path.join(sf_dir, "embeddings.parquet"))
    key = ("embed_cc_clusters", emb_path)
    memo = _memo(spark)
    if key not in memo:
        import shutil

        from data_warehouse_nhom8_spark.streaming.jobs import (
            cluster_map_store_build,
            read_cluster_map_store,
        )

        c = Catalog(spark, sf_dir)
        pairs = similarity.embedding_neardup_pairs(
            c.embeddings, threshold=-1.0, dim=_LSH_DIM, n_planes=_LSH_PLANES
        )
        path = _store_scratch_path("embed_cc_clusters", emb_path)
        shutil.rmtree(path, ignore_errors=True)
        cluster_map_store_build(pairs, path)
        memo[key] = read_cluster_map_store(spark, path).localCheckpoint(
            eager=True
        )
    return memo[key]


def q118_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 composition — SEMANTIC dedup scrub list: embedding near-dup
    candidates (q41's certified hyperplane-bucket machinery) edged
    into duplicate clusters (q49's connected components), canonical =
    min vec_id per cluster; emitted rows are the NON-canonical
    members (vec_id, component) — exactly the rows a training
    pipeline drops to keep one document per embedding-similarity
    cluster. The synthetic embeddings hold no true near-dups, so a
    production threshold (cosine >= tau) yields an empty scrub list
    by construction; the declared query clusters the bucket-candidate
    graph (threshold=-1) instead — same operators, non-degenerate
    result.

    ORACLED since round 14 (was rows-only): both halves were already
    driver-certified constructions — the edge set is q41's bitwise
    hyperplane buckets, the clustering is q49's recursive-CTE
    min-label propagation — so the composed DuckDB twin
    (`_semantic_dedup_oracle_sql`) reproduces the scrub list exactly.
    Funded by retiring q40 to its q41 superset (identical exact
    left-associative cosine folds + deterministic top-k ordering;
    q41's generated twin certifies the folds bitwise where q40's
    leaned on DuckDB's list_cosine_similarity). The union-find and
    planted-duplicate pytests (test_dedup_clusters) stay. Cluster map
    served from the `_shared_embed_cc_clusters` session memo — an
    ingest-time artifact, fit attributed to store_fit."""
    return (
        _shared_embed_cc_clusters(spark, sf_dir)
        .filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias("vec_id"), "component")
        .orderBy("vec_id")
    )


def q119_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 (round 15): the N-GRAM tier of the Gopher repetition filter
    (`operators.text.ngram_repetition_stats`) — per-doc top-2-gram
    token fraction and duplicated-5-gram span coverage, the
    phrase-level boilerplate signals q65's token-level
    `repetition_stats` cannot see (a template that cycles unique
    tokens through a repeated frame has low dup_fraction but high
    dup-5-gram coverage). Total over the documents table.

    Oracled from birth: gram identity is the md5 equality class of the
    pinned whitespace split (byte-compatible with DuckDB's raw-gram
    grouping), coverage is the q110/q112 gaps-and-islands span-merge
    twin, and the fractions are exact-integer ratios rounded under the
    same ROUND-6 convention as q38's jaccard. Slot funded by retiring
    q63 → q64 (q64's oracle runs the IDENTICAL wide pivot CTE and
    unpivots it — every q63 cell appears as exactly one q64 long row,
    so q64 green implies q63 cell-for-cell; q63 sat in the
    r13-certified half of the rotation, i.e. the current derived
    front, so the swap keeps the front at 49).

    dup_w=3 here (operator default is Gopher's 5): the synthetic
    corpus holds zero within-doc duplicated 5-grams at every SF
    (measured), which would certify a degenerate all-zero coverage
    column — at 3 the gate scale has 27 docs with real merged spans
    (287 at sf0.1), so the span-fold/clamp path is live in the
    oracle comparison. The 5-gram default's non-degenerate behavior
    is pinned by the planted-doc pytests (test_ngram_repetition)."""
    from data_warehouse_nhom8_spark.operators.text import ngram_repetition_stats

    c = Catalog(spark, sf_dir)
    # r15: keyed repartition before the global sort — the range
    # exchange's SAMPLING pass otherwise re-executes the whole
    # map-only gram pipeline to pick bounds (the operator is
    # shuffle-free since the r15 rewrite, so there was no boundary to
    # stop the recompute; measured 2x). Only the small per-doc metric
    # table shuffles; document text still never leaves its scan task.
    return (
        ngram_repetition_stats(c.documents, dup_w=3)
        .repartition("doc_id")
        .orderBy("doc_id")
    )


def _ngram_repetition_oracle_sql(top_w: int = 2, dup_w: int = 5) -> str:
    """Generated DuckDB twin of q119, coupled to the Spark constants.
    Same window family as the q110/q112 twins: positions
    1..greatest(n-w+1, 1) (the whole-doc fallback window included —
    it can never duplicate within a doc, and the top branch guards it
    behind n_tokens >= top_w exactly as the engine does), raw-gram
    grouping where Spark groups the md5 class, gaps-and-islands span
    merge breaking at gap > dup_w, coverage clamped at doc end."""
    from data_warehouse_nhom8_spark.regexes import WS_SPLIT

    return f"""
        WITH t AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '{WS_SPLIT}') AS toks
          FROM documents
        ), nt AS (
          SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM t
        ), w_top AS (
          SELECT doc_id, array_to_string(toks[i:i+{top_w - 1}], ' ') AS gram
          FROM t, UNNEST(range(1, greatest(len(toks) - {top_w} + 1, 1) + 1)) AS u(i)
        ), c_top AS (
          SELECT doc_id, COUNT(*) AS c FROM w_top GROUP BY doc_id, gram
        ), top_doc AS (
          SELECT doc_id, MAX(c) AS mx FROM c_top GROUP BY doc_id
        ), w_dup AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+{dup_w - 1}], ' ') AS gram
          FROM t, UNNEST(range(1, greatest(len(toks) - {dup_w} + 1, 1) + 1)) AS u(i)
        ), hits AS (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY doc_id, gram) AS c
            FROM w_dup
          ) WHERE c >= 2
        ), lagged AS (
          SELECT doc_id, pos,
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev IS NULL OR pos - prev > {dup_w}
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM lagged
        ), spans AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + {dup_w} AS e
          FROM isl GROUP BY doc_id, island
        ), per AS (
          SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS dup_raw,
                 CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM spans GROUP BY doc_id
        )
        SELECT nt.doc_id, n_tokens,
               CAST(CASE WHEN n_tokens >= {top_w} THEN mx ELSE 0 END AS BIGINT)
                 AS top_ngram_freq,
               CASE WHEN n_tokens > 0
                    THEN round(least(CAST(1.0 AS DOUBLE),
                                     CAST((CASE WHEN n_tokens >= {top_w}
                                                THEN mx ELSE 0 END)
                                          * {top_w} AS DOUBLE) / n_tokens), 6)
                    ELSE 0.0 END AS top_ngram_fraction,
               CAST(least(COALESCE(dup_raw, 0), n_tokens) AS BIGINT)
                 AS dup_ngram_tokens,
               COALESCE(n_spans, 0) AS dup_ngram_spans,
               CASE WHEN n_tokens > 0
                    THEN round(CAST(least(COALESCE(dup_raw, 0), n_tokens)
                                    AS DOUBLE) / n_tokens, 6)
                    ELSE 0.0 END AS dup_ngram_fraction
        FROM nt
        LEFT JOIN top_doc USING (doc_id)
        LEFT JOIN per USING (doc_id)
        ORDER BY doc_id
    """


def _semantic_dedup_oracle_sql(
    dim: int = _LSH_DIM, n_planes: int = _LSH_PLANES
) -> str:
    """Generated DuckDB twin of q118: bucket every vector with the
    q41/q52 bit-parity hyperplane construction, edge every
    bucket-colliding pair (the declared query's threshold=-1 keeps
    all candidates — cosine ∈ [-1, 1] always passes), run q49's
    recursive-CTE min-label propagation to fixpoint, and emit the
    non-canonical members."""
    bucket = _bucket_case_sql(similarity._hyperplanes(dim, n_planes))
    return f"""
        WITH RECURSIVE b AS (
            SELECT vec_id AS id, CAST({bucket} AS BIGINT) AS bucket
            FROM embeddings
        ),
        pairs AS (
            SELECT x.id AS id_a, y.id AS id_b
            FROM b x JOIN b y ON x.bucket = y.bucket AND x.id < y.id
        ),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b AS a, id_a AS b FROM pairs
        ),
        cc(id, comp) AS (
            SELECT a, a FROM edges
            UNION
            SELECT e.a, c.comp FROM edges e JOIN cc c ON e.b = c.id
        ),
        labeled AS (
            SELECT id, MIN(comp) AS component FROM cc GROUP BY id
        )
        SELECT id AS vec_id, component FROM labeled
        WHERE id <> component
        ORDER BY vec_id
    """


def approx_distinct_detail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + raw HLL estimate side by side (pytest surface; the raw
    sketch value is engine-specific so it can't be driver-oracled)."""
    c = Catalog(spark, sf_dir)
    return (
        c.events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        )
        .orderBy("event_type")
    )


def q43_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 scale twin: approx_count_distinct (HLL, constant memory)
    beside the exact COUNT(DISTINCT) — at 100 TB the exact form
    shuffles every distinct key, the sketch ships ~1.5KB per group.

    Oracled form: the exact column must equal DuckDB's COUNT(DISTINCT)
    and `within_tol` gates the sketch's error against the exact count
    (the oracle emits literal TRUE) — so the driver, not just pytest,
    certifies the sketch's accuracy."""
    d = approx_distinct_detail(spark, sf_dir)
    rel_err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.greatest(
        F.col("exact_users"), F.lit(1)
    )
    return d.select(
        "event_type", "exact_users", (rel_err <= 0.05).alias("within_tol")
    ).orderBy("event_type")


def q50_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: EXACT n-gram Jaccard near-dup pairs (inverted shingle
    index — complete recall, no LSH approximation, no all-pairs scan).
    Deterministic end-to-end, so fully driver-oracled: DuckDB computes
    the identical shingle/Jaccard definition over raw strings.
    ``max_shingle_df=None`` (strict-exact, no stop-shingle guard) is
    deliberate and oracle-only: the DuckDB twin computes the unguarded
    definition.  Production callers keep the operator's guarded
    default. Pairs are session-memoized (shared with q49's
    clustering)."""
    return _shared_jaccard_pairs(spark, sf_dir).orderBy("id_a", "id_b")


def q54_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep: deterministic train/val/test split by content
    fingerprint (leak-proof under exact duplicates — identical texts
    always land in the same split). Pure projection; fully oracled:
    DuckDB computes the identical md5-bucket expression."""
    from data_warehouse_nhom8_spark.operators.corpus import hash_split_col

    c = Catalog(spark, sf_dir)
    bucket, split = hash_split_col(F.md5("text"))
    # r15: keyed repartition before the global sort — the range
    # exchange's sampling pass otherwise re-runs the md5 bucket map
    # over every row to pick bounds (no shuffle boundary below it).
    return (
        c.documents.select("doc_id", bucket, split)
        .repartition("doc_id")
        .orderBy("doc_id")
    )


def q55_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep: email/phone detection + redaction. Output carries
    the redacted-text md5 so any divergence in either engine's regex
    pass flips the hash (the corpus itself is PII-free — the behavior
    on positives is pytest-gated on a fixture with real shapes)."""
    from data_warehouse_nhom8_spark.operators.corpus import pii_redact_cols
    from data_warehouse_nhom8_spark.session import repartition_if_split_starved

    c = Catalog(spark, sf_dir)
    p = pii_redact_cols("text")
    # 6 regex passes per row: CPU-bound, so don't let the 1-row-group
    # local file cap it at one core (no-op on real multi-split data)
    # r15: the keyed repartition below the sort stops the range
    # exchange's sampling pass from re-running all six regex passes
    # (it samples the narrow shuffled result instead); the regexes
    # run exactly once per row.
    return (
        repartition_if_split_starved(c.documents)
        .select(
            "doc_id",
            p["n_emails"].alias("n_emails"),
            p["n_ips"].alias("n_ips"),
            p["n_phones"].alias("n_phones"),
            F.md5(p["redacted"]).alias("redacted_fp"),
        )
        .repartition("doc_id")
        .orderBy("doc_id")
    )


def q56_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep: sliding token-window chunking — the map-only
    explode every tokenizer feed needs. Declared with 32-token
    windows / stride 16 because the synthetic docs are 10–100 tokens
    (the production default 128/64 would make every doc one chunk and
    the check degenerate); the operator itself is parameter-free of
    this choice and its invariants are pytest-gated across widths.
    Aggregated per doc for a compact oracle surface; the sorted
    concat of per-chunk fingerprints pins every chunk's content."""
    from data_warehouse_nhom8_spark.operators.corpus import chunk_documents

    c = Catalog(spark, sf_dir)
    chunks = chunk_documents(c.documents, chunk_tokens=32, stride=16)
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.md5(F.concat_ws("", F.sort_array(F.collect_list("chunk_fp")))).alias(
                "chunks_fp"
            ),
        )
        .orderBy("doc_id")
    )


def q57_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep: benchmark decontamination — n-gram overlap of
    every corpus doc against the benchmark subset (doc_id % 97 == 0),
    benchmark grams broadcast. Total decision table (zeros included).
    Declared at gram_w=4 — calibrated so the synthetic short-doc
    corpus has LIVE positives at the gate scale (8 contaminated docs
    at sf0.01; the production default 8 yields zero there, which
    would leave the overlap-counting path hash-checked but never
    exercised on a hit). Planted-contamination behavior at the
    production width stays pytest-gated."""
    from data_warehouse_nhom8_spark.operators.corpus import contamination_counts

    c = Catalog(spark, sf_dir)
    docs = c.documents
    return contamination_counts(
        docs.filter(F.col("doc_id") % 97 != 0),
        gram_w=4,
        bench_grams=_shared_bench_grams(spark, sf_dir, 4),
    ).orderBy("doc_id")


def q58_corpus_prep_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship corpus-prep composite: exact dedup → quality gate →
    language ID → deterministic split → per-(split, lang) rollup.
    One declarative plan end-to-end — Catalyst fuses the dedup
    window, the quality/lang projections, and the rollup into three
    stages. The quality gate compares INTEGERS (n_stop*100 >=
    n_tokens ≡ stopword_ratio >= 1%) so the filter is bit-exact
    across engines — no float-boundary flakes at the gate."""
    from data_warehouse_nhom8_spark.operators.corpus import hash_split_col
    from data_warehouse_nhom8_spark.operators.text import (
        EN_STOPWORDS,
        add_lang_id,
        exact_dedup,
        token_count_col,
    )

    c = Catalog(spark, sf_dir)
    kept = exact_dedup(c.documents)
    words = F.split(F.lower(F.trim(F.col("text"))), WS_SPLIT)
    scored = kept.select(
        "doc_id",
        "text",
        token_count_col("text").alias("n_tokens"),
        F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS))).cast("long").alias("n_stop"),
    )
    filtered = scored.filter(
        (F.col("n_tokens") >= 30) & (F.col("n_stop") * 100 >= F.col("n_tokens"))
    )
    bucket, split = hash_split_col(F.md5("text"))
    langed = add_lang_id(filtered).select("doc_id", "n_tokens", "lang_pred", split)
    return (
        langed.groupBy("split", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .orderBy("split", "lang_pred")
    )


def q59_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus prep: deterministic stratified sample manifest — 40
    train / 10 val / 10 test docs per split assignment, ranked by
    content hash (reproducible on any engine; no rand() seeds).
    Fully oracled: DuckDB runs the identical window."""
    from data_warehouse_nhom8_spark.operators.corpus import (
        hash_split_col,
        stratified_sample,
    )

    c = Catalog(spark, sf_dir)
    bucket, split = hash_split_col(F.md5("text"))
    assigned = c.documents.select("doc_id", "text", split)
    return (
        stratified_sample(
            assigned, "split", {"train": 40, "val": 10, "test": 10}
        )
        .select("doc_id", "split", "rk")
        .orderBy("split", "rk")
    )


def q60_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.joins.asof_join): every click event gets
    the latest at-or-before 'view' event of the same user — the
    point-in-time feature lookup. Oracle = DuckDB's NATIVE ASOF LEFT
    JOIN, so Spark's union+window formulation is certified against a
    real as-of implementation, nulls (no prior view) included."""
    from data_warehouse_nhom8_spark.operators.joins import asof_join

    c = Catalog(spark, sf_dir)
    ev = c.events
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("v_value"), F.max("event_id").alias("v_event"))
    )
    j = asof_join(
        clicks, views, ["user_id"], "ts", "ts", ["v_value", "v_event", "ts"]
    )
    return j.select(
        "event_id",
        "user_id",
        F.round("asof_v_value", 2).alias("last_view_value"),
        F.col("asof_v_event").alias("last_view_event"),
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(F.col("asof_ts").cast("timestamp"))).alias("us_since"),
    ).orderBy("event_id")


def q61_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (operators.joins.interval_range_join):
    events matched into 40 derived 6-hour maintenance windows (one
    every 18 h) via bucket-equi-join + residual filter — never the
    cartesian plan Spark gives a raw inequality join. Oracle = DuckDB
    inequality join over the identical derived windows. Exact
    integer-cents LONG sum keeps the per-window rollup
    order-independent (2-decimal fixed-point values; per-window bound
    ~9e13 rows)."""
    from data_warehouse_nhom8_spark.operators.joins import interval_range_join

    c = Catalog(spark, sf_dir)
    base_us = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
    h_us = 3600 * 1_000_000
    windows = spark.range(40).select(
        F.col("id").alias("w_id"),
        F.timestamp_micros(F.lit(base_us) + F.col("id") * (18 * h_us)).alias("w_start"),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * (18 * h_us) + 6 * h_us
        ).alias("w_end"),
    )
    matched = interval_range_join(
        c.events.select("event_id", "ts", "value"), windows, "ts", "w_start", "w_end"
    )
    return (
        matched.groupBy("w_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.sum(cents_col("value")).cast("double") / 100.0
            ).alias("sum_value"),
        )
        .orderBy("w_id")
    )


def q62_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (operators.aggregates.hll_sketch_rollup):
    per-(event_type, day) HLL user sketches unioned up to per-type
    distinct-user estimates — the pre-aggregate-then-merge shape that
    answers rollups at 100 TB without rescanning the fact table.

    Driver-oracled tolerance twin: the deterministic columns
    (exact_users / n_cells / n_rows) hash-match DuckDB exactly, and the
    implementation-defined sketch estimate is folded into `est_in_tol`
    (|est - exact| / exact <= 5%), which the oracle expects TRUE — so
    sketch drift fails the gate without requiring DuckDB to reproduce
    Spark's HLL registers. The exact COUNT(DISTINCT) scan exists only
    for certification; the production rollup path is the sketch union
    (reference anchor: A3 count-distinct,
    extract/create_control_db_v5.sql:151-161)."""
    from data_warehouse_nhom8_spark.operators.aggregates import hll_sketch_rollup

    c = Catalog(spark, sf_dir)
    ev = c.events.select(
        "event_type", F.to_date("ts").alias("day"), "user_id"
    )
    _fine, coarse = hll_sketch_rollup(
        ev, ["event_type", "day"], ["event_type"], "user_id", est_name="est_users"
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        coarse.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            "n_cells",
            "n_rows",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= F.lit(0.05)
            ).alias("est_in_tol"),
        )
        .orderBy("event_type")
    )


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q63_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts widened to one column per event
    type — `groupBy(day).pivot(type, EXPLICIT values)`. The explicit
    value list is the determinism contract (schema independent of
    data order) AND the scale contract: without it Spark runs an
    extra distinct-collect job over the fact table just to discover
    the columns. Oracle = DuckDB conditional aggregation (identical
    semantics, no PIVOT dialect dependence)."""
    c = Catalog(spark, sf_dir)
    return (
        c.events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES],
        )
        .orderBy("day")
    )


def q64_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: the wide per-day table back to long form —
    `DataFrame.unpivot` with explicit value columns, zeros included
    (the round-trip of q63, which a groupBy long form would lose).
    Oracle = DuckDB UNPIVOT over the identical wide CTE."""
    wide = q63_pivot(spark, sf_dir)
    return (
        wide.unpivot("day", list(_EVENT_TYPES), "event_type", "n")
        .orderBy("day", "event_type")
    )


def q65_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: Gopher-style repetition gate inputs — per-doc token totals,
    distinct counts, most-frequent-token count, and dup_fraction.
    The LLM-corpus boilerplate/degeneration filter; explode + two-
    level partial agg (see operators.text.repetition_stats)."""
    from data_warehouse_nhom8_spark.operators.text import repetition_stats

    c = Catalog(spark, sf_dir)
    return repetition_stats(c.documents).orderBy("doc_id").limit(500)


def q66_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: corpus vocabulary head — top-20 tokens by frequency, ties
    by token. TakeOrderedAndProject top-k (no global sort)."""
    from data_warehouse_nhom8_spark.operators.text import token_topk

    c = Catalog(spark, sf_dir)
    return token_topk(c.documents, k=20)


def q67_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: top-20 adjacent-token bigrams (collocation / boilerplate-
    phrase statistics). Map-only bigram build + top-k agg."""
    from data_warehouse_nhom8_spark.operators.text import bigram_topk

    c = Catalog(spark, sf_dir)
    return bigram_topk(c.documents, k=20)


def q68_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-quantile rollup (operators.aggregates.
    kll_quantile_rollup): per-(event_type, day) KLL value sketches
    merged to per-type p50/p95 — order statistics at 100 TB without a
    fact rescan or value shuffle, the quantile twin of q62's HLL
    pattern.

    Same tolerance-twin oracle shape as q62: exact percentiles and
    counts hash-match DuckDB; the sketch estimates fold into
    p50_in_tol / p95_in_tol (exact rank of the estimate within 5% of
    the target rank), which the oracle expects TRUE — KLL's default-k
    guarantee is ~1.65%, so a drifting sketch fails the gate."""
    ev = _kll_events_projection(spark, sf_dir)
    # the coarse sketch table feeds BOTH the rank-check join and the
    # final output, and Catalyst would compute the two-level sketch
    # agg twice (no subtree sharing across joins). It is ALSO the
    # store artifact of the q62-pattern sketch rollup (mergeable KLL
    # cells a deployment folds at ingest and serves many times), so
    # since r14 it comes from a session memo keyed on the events file
    # — one row per event_type, localCheckpointed; the exact
    # percentiles and the rank-check probe still run per execution.
    coarse = _shared_kll_coarse(spark, sf_dir)
    exact = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 2).alias("exact_p50"),
        F.round(F.expr("percentile(value, 0.95)"), 2).alias("exact_p95"),
    )

    # null-safe equi-joins throughout: the oracle's GROUP BY keeps a
    # NULL event_type group (ORDER BY ... NULLS FIRST), and a plain
    # join would silently drop it — latent until testdata ships nulls
    def nsjoin(left: DataFrame, right: DataFrame, how: str = "inner") -> DataFrame:
        r = right.withColumnRenamed("event_type", "__et")
        return left.join(
            r, F.col("event_type").eqNullSafe(F.col("__et")), how
        ).drop("__et")

    ranks = (
        nsjoin(ev, F.broadcast(coarse.select("event_type", "q_50", "q_95")))
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") <= F.col("q_50")).cast("double")).alias("__r50"),
            F.avg((F.col("value") <= F.col("q_95")).cast("double")).alias("__r95"),
        )
    )

    return (
        nsjoin(nsjoin(coarse, exact), ranks)
        .select(
            "event_type",
            "n_cells",
            "n_rows",
            "exact_p50",
            "exact_p95",
            (F.abs(F.col("__r50") - 0.5) <= 0.05).alias("p50_in_tol"),
            (F.abs(F.col("__r95") - 0.95) <= 0.05).alias("p95_in_tol"),
        )
        .orderBy("event_type")
    )


def q69_theta_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra via theta sketches (operators.
    aggregates.theta_user_overlap): click∩purchase retention and
    click∪purchase reach in one scan — set intersection without
    shuffling the distinct user sets, which INTERSECT-based exact
    retention must do at every scale.

    Tolerance twin: exact INTERSECT/UNION counts hash-match DuckDB;
    sketch estimates fold into *_in_tol booleans (5%), expected TRUE."""
    from data_warehouse_nhom8_spark.operators.aggregates import theta_user_overlap

    c = Catalog(spark, sf_dir)
    ev = c.events.select("event_type", "user_id")
    est = theta_user_overlap(ev, "user_id", "event_type", "click", "purchase")
    # exact side in ONE distributed plan: per-user membership flags,
    # then a single global agg — no INTERSECT (two extra shuffles of
    # the distinct sets) and no driver-side counting
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "click").cast("int")).alias("__c"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias("__p"),
        )
    )
    exact = flags.agg(
        F.sum("__c").cast("long").alias("exact_click"),
        F.sum("__p").cast("long").alias("exact_purchase"),
        F.sum(F.col("__c") * F.col("__p")).cast("long").alias("exact_both"),
        F.count(F.lit(1)).cast("long").alias("exact_either"),
    )
    tol = lambda e, x: (  # noqa: E731
        F.abs(F.col(e) - F.col(x)) / F.greatest(F.col(x), F.lit(1)) <= 0.05
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_click",
        "exact_purchase",
        "exact_both",
        "exact_either",
        tol("est_a", "exact_click").alias("click_in_tol"),
        tol("est_b", "exact_purchase").alias("purchase_in_tol"),
        tol("est_both", "exact_both").alias("both_in_tol"),
        tol("est_either", "exact_either").alias("either_in_tol"),
    )


def q70_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2h sliding-window rollup, run through the ACTUAL
    streaming operator (streaming.jobs.sliding_rollup — F.window with
    a slide; the watermark is a no-op in batch mode), so the one
    streaming operator that previously had only a pytest joins the
    oracled set. 6-hour windows every 90 minutes: each event lands in
    exactly window/slide = 4 overlapping epoch-aligned windows, which
    the DuckDB twin enumerates with explicit epoch arithmetic
    (floor(epoch/5400) − k for k in 0..3)."""
    from data_warehouse_nhom8_spark.streaming import jobs

    c = Catalog(spark, sf_dir)
    return (
        jobs.sliding_rollup(c.events, window="6 hours", slide="90 minutes")
        .withColumn("n", F.col("n").cast("long"))
        .orderBy("w_start")
    )


def q78_freq_head_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitter rollup (aggregates.freq_candidate_rollup):
    per-(event_type, day) bounded candidate lists of the most active
    users, merged up to per-type top-5 — the frequency member of the
    sketch-store family (q62=HLL distinct, q68=KLL quantiles,
    q69=theta sets).

    Certified exactly: at the driver's gate m=200 exceeds per-cell user
    cardinality, so nothing truncates and the merged counts equal the
    exact per-type counts the DuckDB twin computes in one GROUP BY.
    The truncating (approximate) regime and its lower-bound/coverage
    guarantees are pinned separately on a planted-skew fixture in
    tests/test_tables_stateful.py."""
    from data_warehouse_nhom8_spark.operators.aggregates import freq_candidate_rollup

    c = Catalog(spark, sf_dir)
    ev = c.events.select("event_type", F.to_date("ts").alias("day"), "user_id")
    _fine, head = freq_candidate_rollup(
        ev, ["event_type", "day"], ["event_type"], "user_id", m=200, k=5
    )
    return head.select(
        "event_type",
        "user_id",
        F.col("lb_count").alias("n_events"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("event_type", "rank")


def q79_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE decile segmentation of orders by value — the ranking-
    window complement of q45's approximate percentiles: assign each
    order to a value decile (total order: price desc, orderkey asc, so
    tie placement is engine-independent), then aggregate per decile.

    Scale notes: ntile over an unpartitioned window is a single-
    partition sort of (price, orderkey) pairs — for true 100 TB use
    the KLL boundaries (q68) instead; this query exists to certify
    the ranking-window surface itself. The per-decile rollup
    partial-aggregates as usual."""
    from pyspark.sql.window import Window

    c = Catalog(spark, sf_dir)
    w = Window.orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        c.orders.select(
            "o_orderkey",
            "o_totalprice",
            F.ntile(10).over(w).cast("long").alias("decile"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact integer cents, single-level: price_c <= ~5e7, so a
            # per-decile LONG sum holds ~1.8e11 rows — an order past
            # the 100 TB point of a query this doc already routes to
            # KLL boundaries at scale
            (F.sum(cents_col("o_totalprice")).cast("double") / 100.0).alias(
                "total_value"
            ),
            F.min("o_totalprice").alias("min_value"),
            F.max("o_totalprice").alias("max_value"),
        )
        .orderBy("decile")
    )


def q80_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hierarchy completion: CUBE over (returnflag, linestatus) —
    all four grouping combinations (detail, two one-way subtotals,
    grand total) in a single Expand pass; q44's ROLLUP covers only the
    prefix hierarchy. Exact integer-cents sum output as double (the
    grand-total LONG holds ~1.8e15 rows at qty <= 50 — safe far past
    100 TB, so single-level composes directly with CUBE's Expand)."""
    c = Catalog(spark, sf_dir)
    return (
        c.lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents_col("l_quantity")).cast("double") / 100.0).alias("sum_qty"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q81_grouped_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MySQL GROUP_CONCAT parity (the reference's reporting SQL dialect
    aggregates names this way): per-region ordered comma-join of
    nation names. Deterministic by explicit in-group sort —
    collect_list order is partition-dependent, array_sort fixes it;
    the DuckDB twin orders inside string_agg."""
    c = Catalog(spark, sf_dir)
    return (
        c.nation.join(
            F.broadcast(c.region), c.nation["n_regionkey"] == c.region["r_regionkey"]
        )
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("r_name")
    )


def q82_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total window over an aggregate: per-nation revenue and
    its fraction of the grand total. Revenue is exact integer 1e-4
    units — LONG partials bounded per (nation, input partition), then
    a DECIMAL(38,0) merge (per-nation totals exceed the LONG bound
    past ~1e10 rows/nation); the grand total aggregates the per-nation
    OUTPUT to one row over the exact integer DECIMAL
    (order-independent — a double sum would be ULP-sensitive to row
    order) and broadcasts back, cast once before the single IEEE
    division, so both engines produce bit-identical shares. Nation
    cardinality is FIXED (25), so either form is safe here; the
    broadcast-scalar keeps the pattern uniform with q74/q102 where
    the agg output scales with SF (cost: the per-nation agg lineage
    appears twice in the static plan; exchange reuse collapses it
    when sizes warrant)."""
    c = Catalog(spark, sf_dir)
    rev_e4 = cents_col("l_extendedprice") * (100 - cents_col("l_discount"))
    per_nation = (
        c.lineitem.join(c.supplier, F.col("l_suppkey") == c.supplier["s_suppkey"])
        .join(F.broadcast(c.nation), F.col("s_nationkey") == c.nation["n_nationkey"])
        .groupBy("n_name", F.spark_partition_id().alias("__pid"))
        .agg(F.sum(rev_e4).alias("__p"))
        .groupBy("n_name")
        .agg(F.sum(F.col("__p").cast("decimal(38,0)")).alias("__rd"))
    )
    total = per_nation.agg(F.sum("__rd").alias("__total"))
    return (
        per_nation.join(F.broadcast(total))
        .select(
            "n_name",
            (F.col("__rd").cast("double") / 1e4).alias("revenue"),
            (F.col("__rd").cast("double") / F.col("__total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("n_name")
    )


def q83_gap_filled_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap filling (operators.timeseries.gap_filled_daily):
    a deliberately-sparse daily rollup (every third calendar day
    removed) re-densified over the full key × day grid — absent days
    come back as explicit zeros, which is what makes "scraper down"
    distinguishable from "day missing" in the reference's daily charts
    (datamart/app.py). The spine is dim-sized (types × days); the fact
    table is scanned once for the rollup and never again."""
    from data_warehouse_nhom8_spark.operators.timeseries import gap_filled_daily

    c = Catalog(spark, sf_dir)
    sparse = (
        c.events.select("event_type", F.to_date("ts").alias("day"))
        .filter(F.dayofmonth("day") % 3 != 0)
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        # explicit fill spec: the default-fill path probes rollup
        # .dtypes, which triggers a ~40 ms analysis pass per build
        # (r15 floor work) — the fill column is known here
        gap_filled_daily(sparse, ["event_type"], "day", value_cols={"n": 0})
        .withColumn("n", F.col("n").cast("long"))
        .orderBy("event_type", "day")
    )


def q84_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators.windows.funnel_counts): users who
    viewed, then clicked strictly after their first view, then
    purchased after that click — one scan + one user-partition
    shuffle; the naive k-way self-join funnel is the 100 TB trap.
    Counts are exact distincts, bitwise-stable across engines."""
    from data_warehouse_nhom8_spark.operators.windows import funnel_counts

    c = Catalog(spark, sf_dir)
    return funnel_counts(
        c.events, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).orderBy("step_index")


def q85_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen week
    (cohort), counted distinct per weeks-since-cohort offset — the
    companion classic to q84's funnel. One scan: first-seen is a
    per-user window MIN (no self-join of the event log against itself,
    the usual cohort-SQL trap), then a two-key distinct count. Week
    buckets are epoch-day floor divisions, identical in both engines."""
    from pyspark.sql.window import Window

    c = Catalog(spark, sf_dir)
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    ev = c.events.select("user_id", F.floor(day / 7).cast("long").alias("week"))
    w = Window.partitionBy("user_id")
    d = ev.withColumn("cohort_week", F.min("week").over(w))
    return (
        d.groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def q94_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: concat-and-chunk sequence-packing manifest — per (source
    shard, 512-token training sequence): docs started, token fill, doc
    span. Windowed running sum per shard; parallelism = shard count."""
    from data_warehouse_nhom8_spark.operators.corpus import sequence_packing_manifest

    c = Catalog(spark, sf_dir)
    return sequence_packing_manifest(c.documents, seq_len=512)


def q95_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: per-doc top-3 characteristic terms by idf-weighted term
    frequency (log-free idf for cross-engine bit determinism); df is
    aggregated over the tf output, never a second corpus scan."""
    from data_warehouse_nhom8_spark.operators.text import tfidf_top_terms

    c = Catalog(spark, sf_dir)
    return tfidf_top_terms(c.documents, k=3)


def q96_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: reproducible training-order shuffle — md5(doc_id, seed)
    sort key; same seed → same order on any engine/run/cluster."""
    from data_warehouse_nhom8_spark.operators.corpus import deterministic_shuffle_key

    c = Catalog(spark, sf_dir)
    # r15: keyed repartition before the sort — the range sampler
    # otherwise recomputes the md5 shuffle keys for every row.
    return (
        deterministic_shuffle_key(c.documents, seed="epoch0")
        .select("doc_id", "shuffle_key")
        .repartition("shuffle_key")
        .orderBy("shuffle_key")
    )


def q97_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: temperature (T=2) mixture reweighting per source — sampling
    weight sqrt(tokens)/Σsqrt(tokens) with a decimal-quantized
    normalizer so the cross-source sum is order-independent."""
    from data_warehouse_nhom8_spark.operators.corpus import temperature_mixture_weights

    c = Catalog(spark, sf_dir)
    return temperature_mixture_weights(c.documents, token_budget=1_000_000)


def q98_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2/vector analytics: per-label centroid norm + dispersion
    (within-cluster variance) over the embeddings table — exact
    decimal-staged sums, bit-identical to the SQL twin."""
    c = Catalog(spark, sf_dir)
    return similarity.label_centroid_stats(c.embeddings)


def q99_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: CCNet-style statistical quality score — per-doc mean token
    surprisal under the corpus's own unigram LM (operators.text.
    unigram_surprisal_scores). Vocabulary surprisal quantized once to
    integer milli-bits (the only libm touch, with a documented
    rounding margin); everything downstream is exact integer sums and
    one IEEE division chain, bit-identical to the SQL twin."""
    from data_warehouse_nhom8_spark.operators.text import unigram_surprisal_scores

    c = Catalog(spark, sf_dir)
    return unigram_surprisal_scores(c.documents)


def q100_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: per-source document cap (Common-Crawl-style domain cap) —
    deterministic md5-priority sample of at most 10 docs per source,
    run through the salted two-phase skew-safe path (salt_buckets=4;
    provably equal to the single-window form, pytest-gated)."""
    from data_warehouse_nhom8_spark.operators.corpus import per_source_cap

    c = Catalog(spark, sf_dir)
    return per_source_cap(c.documents, cap=10, seed="cap0", salt_buckets=4)


def _shared_bpe_merges(spark: SparkSession, sf_dir: str, k: int = 12) -> list:
    """Session-memoized BPE merge list — tokenizer training is a
    fit-once artifact like the IVF index (in production: a merges
    table trained offline and versioned with the corpus)."""
    key = ("bpe_merges", sf_dir, k)
    memo = _memo(spark)
    if key not in memo:
        from data_warehouse_nhom8_spark.operators import bpe

        c = Catalog(spark, sf_dir)
        memo[key] = bpe.bpe_train(c.documents, num_merges=k)
    return memo[key]


def q106_bpe_tokenize_noracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3/X5: BPE tokenizer — merges learned from the corpus
    (iterative trainer, `operators.bpe.bpe_train`: one corpus scan
    for word counts, then dim-sized merge iterations), applied to the
    10% daily batch with the Arrow-batched encoder (broadcast merge
    list — the interpreted fold chain loses 40x, see bpe_encode);
    output = top-30 token frequencies. Rows-only for the driver (iterative
    algorithm — the non-SQL-expressible class); the exact-twin
    contract vs a single-node reference BPE is pytest-gated
    (test_bpe_train_matches_reference)."""
    from data_warehouse_nhom8_spark.operators import bpe

    c = Catalog(spark, sf_dir)
    merges = _shared_bpe_merges(spark, sf_dir)
    batch = c.documents.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    return (
        bpe.bpe_encode(batch, merges)
        .select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(30)
    )


def q107_audio_features_noracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 audio, REAL codec end-to-end: deterministic per-document
    sine clips are synthesized IN THE WORKERS (Arrow lane), encoded as
    PCM WAV (`operators.audio.encode_wav`), and featurized by the
    distributed extractor — `dominant_hz` must come back as exactly
    the seeded frequency (frequencies sit on the rFFT bin grid by
    construction). Rows-only for the driver (binary payloads are not
    SQL-expressible); the feature math itself is exact-twin
    pytest-gated (test_wav_codec_and_audio_features)."""
    from data_warehouse_nhom8_spark.operators.audio import extract_audio_features
    from data_warehouse_nhom8_spark.operators.multimodal import MEDIA_SCHEMA

    c = Catalog(spark, sf_dir)
    base = c.documents.select("doc_id").orderBy("doc_id").limit(16)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from data_warehouse_nhom8_spark.operators.audio import encode_wav

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                # 200..960 Hz in 40 Hz steps: every value is a multiple
                # of the 4 Hz FFT bin (8000 rate / 2000 samples)
                freq = 200.0 + float(did % 20) * 40.0
                rate = 8000
                t = np.arange(rate // 4) / rate
                rows.append(
                    {
                        "media_id": int(did),
                        "kind": "audio",
                        "payload": encode_wav(
                            0.5 * np.sin(2 * np.pi * freq * t), rate
                        ),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    media = base.mapInPandas(gen, schema=MEDIA_SCHEMA)
    return (
        extract_audio_features(media)
        .select(
            "media_id",
            "sample_rate",
            "duration_ms",
            F.round("dominant_hz", 1).alias("dominant_hz"),
            F.round("rms", 4).alias("rms"),
        )
        .orderBy("media_id")
    )


def q108_video_frames_noracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 video, REAL codec end-to-end: per-document MJPEG AVIs are
    muxed in the workers from encoder-generated JPEG frames (baseline
    + progressive alternating), then the distributed frame sampler
    demuxes, decodes every 2nd frame's actual pixels and reports luma
    statistics. Rows-only for the driver; frame-exact decode parity is
    pytest-gated (test_avi_mjpeg_demux_and_frame_sampling)."""
    from data_warehouse_nhom8_spark.operators.multimodal import MEDIA_SCHEMA
    from data_warehouse_nhom8_spark.operators.video import sample_frames_decoded

    c = Catalog(spark, sf_dir)
    base = c.documents.select("doc_id").orderBy("doc_id").limit(8)

    def gen(batches):
        import numpy as np
        import pandas as pd

        from data_warehouse_nhom8_spark.operators.jpeg import (
            encode_jpeg,
            encode_jpeg_progressive,
        )
        from data_warehouse_nhom8_spark.operators.video import encode_avi_mjpeg

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                frames = []
                for fi in range(4):
                    y, x = np.mgrid[0:16, 0:16]
                    img = ((int(did) * 7 + fi * 13 + x + y) % 256).astype(
                        np.uint8
                    )
                    rgb = np.stack([img, img, img], axis=2)
                    enc = encode_jpeg if fi % 2 == 0 else encode_jpeg_progressive
                    frames.append(enc(rgb))
                rows.append(
                    {
                        "media_id": int(did),
                        "kind": "video",
                        "payload": encode_avi_mjpeg(frames, fps=5, width=16, height=16),
                        "meta": None,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "meta"]
            )

    media = base.mapInPandas(gen, schema=MEDIA_SCHEMA)
    return (
        sample_frames_decoded(media, every_n=2)
        .select(
            "media_id",
            "frame_idx",
            "frame_ms",
            F.round("luma_mean", 3).alias("luma_mean"),
            F.round("luma_std", 3).alias("luma_std"),
        )
        .orderBy("media_id", "frame_idx")
    )


def q110_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1+ TOKEN-LEVEL dedup (round 8): per-document duplicated-span
    accounting — every 12-token rolling window occurring in >= 2
    distinct documents marks its range; overlapping windows merge to
    maximal spans (`operators.span_dedup`). The DuckDB oracle mirrors
    the whole pipeline: same regex split, same gram equality classes,
    and the span merge as a gaps-and-islands window (break when
    pos - lag(pos) > window ⟺ the Spark fold's p <= last.e merge).

    Scale notes: the only corpus-scale shuffles key on the window
    hash (groupBy + semi-join-back) — skew-safe because a repeated
    boilerplate hash groups to ONE row before the join; the per-doc
    merge folds a position list, never corpus state. No all-pairs."""
    from data_warehouse_nhom8_spark.operators.span_dedup import span_dedup_stats

    c = Catalog(spark, sf_dir)
    # r15: keyed repartition before the global sort — the sort's range
    # sampler otherwise re-runs the left (token-count) side's full
    # tokenize scan to pick bounds (the span side sits behind a reused
    # broadcast and never doubled).
    return (
        span_dedup_stats(c.documents, window=12)
        .select(
            "doc_id",
            "n_tokens",
            F.col("dup_tokens").cast("long").alias("dup_tokens"),
            F.col("n_spans").cast("long").alias("n_spans"),
            "dup_fraction",
        )
        .repartition("doc_id")
        .orderBy("doc_id")
    )


def _messy_url() -> F.Column:
    """Deterministic messy-URL synthesizer over (doc_id, source) —
    the documents table carries no URL column, so the
    canonicalization lane is certified the way q55 certifies the PII
    lane: a deterministic raw-variant generator both engines compute
    identically, feeding the real operator. Variants cycle scheme
    case, www-prefix, host case, default port, /index.html and
    trailing-slash suffixes, query strings and fragments — every
    strip rule in `url_canonical_cols` has live inputs at any SF.
    One memoized parse (r16 build-cost rule) — the when-chain was
    ~60 py4j calls per q111 build; same CASE operators, oracle-pinned."""
    from data_warehouse_nhom8_spark.session import memo_expr

    return memo_expr(
        "concat("
        "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://' "
        "WHEN doc_id % 3 = 1 THEN 'http://' ELSE 'https://' END, "
        "CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END, "
        "CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END, "
        "'.Example.COM', "
        "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END, "
        "'/Docs/', "
        "CAST(doc_id % 200 AS STRING), "
        "CASE WHEN doc_id % 11 = 0 THEN '/index.html' "
        "WHEN doc_id % 13 = 0 THEN '/' ELSE '' END, "
        "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=rss' ELSE '' END, "
        "CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END)"
    )


def q111_url_dedup_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (round 10): URL canonicalization + URL-level dedup +
    per-domain cap — the Common-Crawl curation front door
    (`operators.corpus.url_canonical_cols` / `url_dedup_domain_cap`).
    Raw variants of one canonical URL (scheme/www/port/index.html/
    query/fragment noise) collapse to a deterministic winner, then
    each domain keeps its md5-priority top-8 — run through the
    salted two-phase skew-safe path (salt_buckets=4, provably equal
    to the single-window form). At sf0.01 the synthesizer yields 10
    canonical URLs per domain from 25 raw docs, so BOTH passes bite.
    Fully oracled: DuckDB computes the identical regex pipeline."""
    from data_warehouse_nhom8_spark.operators.corpus import url_dedup_domain_cap

    c = Catalog(spark, sf_dir)
    docs = c.documents.select("doc_id", _messy_url().alias("url"))
    return url_dedup_domain_cap(docs, "url", cap=8, seed="url0", salt_buckets=4)


def q112_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (round 10): token-level benchmark-contamination FRACTION —
    q57's boolean gate upgraded to per-doc covered-token share
    (`operators.corpus.contamination_fraction`): corpus windows whose
    4-gram digests hit the broadcast benchmark gram set mark
    positions; overlapping windows merge to maximal spans with the
    span_dedup fold. Same benchmark split as q57 (doc_id % 97),
    same gram_w=4 calibration (live positives at the gate SF). The
    DuckDB oracle mirrors the whole pipeline — same regex split,
    same gram equality classes, span merge as the q110
    gaps-and-islands window. Total decision table, zeros included."""
    from data_warehouse_nhom8_spark.operators.corpus import contamination_fraction

    c = Catalog(spark, sf_dir)
    docs = c.documents
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_fraction(
        corpus, gram_w=4, bench_grams=_shared_bench_grams(spark, sf_dir, 4)
    ).orderBy("doc_id")


def q113_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization of the events stream (round 10): per-user
    gaps-and-islands with an 8-hour inactivity gap — the deterministic
    batch twin of the streaming session windows (2h row; backfills
    replay history through THIS, not through a stream). Gap calibrated
    to the synthetic cadence (median inter-event gap ~7.3 h → 4 766
    sessions from 10 000 events at sf0.01: boundaries AND multi-event
    merges both live). Value sums run as exact integer cents; the
    boundary predicate compares timestamps microsecond-exact in both
    engines (no epoch truncation at the threshold)."""
    from data_warehouse_nhom8_spark.operators.timeseries import session_stats

    c = Catalog(spark, sf_dir)
    return (
        session_stats(c.events, gap="8 hours")
        .select(
            "user_id",
            F.col("session_idx").cast("long").alias("session_idx"),
            "session_start",
            "session_end",
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
        .orderBy("user_id", "session_idx")
    )


def _scd2_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SCD2 snapshot built from the orders subset
    `o_orderkey % 4 == 0`: one version per (custkey, orderdate) with
    `effective = o_orderdate` and `expired = next version's effective`
    (LEAD over the key; last version gets the 9999-12-31 sentinel) —
    the half-open disjoint-interval layout `scd2_merge` maintains
    (reference loadtowh/load_to_wh.sh:62-87). Tracked attributes are
    exact: order count and max price in integer cents. Both engines
    can rebuild this fixture from the same parquet, which is what
    makes the as-of/temporal-join reads (q114/q115) fully oracleable."""
    from pyspark.sql import Window

    c = Catalog(spark, sf_dir)
    v = (
        c.orders.filter(F.col("o_orderkey") % 4 == 0)
        .groupBy("o_custkey", F.col("o_orderdate").alias("effective"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "price_cents"
            ),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("effective")
    return v.withColumn(
        "expired",
        F.coalesce(F.lead("effective").over(w), F.lit("9999-12-31").cast("date")),
    )


_SCD2_FIXTURE_SQL = """
        WITH v AS (
          SELECT o_custkey, o_orderdate AS effective,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS price_cents
          FROM orders WHERE o_orderkey % 4 = 0
          GROUP BY o_custkey, o_orderdate
        ), snap AS (
          SELECT o_custkey, effective, n_orders, price_cents,
                 COALESCE(LEAD(effective) OVER (
                            PARTITION BY o_custkey ORDER BY effective),
                          DATE '9999-12-31') AS expired
          FROM v
        )
"""


def q114_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 query side (round 11, verdict task 2): SCD2 POINT-IN-TIME
    read — `operators.scd2.scd2_as_of` over the deterministic orders
    SCD2 fixture: the version of every customer key current on
    1995-06-17 (effective <= d < expired, the half-open interval the
    merge maintains; reference loadtowh/load_to_wh.sh:62-87 builds
    the table, this is how reports read it). The filter is two
    pushable range predicates — at rest this prunes row groups on
    the date columns' parquet stats.

    Output contract (round 12): effective/expired are projected as ISO
    STRINGS, never DATE — the SCD2 current-row sentinel 9999-12-31
    overflows pandas' ns timestamps (max year 2262) in any
    pandas-normalizing consumer, exactly the round-1 no-DECIMAL rule."""
    from data_warehouse_nhom8_spark.operators.scd2 import scd2_as_of

    snap = _scd2_fixture(spark, sf_dir)
    return (
        scd2_as_of(snap, "1995-06-17", effective_col="effective")
        .select(
            "o_custkey",
            F.date_format("effective", "yyyy-MM-dd").alias("effective"),
            F.date_format("expired", "yyyy-MM-dd").alias("expired"),
            "n_orders",
            "price_cents",
        )
        .orderBy("o_custkey")
    )


def q115_scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 query side (round 11, verdict task 2 stretch): historically
    correct fact enrichment — `operators.scd2.scd2_temporal_join`:
    each fact order (the disjoint `o_orderkey % 4 == 1` subset) joins
    the dim VERSION current at its own order date. Left join: facts
    dated before their customer's first version surface with NULL dim
    columns (the classic backfill edge). Equi-join on the natural key
    with the validity residual inside the join — never a range
    explosion, because versions per key are disjoint half-open
    intervals (at most one match per fact).

    Output contract (round 12): effective/expired projected as ISO
    strings (pandas-ns-safe; the 9999-12-31 sentinel overflows pandas
    timestamps). NULL dim rows from the left join stay NULL —
    date_format(NULL) is NULL in both engines."""
    from data_warehouse_nhom8_spark.operators.scd2 import scd2_temporal_join

    c = Catalog(spark, sf_dir)
    facts = c.orders.filter(F.col("o_orderkey") % 4 == 1).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    snap = _scd2_fixture(spark, sf_dir)
    return (
        scd2_temporal_join(
            facts,
            snap,
            ["o_custkey"],
            "o_orderdate",
            effective_col="effective",
            how="left",
        )
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            F.date_format("effective", "yyyy-MM-dd").alias("effective"),
            F.date_format("expired", "yyyy-MM-dd").alias("expired"),
            "n_orders",
            "price_cents",
        )
        .orderBy("o_orderkey")
    )


EXTENSION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q33_exact_dedup_docs": q33_exact_dedup_docs,
    "q34_token_counts": q34_token_counts,
    "q35_quality_scores": q35_quality_scores,
    "q36_doc_fingerprint": q36_doc_fingerprint,
    "q37_lang_id": q37_lang_id,
    "q38_minhash_neardup": q38_minhash_neardup,
    "q39_simhash_neardup": q39_simhash_neardup,
    "q41_embedding_neardup": q41_embedding_neardup,
    "q42_multimodal_features": q42_multimodal_features,
    "q45_percentiles": q45_percentiles,
    "q49_cluster_dedup": q49_cluster_dedup,
    "q50_ngram_jaccard": q50_ngram_jaccard,
    "q51_ivf_topk_noracle": q51_ivf_topk_noracle,
    "q53_incremental_neardup": q53_incremental_neardup,
    "q54_train_split": q54_train_split,
    "q55_pii_redaction": q55_pii_redaction,
    "q56_doc_chunking": q56_doc_chunking,
    "q57_decontamination": q57_decontamination,
    "q58_corpus_prep_summary": q58_corpus_prep_summary,
    "q59_stratified_sample": q59_stratified_sample,
    "q60_asof_join": q60_asof_join,
    "q61_range_join": q61_range_join,
    "q62_hll_rollup": q62_hll_rollup,
    # r15 optimization round: RESTORED from the r15-build retirement
    # (the optimization driver forbids removing any query timed in
    # BENCH_r14; the q63 -> q64 subset argument stands, but q63 must
    # stay declared — see plans/queries.py for the q17 twin case).
    "q63_pivot": q63_pivot,
    "q64_unpivot": q64_unpivot,
    "q65_repetition_quality": q65_repetition_quality,
    "q66_vocab_topk": q66_vocab_topk,
    "q67_bigram_topk": q67_bigram_topk,
    "q68_kll_quantile_rollup": q68_kll_quantile_rollup,
    "q69_theta_retention": q69_theta_retention,
    "q70_sliding_rollup": q70_sliding_rollup,
    "q78_freq_head_rollup": q78_freq_head_rollup,
    "q79_order_value_deciles": q79_order_value_deciles,
    "q80_cube_summary": q80_cube_summary,
    "q81_grouped_concat": q81_grouped_concat,
    "q82_revenue_share": q82_revenue_share,
    "q83_gap_filled_daily": q83_gap_filled_daily,
    "q84_funnel_conversion": q84_funnel_conversion,
    "q85_retention_cohorts": q85_retention_cohorts,
    "q94_sequence_packing": q94_sequence_packing,
    "q95_tfidf_topterms": q95_tfidf_topterms,
    "q96_deterministic_shuffle": q96_deterministic_shuffle,
    "q97_mixture_temperature": q97_mixture_temperature,
    "q98_embedding_centroids": q98_embedding_centroids,
    "q99_unigram_surprisal": q99_unigram_surprisal,
    "q100_source_cap": q100_source_cap,
    "q106_bpe_tokenize_noracle": q106_bpe_tokenize_noracle,
    "q107_audio_features_noracle": q107_audio_features_noracle,
    "q108_video_frames_noracle": q108_video_frames_noracle,
    "q109_pq_topk_noracle": q109_pq_topk_noracle,
    "q110_span_dedup": q110_span_dedup,
    "q111_url_dedup_cap": q111_url_dedup_cap,
    "q112_contamination_fraction": q112_contamination_fraction,
    "q113_sessionization": q113_sessionization,
    "q114_scd2_as_of": q114_scd2_as_of,
    "q115_scd2_temporal_join": q115_scd2_temporal_join,
    "q116_decontaminate_scrub": q116_decontaminate_scrub,
    "q117_html_extract": q117_html_extract,
    "q118_semantic_dedup": q118_semantic_dedup,
    "q119_ngram_repetition": q119_ngram_repetition,
}


def _q117_oracle_sql() -> str:
    """DuckDB twin of q117: synthesizes the same HTML scaffold as
    `_synth_html_col()` and mirrors `operators.text.html_text_cols`
    step-for-step (strip script → style → comments → tags, decode
    entities in the documented order, collapse whitespace; title and
    n_links read the RAW html by spec — see html_text_cols). Built
    programmatically so the pipeline-order spec lives in ONE place
    instead of a hand-expanded 2 KB literal."""
    html = (
        "'<html><!-- crawl ' || CAST(doc_id AS VARCHAR) || ' --><head><TITLE>Doc ' "
        "|| CAST(doc_id AS VARCHAR) || "
        "'</TITLE><style>p{color:red}</style></head><body><p>' || text || "
        "'</p><script>var x=1; if (x &lt; 2) {}</script>' || "
        "'<a href=\"https://ex.com/' || CAST(doc_id AS VARCHAR) || '\">x</a>' || "
        "CASE WHEN doc_id % 3 = 0 THEN '<a href=''https://ex.com/alt''>y</a>' "
        "ELSE '' END || ' &amp;amp; tail &lt;b&gt;</body></html>'"
    )
    s = f"regexp_replace({html}, '(?i)<script[^>]*>[\\s\\S]*?</script>', ' ', 'g')"
    s = f"regexp_replace({s}, '(?i)<style[^>]*>[\\s\\S]*?</style>', ' ', 'g')"
    s = f"regexp_replace({s}, '<!--[\\s\\S]*?-->', ' ', 'g')"
    s = f"regexp_replace({s}, '<[^>]*>', ' ', 'g')"
    for ent, ch in (
        ("&nbsp;", " "),
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "''"),
        ("&apos;", "''"),
        ("&amp;", "&"),
    ):
        s = f"replace({s}, '{ent}', '{ch}')"
    clean = f"trim(regexp_replace({s}, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
    return f"""
        SELECT doc_id,
               trim(regexp_extract({html},
                 '(?i)<title[^>]*>([\\s\\S]*?)</title>', 1)) AS title,
               CAST(len(regexp_extract_all({html},
                 '(?i)<a\\b[^>]*\\bhref[ \\t\\n\\x0b\\f\\r]*=[ \\t\\n\\x0b\\f\\r]*("[^"]*"|''[^'']*'')', 1))
                 AS BIGINT) AS n_links,
               {clean} AS clean_text
        FROM documents ORDER BY doc_id LIMIT 500
    """

# The exact n-gram Jaccard pair derivation, shared VERBATIM by the
# q50 oracle (emits the pairs) and the q49 oracle (clusters them) —
# one definition, so the shingle shape and the ROUND(j,6) >= 0.8
# threshold (the Spark operator's exact form, neardup.py) cannot
# drift between the two twins.
_JACCARD_PAIRS_CTE = """
        toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS t
          FROM documents
        ),
        sh AS (
          SELECT DISTINCT doc_id, s
          FROM toks,
               UNNEST(list_transform(generate_series(1, greatest(len(t) - 4, 1)),
                                     i -> array_to_string(t[i:i+4], ' '))) AS u(s)
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ),
        jac AS (
          SELECT id_a, id_b,
                 ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        ),
        pairs AS (SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8)
"""

EXTENSION_ORACLES: dict[str, str] = {
    "q117_html_extract": _q117_oracle_sql(),
    "q114_scd2_as_of": _SCD2_FIXTURE_SQL
    + """
        SELECT o_custkey,
               CAST(CAST(effective AS DATE) AS STRING) AS effective,
               CAST(CAST(expired AS DATE) AS STRING) AS expired,
               n_orders, price_cents
        FROM snap
        WHERE effective <= DATE '1995-06-17'
          AND DATE '1995-06-17' < expired
        ORDER BY o_custkey
    """,
    "q115_scd2_temporal_join": _SCD2_FIXTURE_SQL
    + """
        SELECT f.o_orderkey, f.o_custkey, f.o_orderdate,
               CAST(CAST(s.effective AS DATE) AS STRING) AS effective,
               CAST(CAST(s.expired AS DATE) AS STRING) AS expired,
               s.n_orders, s.price_cents
        FROM orders f
        LEFT JOIN snap s
          ON f.o_custkey = s.o_custkey
         AND s.effective <= f.o_orderdate
         AND f.o_orderdate < s.expired
        WHERE f.o_orderkey % 4 = 1
        ORDER BY f.o_orderkey
    """,
    "q116_decontaminate_scrub": """
        WITH t AS (
          SELECT doc_id,
                 string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS otoks,
                 string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
          FROM documents
        ), corp AS (
          SELECT * FROM t WHERE doc_id % 97 <> 0
        ), bench AS (
          SELECT * FROM t WHERE doc_id % 97 = 0
        ), bg AS (
          SELECT DISTINCT array_to_string(toks[i:i+3], ' ') AS gram
          FROM bench, UNNEST(range(1, greatest(len(toks) - 4 + 1, 1) + 1)) AS u(i)
        ), w AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+3], ' ') AS gram
          FROM corp, UNNEST(range(1, greatest(len(toks) - 4 + 1, 1) + 1)) AS u(i)
        ), hits AS (
          SELECT w.doc_id, w.pos FROM w JOIN bg USING (gram)
        ), lagged AS (
          SELECT doc_id, pos,
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev IS NULL OR pos - prev > 4 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM lagged
        ), spans AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
          FROM isl GROUP BY doc_id, island
        ), ns AS (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM spans GROUP BY doc_id
        ), covered AS (
          SELECT DISTINCT doc_id, p
          FROM spans, UNNEST(range(s, e)) AS r(p)
        ), tok AS (
          SELECT c.doc_id, u.i - 1 AS p, c.otoks[u.i] AS tok
          FROM corp c, UNNEST(range(1, len(c.otoks) + 1)) AS u(i)
        ), kept AS (
          SELECT tok.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS kept_tokens,
                 string_agg(tok.tok, ' ' ORDER BY tok.p) AS clean_text
          FROM tok LEFT JOIN covered cv
            ON tok.doc_id = cv.doc_id AND tok.p = cv.p
          WHERE cv.doc_id IS NULL
          GROUP BY tok.doc_id
        )
        SELECT c.doc_id,
               CAST(len(c.otoks) AS BIGINT) AS n_tokens,
               COALESCE(kept.kept_tokens, 0) AS kept_tokens,
               CAST(len(c.otoks) AS BIGINT) - COALESCE(kept.kept_tokens, 0)
                 AS removed_tokens,
               COALESCE(ns.n_spans, 0) AS n_spans,
               COALESCE(kept.clean_text, '') AS clean_text
        FROM corp c
        LEFT JOIN kept USING (doc_id)
        LEFT JOIN ns USING (doc_id)
        ORDER BY c.doc_id
    """,
    "q113_sessionization": """
        WITH l AS (
          SELECT user_id, ts, event_id,
                 CAST(ROUND(value * 100) AS BIGINT) AS vc,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev
          FROM events
        ), s AS (
          SELECT user_id, ts, vc,
                 SUM(CASE WHEN prev IS NULL OR ts >= prev + INTERVAL 8 HOUR
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS session_idx
          FROM l
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(vc) AS DOUBLE) / 100.0 AS total_value
        FROM s GROUP BY user_id, session_idx
        ORDER BY user_id, session_idx
    """,
    "q111_url_dedup_cap": """
        WITH u AS (
          SELECT doc_id,
            (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
                  WHEN doc_id % 3 = 1 THEN 'http://'
                  ELSE 'https://' END)
            || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
            || (CASE WHEN doc_id % 4 = 0 THEN upper(source) ELSE source END)
            || '.Example.COM'
            || (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END)
            || '/Docs/' || CAST(doc_id % 200 AS VARCHAR)
            || (CASE WHEN doc_id % 11 = 0 THEN '/index.html'
                     WHEN doc_id % 13 = 0 THEN '/' ELSE '' END)
            || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=rss' ELSE '' END)
            || (CASE WHEN doc_id % 7 = 0 THEN '#section-2' ELSE '' END) AS url
          FROM documents
        ), s AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(trim(url), '#.*', ''),
                     '\\?.*', ''),
                   '^[a-zA-Z][a-zA-Z0-9+.-]*://', '') AS bare
          FROM u
        ), c AS (
          SELECT doc_id,
                 regexp_replace(
                   regexp_replace(lower(regexp_extract(bare, '^[^/]+')),
                                  ':(80|443)$', ''),
                   '^www\\.', '') AS domain,
                 regexp_replace(
                   regexp_replace(regexp_replace(bare, '^[^/]+', ''),
                                  '/index\\.html$', '/'),
                   '/+$', '') AS path
          FROM s
        ), p AS (
          SELECT doc_id, domain, domain || path AS canon_url,
                 md5(CAST(doc_id AS VARCHAR) || ':' || 'url0') AS pri
          FROM c
        ), d AS (
          SELECT doc_id, domain, canon_url, pri,
                 ROW_NUMBER() OVER (
                   PARTITION BY canon_url ORDER BY pri, doc_id) AS ru
          FROM p
        ), r AS (
          SELECT doc_id, domain, canon_url,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY domain ORDER BY pri, doc_id) AS BIGINT)
                   AS rank_in_domain
          FROM d WHERE ru = 1
        )
        SELECT doc_id, domain, canon_url, rank_in_domain
        FROM r WHERE rank_in_domain <= 8
        ORDER BY domain, rank_in_domain
    """,
    "q112_contamination_fraction": """
        WITH t AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
          FROM documents
        ), corp AS (
          SELECT * FROM t WHERE doc_id % 97 <> 0
        ), bench AS (
          SELECT * FROM t WHERE doc_id % 97 = 0
        ), bg AS (
          SELECT DISTINCT array_to_string(toks[i:i+3], ' ') AS gram
          FROM bench, UNNEST(range(1, greatest(len(toks) - 4 + 1, 1) + 1)) AS u(i)
        ), w AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+3], ' ') AS gram
          FROM corp, UNNEST(range(1, greatest(len(toks) - 4 + 1, 1) + 1)) AS u(i)
        ), hits AS (
          SELECT w.doc_id, w.pos FROM w JOIN bg USING (gram)
        ), lagged AS (
          SELECT doc_id, pos,
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev IS NULL OR pos - prev > 4 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM lagged
        ), spans AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 4 AS e
          FROM isl GROUP BY doc_id, island
        ), per AS (
          SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS cont_raw,
                 CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM spans GROUP BY doc_id
        ), toks_n AS (
          SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM corp
        )
        SELECT toks_n.doc_id, n_tokens,
               CAST(least(COALESCE(cont_raw, 0), n_tokens) AS BIGINT)
                 AS cont_tokens,
               COALESCE(n_spans, 0) AS n_spans,
               CASE WHEN n_tokens > 0
                    THEN round(CAST(least(COALESCE(cont_raw, 0), n_tokens)
                                    AS DOUBLE) / n_tokens, 4)
                    ELSE 0.0 END AS cont_fraction
        FROM toks_n LEFT JOIN per USING (doc_id)
        ORDER BY doc_id
    """,
    "q110_span_dedup": """
        WITH t AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS toks
          FROM documents
        ), w AS (
          SELECT doc_id, i - 1 AS pos,
                 array_to_string(toks[i:i+11], ' ') AS gram
          FROM t, UNNEST(range(1, greatest(len(toks) - 12 + 1, 1) + 1)) AS u(i)
        ), dup AS (
          SELECT gram FROM w GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
        ), hits AS (
          SELECT w.doc_id, w.pos FROM w JOIN dup USING (gram)
        ), lagged AS (
          SELECT doc_id, pos,
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM hits
        ), isl AS (
          SELECT doc_id, pos,
                 SUM(CASE WHEN prev IS NULL OR pos - prev > 12 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
          FROM lagged
        ), spans AS (
          SELECT doc_id, MIN(pos) AS s, MAX(pos) + 12 AS e
          FROM isl GROUP BY doc_id, island
        ), per AS (
          SELECT doc_id, CAST(SUM(e - s) AS BIGINT) AS dup_raw,
                 CAST(COUNT(*) AS BIGINT) AS n_spans
          FROM spans GROUP BY doc_id
        ), toks_n AS (
          SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM t
        )
        SELECT toks_n.doc_id, n_tokens,
               CAST(least(COALESCE(dup_raw, 0), n_tokens) AS BIGINT) AS dup_tokens,
               COALESCE(n_spans, 0) AS n_spans,
               CASE WHEN n_tokens > 0
                    THEN round(CAST(least(COALESCE(dup_raw, 0), n_tokens) AS DOUBLE)
                               / n_tokens, 4)
                    ELSE 0.0 END AS dup_fraction
        FROM toks_n LEFT JOIN per USING (doc_id)
        ORDER BY doc_id
    """,
    "q99_unigram_surprisal": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS token
          FROM documents
        ), t AS (
          SELECT doc_id, token FROM tok WHERE token <> ''
        ), vocab AS (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY token
        ), total AS (
          SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM vocab
        ), vm AS (
          SELECT token,
                 CAST(round(1000 * log2(CAST(total.n_total AS DOUBLE)
                                        / CAST(n AS DOUBLE))) AS BIGINT) AS mbits
          FROM vocab CROSS JOIN total
        ), per AS (
          SELECT t.doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_tokens,
                 CAST(SUM(vm.mbits) AS BIGINT) AS sum_mbits
          FROM t JOIN vm ON t.token = vm.token
          GROUP BY t.doc_id
        )
        SELECT doc_id, n_tokens, sum_mbits,
               sum_mbits / n_tokens / 1000.0 AS avg_bits
        FROM per ORDER BY doc_id
    """,
    "q100_source_cap": """
        WITH p AS (
          SELECT doc_id, source,
                 md5(CAST(doc_id AS VARCHAR) || ':' || 'cap0') AS pri
          FROM documents
        ), r AS (
          SELECT doc_id, source,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY pri, doc_id) AS BIGINT)
                   AS rank_in_source
          FROM p
        )
        SELECT doc_id, source, rank_in_source
        FROM r WHERE rank_in_source <= 10
        ORDER BY source, rank_in_source
    """,
    "q37_lang_id": """
        WITH s AS (
          SELECT lower(substring(text, 1, 256)) AS t FROM documents
        ),
        w AS (
          SELECT t, (string_split_regex(trim(t), '[ \\t\\n\\x0b\\f\\r]+'))[1:64] AS words FROM s
        ),
        sc AS (
          SELECT
            length(t) - length(regexp_replace(t, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
            len(words) AS nw,
            len(list_filter(words, x -> x IN ('the','and','is','of','to','that','with'))) AS s_en,
            len(list_filter(words, x -> x IN ('el','la','los','las','que','es','una','por'))) AS s_es,
            len(list_filter(words, x -> x IN ('le','la','les','des','est','une','dans','pour'))) AS s_fr,
            len(list_filter(words, x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
            len(list_filter(words, x -> x IN ('của','và','là','các','cho','trong','một','được'))) AS s_vi
          FROM w
        ),
        pred AS (
          SELECT CASE WHEN cjk * 5 > nw THEN 'zh'
                      WHEN greatest(s_en, s_es, s_fr, s_de, s_vi) = 0 THEN 'und'
                      WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'en'
                      WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'es'
                      WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'fr'
                      WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'de'
                      ELSE 'vi' END AS lang_pred
          FROM sc
        )
        SELECT lang_pred, COUNT(*) AS n FROM pred
        GROUP BY lang_pred ORDER BY lang_pred NULLS FIRST
    """,
    "q50_ngram_jaccard": "WITH " + _JACCARD_PAIRS_CTE + """
        SELECT id_a, id_b, jaccard FROM pairs
        ORDER BY id_a NULLS FIRST, id_b NULLS FIRST
    """,
    # connected components over q50's exact pair set: min-label
    # propagation to fixpoint — the recursive CTE enumerates every
    # (vertex, reachable-vertex) pair under UNION set semantics
    # (finite, so it terminates), and MIN over reachable ids is the
    # component label, exactly operators.dedup_clusters' definition
    "q49_cluster_dedup": "WITH RECURSIVE " + _JACCARD_PAIRS_CTE + """,
        edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION
          SELECT id_b AS a, id_a AS b FROM pairs
        ),
        cc(id, comp) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.a, c.comp FROM edges e JOIN cc c ON e.b = c.id
        )
        SELECT id, MIN(comp) AS component FROM cc
        GROUP BY id ORDER BY id NULLS FIRST
    """,
    "q118_semantic_dedup": _semantic_dedup_oracle_sql(),
    "q119_ngram_repetition": _ngram_repetition_oracle_sql(dup_w=3),
    "q33_exact_dedup_docs": """
        SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n
        FROM documents GROUP BY md5(text) ORDER BY keep_id NULLS FIRST
    """,
    "q34_token_counts": """
        SELECT doc_id,
               CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '([A-Za-z]{1,4}|\\d|[^ \\t\\n\\x0b\\f\\rA-Za-z\\d])', 1)) AS BIGINT) AS n_bpe_ish
        FROM documents ORDER BY doc_id NULLS FIRST LIMIT 500
    """,
    "q35_quality_scores": """
        WITH t AS (
          SELECT doc_id,
                 CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END) AS BIGINT) AS n_tokens,
                 CAST(length(text) AS BIGINT) AS n_chars,
                 CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                      x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS BIGINT) AS n_stop
          FROM documents)
        SELECT doc_id, n_tokens,
               ROUND(n_stop / CASE WHEN n_tokens > 0 THEN n_tokens ELSE 1 END, 4) AS stopword_ratio,
               ROUND((n_chars - (n_tokens - 1)) / CASE WHEN n_tokens > 0 THEN n_tokens ELSE 1 END, 4) AS mean_token_len
        FROM t ORDER BY doc_id NULLS FIRST LIMIT 500
    """,
    "q36_doc_fingerprint": """
        SELECT doc_id,
               md5(array_to_string(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'), ' ')) AS fp
        FROM documents ORDER BY doc_id NULLS FIRST LIMIT 500
    """,
    "q42_multimodal_features": """
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents ORDER BY media_id NULLS FIRST
    """,
    "q45_percentiles": """
        SELECT o_orderstatus,
               ROUND(quantile_cont(o_totalprice, 0.5), 2) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 2) AS p90
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus NULLS FIRST
    """,
    "q39_simhash_neardup": _simhash_neardup_oracle_sql(),
    "q38_minhash_neardup": _minhash_neardup_oracle_sql(),
    "q53_incremental_neardup": _minhash_neardup_oracle_sql(
        pair_where="AND (id_a % 10 = 0 OR id_b % 10 = 0)"
    ),
    "q41_embedding_neardup": _embedding_neardup_oracle_sql(),
    "q54_train_split": """
        WITH b AS (
          SELECT doc_id,
                 CAST(CAST(('0x' || substring(md5('split-v1' || md5(text)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket
          FROM documents
        )
        SELECT doc_id, bucket,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b ORDER BY doc_id NULLS FIRST
    """,
    "q55_pii_redaction": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '([A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,})', 1)) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, '(\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b)', 1)) AS BIGINT) AS n_ips,
               CAST(len(regexp_extract_all(text, '(\\+?\\d[\\d .-]{7,}\\d)', 1)) AS BIGINT) AS n_phones,
               md5(regexp_replace(
                     regexp_replace(
                       regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                     '\\+?\\d[\\d .-]{7,}\\d', '<PHONE>', 'g')) AS redacted_fp
        FROM documents ORDER BY doc_id NULLS FIRST
    """,
    # r15 optimization round: restored from RETIRED_EXTENSION_ORACLES
    # (same wide pivot CTE that q64's oracle unpivots).
    "q63_pivot": """
        SELECT CAST(ts AS DATE) AS day,
               COUNT(*) FILTER (event_type = 'click') AS click,
               COUNT(*) FILTER (event_type = 'error') AS error,
               COUNT(*) FILTER (event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (event_type = 'signup') AS signup,
               COUNT(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1 ORDER BY day NULLS FIRST
    """,
    "q64_unpivot": """
        WITH p AS (
          SELECT CAST(ts AS DATE) AS day,
                 COUNT(*) FILTER (event_type = 'click') AS click,
                 COUNT(*) FILTER (event_type = 'error') AS error,
                 COUNT(*) FILTER (event_type = 'purchase') AS purchase,
                 COUNT(*) FILTER (event_type = 'signup') AS signup,
                 COUNT(*) FILTER (event_type = 'view') AS view
          FROM events GROUP BY 1
        )
        SELECT day, event_type, n
        FROM p UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
        ORDER BY day NULLS FIRST, event_type NULLS FIRST
    """,
    "q56_doc_chunking": """
        WITH t AS (
          SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS tk FROM documents
        ),
        c AS (
          SELECT doc_id,
                 len(tk[s:s+31]) AS n_tokens,
                 md5(array_to_string(tk[s:s+31], ' ')) AS chunk_fp
          FROM t, UNNEST(generate_series(1, len(tk), 16)) AS u(s)
        )
        SELECT doc_id,
               COUNT(*) AS n_chunks,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               md5(string_agg(chunk_fp, '' ORDER BY chunk_fp)) AS chunks_fp
        FROM c GROUP BY doc_id ORDER BY doc_id NULLS FIRST
    """,
    "q57_decontamination": """
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS tk
          FROM documents
        ),
        grams AS (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(tk[i:i+3], ' ')) AS gram
          FROM toks, UNNEST(generate_series(1, greatest(len(tk) - 3, 1))) AS u(i)
        ),
        bench AS (
          SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
        ),
        overlap AS (
          SELECT g.doc_id, COUNT(*) AS n_overlap
          FROM grams g JOIN bench b ON g.gram = b.gram
          WHERE g.doc_id % 97 <> 0
          GROUP BY g.doc_id
        )
        SELECT d.doc_id,
               COALESCE(o.n_overlap, 0) AS n_overlap,
               COALESCE(o.n_overlap, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
        LEFT JOIN overlap o ON o.doc_id = d.doc_id
        ORDER BY d.doc_id NULLS FIRST
    """,
    "q58_corpus_prep_summary": """
        WITH kept AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        ),
        scored AS (
          SELECT doc_id, text,
                 CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+'),
                      x -> x IN ('the','and','of','to','a','in','is','it','that','for'))) AS BIGINT) AS n_stop
          FROM kept
        ),
        filtered AS (
          SELECT * FROM scored WHERE n_tokens >= 30 AND n_stop * 100 >= n_tokens
        ),
        lw AS (
          SELECT doc_id, n_tokens, text,
                 lower(substring(text, 1, 256)) AS t,
                 (string_split_regex(trim(lower(substring(text, 1, 256))), '[ \\t\\n\\x0b\\f\\r]+'))[1:64] AS words
          FROM filtered
        ),
        sc AS (
          SELECT doc_id, n_tokens, text,
            length(t) - length(regexp_replace(t, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS cjk,
            len(words) AS nw,
            len(list_filter(words, x -> x IN ('the','and','is','of','to','that','with'))) AS s_en,
            len(list_filter(words, x -> x IN ('el','la','los','las','que','es','una','por'))) AS s_es,
            len(list_filter(words, x -> x IN ('le','la','les','des','est','une','dans','pour'))) AS s_fr,
            len(list_filter(words, x -> x IN ('der','die','das','und','ist','ein','nicht','mit'))) AS s_de,
            len(list_filter(words, x -> x IN ('của','và','là','các','cho','trong','một','được'))) AS s_vi
          FROM lw
        ),
        pred AS (
          SELECT doc_id, n_tokens, text,
                 CASE WHEN cjk * 5 > nw THEN 'zh'
                      WHEN greatest(s_en, s_es, s_fr, s_de, s_vi) = 0 THEN 'und'
                      WHEN s_en = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'en'
                      WHEN s_es = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'es'
                      WHEN s_fr = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'fr'
                      WHEN s_de = greatest(s_en, s_es, s_fr, s_de, s_vi) THEN 'de'
                      ELSE 'vi' END AS lang_pred
          FROM sc
        ),
        sp AS (
          SELECT doc_id, n_tokens, lang_pred,
                 CAST(CAST(('0x' || substring(md5('split-v1' || md5(text)), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket
          FROM pred
        )
        SELECT CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split,
               lang_pred,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        FROM sp GROUP BY 1, 2
        ORDER BY split NULLS FIRST, lang_pred NULLS FIRST
    """,
    "q59_stratified_sample": """
        WITH assigned AS (
          SELECT doc_id, text,
                 CASE WHEN CAST(('0x' || substring(md5('split-v1' || md5(text)), 1, 8)) AS UBIGINT) % 100 < 80 THEN 'train'
                      WHEN CAST(('0x' || substring(md5('split-v1' || md5(text)), 1, 8)) AS UBIGINT) % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents
        ),
        ranked AS (
          SELECT doc_id, split,
                 CAST(row_number() OVER (PARTITION BY split ORDER BY md5(text), doc_id) AS BIGINT) AS rk
          FROM assigned
        )
        SELECT doc_id, split, rk FROM ranked
        WHERE rk <= CASE split WHEN 'train' THEN 40 WHEN 'val' THEN 10 WHEN 'test' THEN 10 ELSE 0 END
        ORDER BY split NULLS FIRST, rk NULLS FIRST
    """,
    "q60_asof_join": """
        WITH clicks AS (
          SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
        ),
        views AS (
          SELECT user_id, ts, max(value) AS v_value, max(event_id) AS v_event
          FROM events WHERE event_type = 'view' GROUP BY 1, 2
        )
        SELECT c.event_id, c.user_id,
               ROUND(v.v_value, 2) AS last_view_value,
               v.v_event AS last_view_event,
               epoch_us(c.ts) - epoch_us(v.ts) AS us_since
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts
        ORDER BY c.event_id NULLS FIRST
    """,
    "q61_range_join": """
        WITH w AS (
          SELECT i AS w_id,
                 TIMESTAMP '2024-01-01 00:00:00' + to_hours(18 * i) AS w_start,
                 TIMESTAMP '2024-01-01 00:00:00' + to_hours(18 * i + 6) AS w_end
          FROM generate_series(0, 39) AS g(i)
        )
        SELECT w.w_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events ev JOIN w ON ev.ts >= w.w_start AND ev.ts < w.w_end
        GROUP BY w.w_id ORDER BY w_id NULLS FIRST
    """,
    "q62_hll_rollup": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_cells,
               COUNT(*) AS n_rows,
               TRUE AS est_in_tol
        FROM events
        GROUP BY event_type ORDER BY event_type NULLS FIRST
    """,
    "q65_repetition_quality": """
        WITH w AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS w
          FROM documents
        ),
        g AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w)
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_freq,
               ROUND(1 - COUNT(*) / CAST(SUM(c) AS DOUBLE), 4) AS dup_fraction
        FROM g GROUP BY doc_id ORDER BY doc_id NULLS FIRST LIMIT 500
    """,
    "q66_vocab_topk": """
        WITH w AS (
          SELECT unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS token
          FROM documents
        )
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM w GROUP BY token ORDER BY n DESC, token LIMIT 20
    """,
    "q67_bigram_topk": """
        WITH d AS (
          SELECT string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+') AS w FROM documents
        ),
        b AS (
          SELECT unnest([list_element(w, i) || ' ' || list_element(w, i + 1)
                         for i in generate_series(1, len(w) - 1)]) AS bigram
          FROM d WHERE len(w) >= 2
        )
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
    "q68_kll_quantile_rollup": """
        SELECT event_type,
               -- a NULL ts day is still a fine cell Spark-side, but
               -- COUNT(DISTINCT) excludes NULL; add it back explicitly
               CAST(COUNT(DISTINCT CAST(ts AS DATE))
                    + MAX(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cells,
               COUNT(*) AS n_rows,
               ROUND(quantile_cont(value, 0.5), 2) AS exact_p50,
               ROUND(quantile_cont(value, 0.95), 2) AS exact_p95,
               TRUE AS p50_in_tol,
               TRUE AS p95_in_tol
        FROM events
        GROUP BY event_type ORDER BY event_type NULLS FIRST
    """,
    "q69_theta_retention": """
        WITH f AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
                 MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
          FROM events
          WHERE event_type IN ('click', 'purchase')
          GROUP BY user_id
        )
        SELECT CAST(SUM(c) AS BIGINT) AS exact_click,
               CAST(SUM(p) AS BIGINT) AS exact_purchase,
               CAST(SUM(c * p) AS BIGINT) AS exact_both,
               CAST(COUNT(*) AS BIGINT) AS exact_either,
               TRUE AS click_in_tol,
               TRUE AS purchase_in_tol,
               TRUE AS both_in_tol,
               TRUE AS either_in_tol
        FROM f
    """,
    # Overlapping sliding windows by explicit enumeration: every event
    # belongs to the 4 epoch-aligned 90-minute grid points covering it
    # (6h window / 90m slide). Naive-timestamp arithmetic throughout —
    # no time_bucket origin or session-timezone dependence.
    "q70_sliding_rollup": """
        SELECT TIMESTAMP '1970-01-01 00:00:00'
                 + to_seconds((CAST(FLOOR(epoch(ts) / 5400) AS BIGINT) - k) * 5400)
                 AS w_start,
               TIMESTAMP '1970-01-01 00:00:00'
                 + to_seconds((CAST(FLOOR(epoch(ts) / 5400) AS BIGINT) - k) * 5400 + 21600)
                 AS w_end,
               COUNT(*) AS n
        FROM events CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS k) grid
        GROUP BY 1, 2
        ORDER BY w_start
    """,
    "q78_freq_head_rollup": """
        WITH c AS (
          SELECT event_type, user_id, COUNT(*) AS n_events
          FROM events GROUP BY event_type, user_id
        ), r AS (
          SELECT event_type, user_id, n_events,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY n_events DESC, user_id) AS rank
          FROM c
        )
        SELECT event_type, user_id, n_events, rank
        FROM r WHERE rank <= 5
        ORDER BY event_type, rank
    """,
    "q85_retention_cohorts": """
        WITH ev AS (
          SELECT user_id,
                 CAST(FLOOR(date_diff('day', DATE '1970-01-01',
                                      CAST(date_trunc('day', ts) AS DATE)) / 7)
                      AS BIGINT) AS week
          FROM events
        ), d AS (
          SELECT user_id, week,
                 MIN(week) OVER (PARTITION BY user_id) AS cohort_week
          FROM ev
        )
        SELECT cohort_week, week - cohort_week AS week_offset,
               COUNT(DISTINCT user_id) AS n_users
        FROM d
        GROUP BY cohort_week, week - cohort_week
        ORDER BY cohort_week, week_offset
    """,
    "q94_sequence_packing": """
        WITH toks AS (
          SELECT source AS shard, doc_id,
                 CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END) AS BIGINT) AS n_tokens
          FROM documents
        ), placed AS (
          SELECT shard, doc_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_tokens AS start_off
          FROM toks
        )
        SELECT shard, CAST(FLOOR(start_off / 512) AS BIGINT) AS seq_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_started,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM placed
        GROUP BY shard, CAST(FLOOR(start_off / 512) AS BIGINT)
        ORDER BY shard NULLS FIRST, seq_id
    """,
    "q95_tfidf_topterms": """
        WITH tok AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '[ \\t\\n\\x0b\\f\\r]+')) AS term
          FROM documents
        ), tfc AS (
          SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, term
        ), dfc AS (
          SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY term
        ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT t.doc_id, t.term, t.tf, d.df,
                 CAST(t.tf AS DOUBLE) * CAST(n.n_docs + 1 AS DOUBLE)
                   / CAST(d.df + 1 AS DOUBLE) AS score
          FROM tfc t JOIN dfc d ON t.term = d.term CROSS JOIN n
        ), ranked AS (
          SELECT *, CAST(ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
          FROM scored
        )
        SELECT doc_id, rank, term, tf, df, score
        FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    "q96_deterministic_shuffle": """
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':' || 'epoch0') AS shuffle_key
        FROM documents ORDER BY shuffle_key
    """,
    "q97_mixture_temperature": """
        WITH per AS (
          SELECT source,
                 CAST(SUM(CAST((CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '[ \\t\\n\\x0b\\f\\r]+')) END) AS BIGINT)) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        ), sq AS (
          SELECT source, n_tokens,
                 CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,6)) AS sqv
          FROM per
        ), norm AS (SELECT SUM(sqv) AS nrm FROM sq)
        SELECT source, n_tokens,
               CAST(sqv AS DOUBLE) / CAST(nrm AS DOUBLE) AS mix_weight,
               (CAST(sqv AS DOUBLE) / CAST(nrm AS DOUBLE)) * 1000000.0 / n_tokens AS expected_epochs
        FROM sq CROSS JOIN norm ORDER BY source
    """,
    "q98_embedding_centroids": """
        WITH ex AS (
          SELECT label,
                 generate_subscripts(embedding, 1) - 1 AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS x
          FROM embeddings
        ), per_dim AS (
          SELECT label, pos,
                 SUM(CAST(x AS DECIMAL(28,12))) AS s1,
                 SUM(CAST(x * x AS DECIMAL(28,12))) AS s2,
                 COUNT(*) AS c
          FROM ex GROUP BY label, pos
        ), per_label AS (
          SELECT label,
                 MAX(c) AS n_vectors,
                 CAST(SUM(s2) AS DOUBLE) AS sumsq,
                 CAST(SUM(CAST((CAST(s1 AS DOUBLE) / c) * (CAST(s1 AS DOUBLE) / c)
                               AS DECIMAL(28,12))) AS DOUBLE) AS centroid_norm2
          FROM per_dim GROUP BY label
        )
        SELECT label, n_vectors,
               sumsq / n_vectors AS mean_sq_norm,
               centroid_norm2,
               (sumsq / n_vectors) - centroid_norm2 AS dispersion
        FROM per_label ORDER BY label
    """,
    "q84_funnel_conversion": """
        WITH d1 AS (
          SELECT user_id, event_type, ts,
                 MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t0
          FROM events
        ), d2 AS (
          SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
                      OVER (PARTITION BY user_id) AS t1
          FROM d1
        ), d3 AS (
          SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
                      OVER (PARTITION BY user_id) AS t2
          FROM d2
        ), agg AS (
          SELECT COUNT(DISTINCT CASE WHEN t0 IS NOT NULL THEN user_id END) AS n0,
                 COUNT(DISTINCT CASE WHEN t1 IS NOT NULL THEN user_id END) AS n1,
                 COUNT(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END) AS n2
          FROM d3
        )
        SELECT s.step_index, s.step, s.n_users
        FROM agg, LATERAL (
          VALUES (CAST(1 AS BIGINT), 'view', n0),
                 (CAST(2 AS BIGINT), 'click', n1),
                 (CAST(3 AS BIGINT), 'purchase', n2)
        ) AS s(step_index, step, n_users)
        ORDER BY s.step_index
    """,
    "q83_gap_filled_daily": """
        WITH agg AS (
          SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n
          FROM events
          WHERE day(ts) % 3 <> 0
          GROUP BY event_type, CAST(date_trunc('day', ts) AS DATE)
        ), b AS (
          SELECT MIN(day) AS mn, MAX(day) AS mx FROM agg
        ), spine AS (
          SELECT e.event_type, CAST(gs.d AS DATE) AS day
          FROM (SELECT DISTINCT event_type FROM agg) e
          CROSS JOIN (
            SELECT UNNEST(generate_series(CAST(mn AS TIMESTAMP),
                                          CAST(mx AS TIMESTAMP),
                                          INTERVAL 1 DAY)) AS d
            FROM b
          ) gs
        )
        SELECT s.event_type, s.day, COALESCE(a.n, 0) AS n
        FROM spine s LEFT JOIN agg a ON s.event_type = a.event_type AND s.day = a.day
        ORDER BY s.event_type, s.day
    """,
    "q80_cube_summary": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "q81_grouped_concat": """
        SELECT r.r_name,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
               COUNT(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY r.r_name NULLS FIRST
    """,
    "q82_revenue_share": """
        WITH per_nation AS (
          SELECT n.n_name,
                 SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) AS rd
          FROM lineitem l
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          JOIN nation n ON s.s_nationkey = n.n_nationkey
          GROUP BY n.n_name
        )
        SELECT n_name,
               CAST(rd AS DOUBLE) / 10000.0 AS revenue,
               CAST(rd AS DOUBLE) / CAST(SUM(rd) OVER () AS DOUBLE) AS share
        FROM per_nation
        ORDER BY n_name NULLS FIRST
    """,
    "q79_order_value_deciles": """
        WITH d AS (
          SELECT o_orderkey, o_totalprice,
                 NTILE(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
          FROM orders
        )
        SELECT decile, COUNT(*) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value,
               MIN(o_totalprice) AS min_value,
               MAX(o_totalprice) AS max_value
        FROM d GROUP BY decile ORDER BY decile
    """,
}


# Retired from the certification registry (round 9 — rotation-slack
# recovery): strict subsets of shapes that stay oracled (q43 approx
# count-distinct ⊂ q62 HLL rollup + Q16 exact daily count-distinct;
# q44 ROLLUP ⊂ q80 CUBE — both compile to the same Expand machinery).
# Pytest twin tests/test_retired_oracles.py runs each against its
# DuckDB oracle at the driver's gate scale every suite run.
RETIRED_EXTENSION_QUERIES = {
    "q43_approx_distinct": q43_approx_distinct,
    "q44_rollup": q44_rollup,
    # r14: retired to fund q39's oracle slot — q41 (oracled r13)
    # certifies the hyperplane BUCKETS and the pair cosines bitwise,
    # of which q52's bucket histogram is a strict subset
    "q52_lsh_bucket_histogram": q52_lsh_bucket_histogram,
    # r14: retired to fund q118's oracle slot — q41 certifies the
    # identical exact left-associative cosine folds AND deterministic
    # top-k ordering bitwise; q40's brute-force top-10 face keeps its
    # numpy-exactness pytest and this per-suite twin
    "q40_cosine_topk": q40_cosine_topk,
}

RETIRED_EXTENSION_ORACLES: dict[str, str] = {
    "q52_lsh_bucket_histogram": _lsh_bucket_oracle_sql(),
    "q40_cosine_topk": """
        SELECT vec_id, ROUND(cosine, 6) AS cosine FROM (
          SELECT e.vec_id AS vec_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(q.embedding AS DOUBLE[])) AS cosine
          FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
          WHERE e.vec_id <> 0
          ORDER BY cosine DESC, e.vec_id LIMIT 10
        ) t
    """,
    "q43_approx_distinct": """
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST
    """,
    "q44_rollup": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n NULLS FIRST
    """,
}
