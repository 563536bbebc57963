"""Skew/degenerate-input guards — the caps that keep candidate
generation bounded at 100 TB (stop-shingle guard on the exact n-gram
Jaccard index, `max_bucket_size` on every LSH band join).

These tests plant a pathological corpus: one boilerplate document
duplicated thousands of times (the shape that turns an unguarded
bucket join into an accidental cross join — g identical docs in one
band bucket → g² candidate pairs) plus a handful of genuine near-dup
pairs built from RARE shingles.  The guards must (a) drop the
degenerate work, keeping the candidate set bounded, and (b) keep
complete recall on the genuine pairs — true near-dups share many rare
shingles/bands, so they never depend on the degenerate bucket.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from data_warehouse_nhom8_spark.operators import neardup

BOILER = (
    "standard legal disclaimer all rights reserved this document is "
    "provided as is without warranty of any kind either express or implied"
)

UNIQUE_A = (
    "zebra quartz jumps kiln over vexed bright mahogany fjords while "
    "gypsum clocks quiver under neon sphinx lanterns at dusk tonight"
)
UNIQUE_B = UNIQUE_A.replace("dusk", "dawn")  # near dup of A (1-token edit)
UNIQUE_C = (
    "completely separate prose about catalyst shuffle partitions and "
    "broadcast joins inside the tungsten execution runtime layer here"
)

N_BOILER = 3000


@pytest.fixture(scope="module")
def skewed(spark):
    rows = [(i, BOILER) for i in range(N_BOILER)]
    rows += [(N_BOILER, UNIQUE_A), (N_BOILER + 1, UNIQUE_B), (N_BOILER + 2, UNIQUE_C)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_production_default_is_guarded():
    """VERDICT r2 #2: the unguarded Σdf² mode must be opt-in (oracle
    plans only), never the default a production caller inherits."""
    default = inspect.signature(neardup.ngram_jaccard_pairs_exact).parameters[
        "max_shingle_df"
    ].default
    assert default is not None and default > 0


def test_stop_shingle_guard_bounds_pairs_and_keeps_recall(spark, skewed):
    """Guarded exact Jaccard on the skewed corpus: the boilerplate
    shingles (df = 3000 > cap) are dropped, so the g² ≈ 4.5M
    boilerplate pairs never materialize; the planted rare-shingle
    near-dup pair survives with its exact value."""
    out = neardup.ngram_jaccard_pairs_exact(
        skewed, threshold=0.5, shingle_w=3, max_shingle_df=100
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (N_BOILER, N_BOILER + 1) in pairs  # planted near-dup found
    # nothing boilerplate-only survives — candidate set stays tiny
    assert len(pairs) < 10


def test_lsh_bucket_cap_drops_degenerate_bucket(spark, skewed):
    """q38's candidate generator: 3000 identical docs collide in every
    band; with the cap those buckets are skipped, so the candidate
    count is bounded instead of ~4.5M — while the genuine near-dup
    pair (rare shingles, its own small bucket) still surfaces."""
    cands = neardup.minhash_lsh_candidates(
        skewed, shingle_w=3, max_bucket_size=200
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in cands}
    assert (N_BOILER, N_BOILER + 1) in pairs
    assert len(pairs) < 100  # degenerate bucket dropped, not 4.5M rows

    # control: with the cap lifted far above the corpus size the same
    # generator DOES produce the quadratic candidate set — proving the
    # cap (not luck) is what bounded the run above
    unbounded = (
        neardup.minhash_lsh_candidates(
            skewed.limit(100), shingle_w=3, max_bucket_size=10**9
        )
        .count()
    )
    assert unbounded > 4000  # ~97*96/2 boilerplate pairs + planted


def test_incremental_detector_bounded_on_skew(spark, skewed):
    """q53's incremental path on the same degenerate corpus: the new
    batch (the planted near-dups) against the 3000-duplicate state
    must complete with a bounded result — the batch-side bucket join
    carries the same cap."""
    new = skewed.filter(F.col("doc_id") >= N_BOILER)
    corpus = skewed.filter(F.col("doc_id") < N_BOILER)
    out = neardup.minhash_incremental_pairs(
        new, corpus, threshold=0.5, shingle_w=3
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (N_BOILER, N_BOILER + 1) in pairs
    assert all({a, b} & {N_BOILER, N_BOILER + 1, N_BOILER + 2} for a, b in pairs)
    assert len(pairs) < 100


def test_in_memory_corpus_size_is_over_the_spans_broadcast_bound(spark):
    """An in-memory corpus has no input files, so its size is unknown:
    the scrub's size policy must treat it as over-bound (shuffle
    join), never as 0 bytes (forced broadcast)."""
    from data_warehouse_nhom8_spark.operators.corpus import (
        _SPANS_BROADCAST_MAX_CORPUS_BYTES,
        _input_bytes,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    assert _input_bytes(df) > _SPANS_BROADCAST_MAX_CORPUS_BYTES
