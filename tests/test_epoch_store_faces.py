"""Cheap guards over every epoch-store face of `streaming.jobs`: the
empty-store read contract, the sink's checkpoint registration, and the
span store's refusal of hex-string window hashes. No stream starts."""

from __future__ import annotations

import os

import pytest

from data_warehouse_nhom8_spark.sources import snapshots as snap
from data_warehouse_nhom8_spark.streaming import jobs

# read face -> its arguments after (spark, path)
READ_FACES = {
    "read_neardup_pairs": (),
    "read_sketch_rollup": (["k"],),
    "read_vocab_store": (),
    "read_corpus_store": (),
    "read_chunks_store": (),
    "read_freq_head": (["k"], "item"),
    "read_span_store": (),
    "read_url_store": (),
    "read_ivf_store": (),
    "read_simhash_sig_store": (),
    "read_cluster_map_store": (),
}

# sink name -> (build(stream, store(name), checkpoint), the stores it writes)
SINKS = {
    "neardup_ingest_sink": (
        lambda st, s, ck: jobs.neardup_ingest_sink(st, s("state"), s("pairs"), ck),
        ["state", "pairs"],
    ),
    "sketch_rollup_sink": (
        lambda st, s, ck: jobs.sketch_rollup_sink(st, s("store"), ["doc_id"], "text", ck),
        ["store"],
    ),
    "vocab_store_sink": (lambda st, s, ck: jobs.vocab_store_sink(st, s("store"), ck), ["store"]),
    "corpus_ingest_sink": (
        lambda st, s, ck: jobs.corpus_ingest_sink(st, s("corpus"), s("chunks"), ck),
        ["corpus", "chunks"],
    ),
    "freq_head_sink": (
        lambda st, s, ck: jobs.freq_head_sink(st, s("store"), ["doc_id"], "text", ck),
        ["store"],
    ),
    "span_store_sink": (lambda st, s, ck: jobs.span_store_sink(st, s("store"), ck), ["store"]),
    "url_store_sink": (lambda st, s, ck: jobs.url_store_sink(st, s("store"), ck), ["store"]),
    "ivf_store_sink": (
        lambda st, s, ck: jobs.ivf_store_sink(st, s("model"), s("store"), ck),
        ["store"],
    ),
    "simhash_sig_store_sink": (
        lambda st, s, ck: jobs.simhash_sig_store_sink(st, s("store"), ck),
        ["store"],
    ),
    "cluster_edges_sink": (lambda st, s, ck: jobs.cluster_edges_sink(st, s("store"), ck), ["store"]),
}


def test_guards_cover_every_store_face():
    """A new read face or epoch sink must join the guards below."""
    reads = {n for n in dir(jobs) if n.startswith("read_")} - {"read_sig_state"}
    assert reads == set(READ_FACES)
    sinks = {n for n in dir(jobs) if n.endswith("_sink") and not n.startswith("_")}
    assert sinks - {"upsert_sink", "upsert_sink_partitioned"} == set(SINKS)


@pytest.mark.parametrize("face", sorted(READ_FACES))
def test_read_face_of_empty_store_names_the_path(spark, tmp_path, face):
    path = str(tmp_path / "never_written")
    with pytest.raises(FileNotFoundError, match="never_written"):
        getattr(jobs, face)(spark, path, *READ_FACES[face])


@pytest.mark.parametrize("sink", sorted(SINKS))
def test_sink_construction_registers_checkpoint_in_every_store(spark, tmp_path, sink):
    build, stores = SINKS[sink]
    src = tmp_path / "src"
    src.mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, url string, vec_id long, "
        "embedding array<double>, id_a long, id_b long"
    ).parquet(str(src))
    ck = str(tmp_path / "ck")
    build(stream, lambda name: str(tmp_path / name), ck)
    for name in stores:
        registered, _base, _qid = snap._writer_meta(str(tmp_path / name))
        assert registered == os.path.realpath(ck), name
    assert not spark.streams.active


def test_span_store_refuses_hex_string_keys(spark, tmp_path):
    """A store holding hex-string `h` parts (written before the binary
    unhex(md5) keys) would match no binary batch hash — the read and
    the compaction raise and name the repair instead. Covers the
    all-hex store, a hex epoch mixed with a binary one, and a hex base
    under a binary tail (where the union silently casts hex to
    binary)."""
    from data_warehouse_nhom8_spark.operators.span_dedup import span_store_build

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d x y")], "doc_id long, text string"
    )
    want = {(bytes(r["h"]), r["n_docs"]) for r in span_store_build(docs, window=3).collect()}
    hexed = spark.createDataFrame(
        [(h.hex(), n, 0) for h, n in want], "h string, n_docs long, epoch long"
    )

    mixed = str(tmp_path / "mixed")
    snap.epoch_append(hexed, mixed, 0)
    with pytest.raises(ValueError, match="hex-string.*span_store_build"):
        jobs.read_span_store(spark, mixed)
    jobs.span_store_merge(mixed, window=3)(docs, 1)
    with pytest.raises(ValueError, match="hex-string"):
        jobs.read_span_store(spark, mixed)
    with pytest.raises(ValueError, match="hex-string"):
        jobs.compact_span_store(spark, mixed)

    hex_base = str(tmp_path / "hex_base")
    snap.epoch_append(hexed, hex_base, 0)
    snap.epoch_compact(spark, hex_base)
    jobs.span_store_merge(hex_base, window=3)(docs, 1)
    with pytest.raises(ValueError, match="hex-string"):
        jobs.read_span_store(spark, hex_base)

    binary = str(tmp_path / "binary")
    jobs.span_store_merge(binary, window=3)(docs, 0)
    got = {(bytes(r["h"]), r["n_docs"]) for r in jobs.read_span_store(spark, binary).collect()}
    assert got == want
