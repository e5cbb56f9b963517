"""`.bsk` capnp interchange: wire-format invariants, round-trip, Spark
shard write/read parity with the signature stage.

Reference: `lib/src/serialization/mod.rs:123-224` + `finch.capnp` schema;
framing/pointer layout from the public Cap'n Proto encoding spec. No capnp
library or Rust toolchain exists in this sandbox, so parity against a
reference-written binary cannot run here; these tests pin the spec-derived
layout (exact header, pointer kinds, field offsets) so any drift is loud.
"""
import struct

import numpy as np
import pytest

from finchspark.api import Sketch
from finchspark.kernels import FilterParams, KmerCounts, SketchParams
from finchspark.sources.bsk import read_bsk_bytes, write_bsk_bytes
from tests.capnp_schema import FINCH_SCHEMA, requires_schema


def _mk(name="s", n=5, seed=0, **pkw):
    rng = np.random.default_rng(seed)
    h = np.sort(rng.integers(0, 2**64, n, dtype=np.uint64))
    return Sketch(
        name,
        KmerCounts(
            h,
            rng.integers(1, 9, n).astype(np.int64),
            rng.integers(0, 4, n).astype(np.int64),
            [bytes(rng.integers(65, 91, 4, dtype=np.uint8)) for _ in range(n)],
        ),
        SketchParams(**pkw) if pkw else SketchParams(),
        seq_length=100,
        num_valid_kmers=96,
    )


def test_roundtrip_all_param_kinds():
    sks = [
        _mk("mash", 7, 1, sketch_type="mash", kmers_to_sketch=128, final_size=128),
        _mk("scaled", 3, 2, sketch_type="scaled", scale=0.25, hash_seed=42),
        _mk("empty", 0, 3),
        _mk("allcounts", 4, 4, sketch_type="allcounts"),
    ]
    sks[0].filter_params = FilterParams(
        filter_on=True, abun_filter_low=2, abun_filter_high=None,
        err_filter=0.21, strand_filter=0.1,
    )
    back = read_bsk_bytes(write_bsk_bytes(sks))
    assert [b.name for b in back] == ["mash", "scaled", "empty", "allcounts"]
    for a, b in zip(sks, back):
        assert (a.hashes.hashes == b.hashes.hashes).all()
        assert (a.hashes.counts == b.hashes.counts).all()
        assert (a.hashes.extra_counts == b.hashes.extra_counts).all()
        assert a.params == b.params
        assert (a.seq_length, a.num_valid_kmers) == (b.seq_length, b.num_valid_kmers)
    fb = back[0].filter_params
    assert (fb.filter_on, fb.abun_filter_low, fb.abun_filter_high) == (True, 2, None)
    assert (fb.err_filter, fb.strand_filter) == (0.21, 0.1)


def test_wire_format_header_and_root():
    """Framing + root pointer exactly as the capnp spec prescribes."""
    data = write_bsk_bytes([_mk(n=2)])
    n_minus_1, seg_words = struct.unpack_from("<II", data, 0)
    assert n_minus_1 == 0  # single segment
    assert len(data) == 8 + seg_words * 8
    root = struct.unpack_from("<Q", data, 8)[0]
    assert root & 3 == 0  # struct pointer
    assert (root >> 32) & 0xFFFF == 0  # Multisketch: no data words
    assert (root >> 48) & 0xFFFF == 1  # one pointer (sketches)


def test_kmer_count_word_layout():
    """hash in word 0; count/extraCount packed into word 1 (u32 lanes)."""
    sk = _mk(n=1, seed=9)
    sk.hashes.counts[0] = 7
    sk.hashes.extra_counts[0] = 3
    data = write_bsk_bytes([sk])
    target = int(sk.hashes.hashes[0]).to_bytes(8, "little")
    idx = data.index(target)
    w1 = struct.unpack_from("<Q", data, idx + 8)[0]
    assert w1 & 0xFFFFFFFF == 7
    assert (w1 >> 32) == 3


def test_multisegment_and_far_pointer_read():
    """The Rust builder may split big messages across segments; the reader
    must follow single-word far pointers. Build such a message by hand:
    segment 0 = root far pointer, segment 1 = the real content."""
    one = write_bsk_bytes([_mk("fardoc", 3, 5)])
    seg1 = one[8:]  # content words of the single-segment message
    far = 2 | (0 << 2) | (0 << 3) | (1 << 32)  # land at seg 1 word 0
    seg0 = struct.pack("<Q", far)
    header = struct.pack("<III", 1, 1, len(seg1) // 8) + b"\x00" * 4
    msg = header + seg0 + seg1
    back = read_bsk_bytes(msg)
    assert len(back) == 1 and back[0].name == "fardoc"
    assert len(back[0].hashes) == 3


def test_truncated_and_garbage_fail_loudly():
    data = write_bsk_bytes([_mk(n=4)])
    with pytest.raises(ValueError):
        read_bsk_bytes(data[:20])
    with pytest.raises(ValueError):
        read_bsk_bytes(b"\x00" * 4)


def test_spark_shard_roundtrip_matches_signature_stage(spark, tmp_path):
    """signatures → sharded .bsk → read back: hashes/counts/stats identical
    through the executor-side encode/decode path."""
    from finchspark.config import PipelineConfig
    from finchspark.operators.signature import build_signatures
    from finchspark.sources.bsk import read_bsk_dir, write_bsk_shards

    cfg = PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=64, final_size=64, kmer_length=21)
    )
    docs = spark.createDataFrame(
        [(i, f"The quick brown fox jumps over dog number {i} " * 4) for i in range(20)],
        "doc_id long, text string",
    )
    sigs = build_signatures(docs, cfg, key_cols=("doc_id",), content_col="text")
    out = str(tmp_path / "bsk")
    n_shards = write_bsk_shards(sigs.repartition(3), out, cfg.sketch)
    assert n_shards >= 1
    back = read_bsk_dir(spark, out)
    a = {
        r["doc_id"]: (list(r["hashes"]), list(r["counts"]), r["n_bytes"], r["n_kmers"])
        for r in sigs.collect()
    }
    b = {
        int(r["doc_id"]): (list(r["hashes"]), list(r["counts"]), r["n_bytes"], r["n_kmers"])
        for r in back.collect()
    }
    assert a == b


@requires_schema(FINCH_SCHEMA)
def test_bsk_decodes_under_reference_schema():
    """Writer bytes decoded by an INDEPENDENT schema-driven reader whose
    field layout is computed mechanically from the reference's frozen
    finch.capnp (tests/capnp_schema.py) — pins the hand-rolled codec's
    layout to the schema instead of to its own constants."""
    from tests.capnp_schema import SchemaDecoder

    schema = open(FINCH_SCHEMA).read()
    sks = [
        _mk("alpha", 4, 5, sketch_type="scaled", scale=0.5, hash_seed=7,
            kmers_to_sketch=64, final_size=32),
        _mk("beta", 0, 6),
    ]
    sks[0].filter_params = FilterParams(
        filter_on=True, abun_filter_low=2, abun_filter_high=9,
        err_filter=0.25, strand_filter=0.125,
    )
    ms = SchemaDecoder(write_bsk_bytes(sks), schema).root("Multisketch")
    assert len(ms["sketches"]) == 2
    s0 = ms["sketches"][0]
    assert s0["name"] == "alpha" and s0["comment"] == ""
    assert s0["seqLength"] == 100 and s0["numValidKmers"] == 96
    for j, kc in enumerate(s0["hashes"]):
        assert kc["hash"] == int(sks[0].hashes.hashes[j])
        assert kc["count"] == int(sks[0].hashes.counts[j])
        assert kc["extraCount"] == int(sks[0].hashes.extra_counts[j])
        assert kc["kmer"] == sks[0].hashes.kmers[j]
        assert kc["label"] is None
    assert s0["filterParams"] == {
        "filtered": True, "lowAbunFilter": 2, "highAbunFilter": 9,
        "errFilter": 0.25, "strandFilter": 0.125,
    }
    sp = s0["sketchParams"]
    assert sp["sketchMethod"] == 1  # murmurHash3Scaled @1
    assert sp["kmerLength"] == sks[0].params.kmer_length
    assert sp["kmersToSketch"] == 64 and sp["finalSize"] == 32
    assert sp["hashSeed"] == 7 and sp["scale"] == 0.5
    assert sp["noStrict"] == sks[0].params.no_strict
    s1 = ms["sketches"][1]
    assert s1["name"] == "beta" and s1["hashes"] == []
