"""Property fuzz of the capnp wire codec against the INDEPENDENT
schema-derived decoder (tests/capnp_schema.py) plus multi-segment /
far-pointer re-framings of writer output.

Raises confidence toward the one externally-gated unknown (parity vs a
reference-WRITTEN binary, `lib/src/serialization/mod.rs:168-224` /
`mash.rs:60-132`): the writer's bytes are decoded by a reader that derives
every field offset from the reference's own frozen `.capnp` schemas with
the public first-fit algorithm and shares no code with the codec, over
hypothesis-generated sketch populations (unicode names, empty sketches,
u64-extreme hashes/seeds, all three param kinds, optional filters). The
far-pointer tests hand-frame the same messages into 2- and 3-segment forms
(single-far and double-far roots per the encoding spec) and require the
production reader to decode them identically — the spec paths a
single-segment writer can never exercise on its own output.

The two schema-decode fuzzes read the schemas from a finch-rs checkout
(`tests.capnp_schema.SCHEMA_DIR`) and run only where its
`lib/src/serialization/{finch,mash}.capnp` is present; each is skipped,
naming the absent path, elsewhere. No schema text is vendored: rebuilding
it from the codec's own comments would pin the codec to itself, the
circular check the independent decoder exists to avoid. The far-pointer
fuzz needs no schema and always runs.
"""
import struct

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from finchspark.api import Sketch
from finchspark.kernels import FilterParams, KmerCounts, SketchParams
from finchspark.sources.bsk import read_bsk_bytes, write_bsk_bytes
from finchspark.sources.mash import read_msh_bytes, write_msh_bytes
from tests.capnp_schema import FINCH_SCHEMA, MASH_SCHEMA, requires_schema


@st.composite
def _params(draw):
    """Draw only fields the wire stores for the drawn variant (the capnp
    sketchParams union carries no scale for mash, no finalSize for scaled,
    etc. — unset fields legitimately read back as dataclass defaults)."""
    stype = draw(st.sampled_from(["mash", "scaled", "allcounts"]))
    kw = dict(
        sketch_type=stype,
        kmer_length=draw(st.integers(1, 255)),
        hash_seed=draw(st.integers(0, 2**64 - 1)),
    )
    if stype != "allcounts":
        kw["kmers_to_sketch"] = draw(st.integers(1, 100_000))
    if stype == "mash":
        kw["final_size"] = draw(st.integers(1, 100_000))
        kw["no_strict"] = draw(st.booleans())
    if stype == "scaled":
        kw["scale"] = draw(st.floats(1e-9, 1.0, allow_nan=False))
    return SketchParams(**kw)


@st.composite
def _sketch(draw, params=None):
    n = draw(st.integers(0, 10))
    hs = np.array(
        sorted(draw(st.sets(st.integers(0, 2**64 - 1), min_size=n, max_size=n))),
        np.uint64,
    )
    mk_list = lambda lo, hi: np.array(
        draw(st.lists(st.integers(lo, hi), min_size=n, max_size=n)), np.int64
    )
    sk = Sketch(
        draw(st.text(max_size=10)),
        KmerCounts(
            hs,
            mk_list(1, 2**32 - 1),
            mk_list(0, 2**32 - 1),
            [draw(st.binary(max_size=6)) for _ in range(n)],
        ),
        params or draw(_params()),
        seq_length=draw(st.integers(0, 2**64 - 1)),
        num_valid_kmers=draw(st.integers(0, 2**64 - 1)),
    )
    if draw(st.booleans()):
        sk.filter_params = FilterParams(
            filter_on=True,
            abun_filter_low=draw(st.none() | st.integers(1, 2**32 - 1)),
            abun_filter_high=draw(st.none() | st.integers(1, 2**32 - 1)),
            err_filter=draw(st.floats(0.001, 1.0)),
            strand_filter=draw(st.floats(0.001, 1.0)),
        )
    return sk


def _assert_roundtrip(sks, back):
    assert [b.name for b in back] == [s.name for s in sks]
    for a, b in zip(sks, back):
        assert (a.hashes.hashes == b.hashes.hashes).all()
        assert (a.hashes.counts == b.hashes.counts).all()
        assert (a.hashes.extra_counts == b.hashes.extra_counts).all()
        assert a.params == b.params
        assert (a.seq_length, a.num_valid_kmers) == (b.seq_length, b.num_valid_kmers)


@requires_schema(FINCH_SCHEMA)
@settings(max_examples=120, deadline=None)
@given(st.lists(_sketch(), max_size=4))
def test_fuzz_bsk_schema_decode_and_roundtrip(sks):
    data = write_bsk_bytes(sks)
    _assert_roundtrip(sks, read_bsk_bytes(data))

    from tests.capnp_schema import SchemaDecoder

    schema = open(FINCH_SCHEMA).read()
    ms = SchemaDecoder(data, schema).root("Multisketch")
    assert len(ms["sketches"]) == len(sks)
    for s, d in zip(sks, ms["sketches"]):
        assert d["name"] == s.name
        assert d["seqLength"] == s.seq_length
        assert d["numValidKmers"] == s.num_valid_kmers
        assert len(d["hashes"]) == len(s.hashes)
        for j, kc in enumerate(d["hashes"]):
            assert kc["hash"] == int(s.hashes.hashes[j])
            assert kc["count"] == int(s.hashes.counts[j])
            assert kc["extraCount"] == int(s.hashes.extra_counts[j])
            assert kc["kmer"] == s.hashes.kmers[j]
        sp = d["sketchParams"]
        assert sp["kmerLength"] == s.params.kmer_length
        assert sp["hashSeed"] == s.params.hash_seed
        kind = {"mash": 0, "scaled": 1, "allcounts": 2}[s.params.sketch_type]
        assert sp["sketchMethod"] == kind
        if s.params.sketch_type == "scaled":
            assert sp["scale"] == s.params.scale
        if s.params.sketch_type == "mash":
            assert sp["finalSize"] == s.params.final_size
        if s.params.sketch_type != "allcounts":
            assert sp["kmersToSketch"] == s.params.kmers_to_sketch
        fp = getattr(s, "filter_params", None)
        if fp is not None and fp.filter_on:
            assert d["filterParams"]["filtered"] is True
            assert d["filterParams"]["errFilter"] == fp.err_filter
            assert d["filterParams"]["strandFilter"] == fp.strand_filter
            if fp.abun_filter_low is not None:
                assert d["filterParams"]["lowAbunFilter"] == fp.abun_filter_low
            if fp.abun_filter_high is not None:
                assert d["filterParams"]["highAbunFilter"] == fp.abun_filter_high


@requires_schema(MASH_SCHEMA)
@settings(max_examples=100, deadline=None)
@given(st.data())
def test_fuzz_msh_schema_decode_and_roundtrip(data_st):
    params = data_st.draw(_params())
    # mash.capnp stores hashSeed as UInt32 (XOR 42, `mash.capnp:115`) — the
    # format cannot carry a 64-bit seed, so draw within its domain
    params = SketchParams(
        **{**params.__dict__, "hash_seed": params.hash_seed & 0xFFFFFFFF}
    )
    sks = data_st.draw(st.lists(_sketch(params=params), min_size=1, max_size=4))
    data = write_msh_bytes(sks)
    back = read_msh_bytes(data)
    assert [b.name for b in back] == [s.name for s in sks]
    for a, b in zip(sks, back):
        assert (a.hashes.hashes == b.hashes.hashes).all()
        assert (a.hashes.counts == b.hashes.counts).all()

    from tests.capnp_schema import SchemaDecoder

    schema = open(MASH_SCHEMA).read()
    mh = SchemaDecoder(data, schema).root("MinHash")
    assert mh["kmerSize"] == params.kmer_length
    assert mh["hashSeed"] == params.hash_seed  # stored XOR 42, default round-trips
    # writer floors the field at 1 (mash's sketch-size slot is never 0)
    assert mh["minHashesPerWindow"] == (max(len(s.hashes) for s in sks) or 1)
    refs = mh["referenceList"]["references"]
    assert [r["name"] for r in refs] == [s.name for s in sks]
    for s, r in zip(sks, refs):
        assert r["length64"] == s.seq_length
        assert r["numValidKmers"] == s.num_valid_kmers
        assert (r["hashes64"] or []) == [int(h) for h in s.hashes.hashes]
        assert (r["counts32"] or []) == [int(c) for c in s.hashes.counts]


# ---------------------------------------------------------------------------
# multi-segment / far-pointer framings (encoding-spec paths a single-segment
# writer never emits; the production _Reader must decode them identically)
# ---------------------------------------------------------------------------

def _split_single_segment(data: bytes) -> bytes:
    n_segs = struct.unpack_from("<I", data, 0)[0] + 1
    assert n_segs == 1, "writer emitted multi-segment unexpectedly"
    size0 = struct.unpack_from("<I", data, 4)[0]
    return data[8 : 8 + 8 * size0]


def _sign30(v: int) -> int:
    return v - (1 << 30) if v & (1 << 29) else v


def reframe_far(data: bytes) -> bytes:
    """Two segments: seg0 holds only a single-far root pointer (B=0) to
    seg1 word 0, seg1 is the original segment verbatim."""
    seg = _split_single_segment(data)
    header = struct.pack("<III", 1, 1, len(seg) // 8)
    header += b"\0" * ((-len(header)) % 8)
    far = 2 | (0 << 2) | (0 << 3) | (1 << 32)
    return header + struct.pack("<Q", far) + seg


def reframe_double_far(data: bytes) -> bytes:
    """Three segments: seg0 = double-far root (B=1) to a 2-word landing pad
    in seg1 (far ptr to the object in seg2 + a tag carrying the original
    root pointer's kind/size with offset 0); seg2 = the original segment's
    content words behind one padding word (so the object never sits at
    word 0 — readers synthesize a pointer one word before it)."""
    seg = _split_single_segment(data)
    root = struct.unpack_from("<Q", seg, 0)[0]
    assert root & 3 == 0
    off = _sign30((root >> 2) & 0x3FFFFFFF)
    content = seg[8:]
    obj_word = 1 + off  # one padding word prepended to seg2
    seg2 = b"\0" * 8 + content
    df = 2 | (1 << 2) | (0 << 3) | (1 << 32)
    far2 = 2 | (0 << 2) | (obj_word << 3) | (2 << 32)
    tag = root & 0xFFFFFFFF00000003  # kind + section sizes, offset zeroed
    seg1 = struct.pack("<QQ", far2, tag)
    header = struct.pack("<IIII", 2, 1, 2, len(seg2) // 8)
    return header + struct.pack("<Q", df) + seg1 + seg2


@settings(max_examples=60, deadline=None)
@given(st.lists(_sketch(), min_size=1, max_size=3))
def test_fuzz_reader_far_and_double_far(sks):
    data = write_bsk_bytes(sks)
    _assert_roundtrip(sks, read_bsk_bytes(reframe_far(data)))
    _assert_roundtrip(sks, read_bsk_bytes(reframe_double_far(data)))
