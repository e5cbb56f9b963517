"""Mash `.msh` interop (S6): round-trip + wire layout pins + reference read
semantics (counts missing -> count 1; extra = count/2; old-list fallback)."""
import struct

import numpy as np

from finchspark.api import Sketch
from finchspark.kernels import KmerCounts, SketchParams
from finchspark.sources.mash import read_msh_bytes, write_msh_bytes
from tests.capnp_schema import MASH_SCHEMA, requires_schema


def _mk(name="m", n=6, seed=0):
    rng = np.random.default_rng(seed)
    h = np.sort(rng.integers(0, 2**64, n, dtype=np.uint64))
    return Sketch(
        name,
        KmerCounts(h, rng.integers(1, 9, n).astype(np.int64),
                   rng.integers(0, 4, n).astype(np.int64)),
        SketchParams(sketch_type="mash", kmer_length=21, hash_seed=0),
        seq_length=1000,
        num_valid_kmers=980,
    )


def test_msh_roundtrip_reference_read_semantics():
    sks = [_mk("one", 5, 1), _mk("two", 0, 2), _mk("three", 9, 3)]
    back = read_msh_bytes(write_msh_bytes(sks))
    assert [b.name for b in back] == ["one", "two", "three"]
    for a, b in zip(sks, back):
        assert (a.hashes.hashes == b.hashes.hashes).all()
        assert (a.hashes.counts == b.hashes.counts).all()
        # mash carries no extra_count: the reference reconstructs count/2
        assert (b.hashes.extra_counts == a.hashes.counts // 2).all()
        assert b.seq_length == 1000 and b.num_valid_kmers == 980
        # mash params surface: k + seed survive; sketch sizes are not stored
        assert b.params.kmer_length == 21
        assert b.params.hash_seed == 0
        assert b.params.kmers_to_sketch == 0


def test_msh_hash_seed_xor_default():
    """hashSeed has schema default 42 -> XOR-encoded: seed 0 must be stored
    as wire value 42 and read back as 0; seed 42 stores as 0."""
    sk = _mk(seed=4)
    data = write_msh_bytes([sk])
    # MinHash data word 2, upper half = seed ^ 42
    root = struct.unpack_from("<Q", data, 8)[0]
    off = (root >> 2) & 0x3FFFFFFF
    mh_word2 = struct.unpack_from("<Q", data, 8 + (1 + off + 2) * 8)[0]
    assert (mh_word2 >> 32) == 42 ^ 0
    assert read_msh_bytes(data)[0].params.hash_seed == 0

    sk.params = SketchParams(sketch_type="mash", kmer_length=21, hash_seed=42)
    data2 = write_msh_bytes([sk])
    mh_word2 = struct.unpack_from("<Q", data2, 8 + (1 + off + 2) * 8)[0]
    assert (mh_word2 >> 32) == 0
    assert read_msh_bytes(data2)[0].params.hash_seed == 42


def test_msh_counts_absent_defaults_to_one():
    """A mash file without counts32 (old writers) reads count=1, extra=0 —
    `mash.rs:96-106`."""
    sk = _mk(n=4, seed=7)
    data = bytearray(write_msh_bytes([sk]))
    # null out the counts32 pointer (Reference ptr 6): walk the pointers
    from finchspark.sources.capnp_wire import _Loc, _Reader

    r = _Reader(bytes(data))
    mh_base, mh_d, _ = r.struct_at(_Loc(0, 0))
    rl_base, rl_d, _ = r.struct_at(_Loc(mh_base.seg, mh_base.word + mh_d + 3))
    refs, ref_d, _ = r.composite(_Loc(rl_base.seg, rl_base.word + rl_d))
    counts_ptr_word = refs[0].word + ref_d + 6
    struct.pack_into("<Q", data, 8 + counts_ptr_word * 8, 0)
    back = read_msh_bytes(bytes(data))
    assert (back[0].hashes.counts == 1).all()
    assert (back[0].hashes.extra_counts == 0).all()
    assert (back[0].hashes.hashes == sk.hashes.hashes).all()


@requires_schema(MASH_SCHEMA)
def test_msh_decodes_under_reference_schema():
    """Writer bytes decoded by the independent schema-driven reader
    (layout derived from the reference's mash.capnp, including the
    out-of-declaration-order ordinals and the hashSeed=42 XOR default)."""
    from tests.capnp_schema import SchemaDecoder

    schema = open(MASH_SCHEMA).read()
    sks = [_mk("one", 5, 1), _mk("two", 0, 2)]
    for s in sks:
        s.params = SketchParams(sketch_type="mash", kmer_length=21, hash_seed=7)
    mh = SchemaDecoder(write_msh_bytes(sks), schema).root("MinHash")
    assert mh["kmerSize"] == 21 and mh["windowSize"] == 21
    assert mh["minHashesPerWindow"] == 5  # largest sketch
    assert mh["concatenated"] is True
    assert mh["noncanonical"] is False and mh["preserveCase"] is False
    assert mh["error"] == 0.0 and mh["alphabet"] == "ACGT"
    assert mh["hashSeed"] == 7  # stored XOR 42; schema default round-trips it
    assert mh["referenceListOld"] is None and mh["locusList"] is None
    refs = mh["referenceList"]["references"]
    assert [r["name"] for r in refs] == ["one", "two"]
    for s, r in zip(sks, refs):
        assert r["length64"] == 1000 and r["numValidKmers"] == 980
        assert r["length"] == 0  # reference sets only length64
        assert r["comment"] == ""
        assert r["sequence"] is None and r["quality"] is None
        assert r["hashes32"] is None
        assert (r["hashes64"] or []) == [int(h) for h in s.hashes.hashes]
        assert (r["counts32"] or []) == [int(c) for c in s.hashes.counts]
