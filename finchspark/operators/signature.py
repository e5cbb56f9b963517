"""Signature stage: documents → per-document MinHash signature rows.

Spark shape (SURVEY.md §3.1): `documents → mapInArrow(signature kernel) →
signatures`. The whole batch is processed with a handful of numpy calls —
content bytes are read straight out of the Arrow string buffers (zero-copy),
every k-gram in the batch is hashed in one vectorized murmur3 call, and
per-document sketches come from one segmented lexsort
(`finchspark.kernels.segment`). No per-row Python anywhere.

Scale notes (100 TB): the stage is embarrassingly parallel — cost scales with
input bytes and there is NO shuffle. Arrow batch size is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch` plus the byte-bounded
sub-batching (MAX_CHUNK_BYTES), which also bounds straggler batches.
"""
from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute namespace)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import PipelineConfig
from ..kernels import (
    band_hashes,
    blob_shingle_hashes,
    oph_signatures,
    segment_count_distinct,
    simhash64_batch,
    u64_to_i64_shifted,
)

_EMPTY64 = 0xFFFFFFFFFFFFFFFF

# sub-batch bound on content bytes per kernel invocation (see compute());
# module-level so tests can shrink it to force the chunked path. 8 MiB keeps
# the kernel working set (~8 bytes temp per content byte) near cache size —
# measured 2-4x faster steady-state than 32 MiB chunks on 20k-doc batches,
# and bounds each worker's retained heap under kernels.memtune
MAX_CHUNK_BYTES = 8 << 20


def signature_schema(key_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(
        key_fields
        + [
            T.StructField("sha256", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_kmers", T.LongType()),
            T.StructField("n_unique", T.LongType()),
            T.StructField("hashes", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.IntegerType())),
            T.StructField("simhash", T.LongType()),
            T.StructField("bands", T.ArrayType(T.LongType())),
            T.StructField("strict_violation", T.BooleanType()),
        ]
    )


def _string_blob(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(uint8 blob, int64 byte offsets) straight from Arrow buffers."""
    if arr.null_count:
        arr = arr.fill_null("" if pa.types.is_string(arr.type) else b"")
    arr = arr.cast(pa.large_binary())
    offsets = np.frombuffer(
        arr.buffers()[1], dtype=np.int64, count=len(arr) + 1 + arr.offset
    )[arr.offset :]
    data_buf = arr.buffers()[2]
    blob = (
        np.frombuffer(data_buf, dtype=np.uint8)
        if data_buf is not None
        else np.empty(0, dtype=np.uint8)
    )
    # a SLICED array shares its parent's data buffer; rebase to the slice's
    # own byte range or downstream whole-blob passes (the sliding murmur)
    # would hash the ENTIRE parent buffer once per sub-chunk
    if len(offsets) and (offsets[0] != 0 or offsets[-1] != len(blob)):
        blob = blob[offsets[0] : offsets[-1]]
        offsets = offsets - offsets[0]
    return blob, offsets


def build_signatures(
    df: DataFrame,
    config: PipelineConfig,
    key_cols: tuple[str, ...] = ("doc_id",),
    content_col: str = "content",
    filters=None,
) -> DataFrame:
    """Compute the `signatures` DataFrame for `df`.

    Output columns: key_cols…, sha256, n_bytes, n_kmers, n_unique,
    hashes (array<long>, sign-shifted u64, ascending unsigned), counts,
    simhash (long, raw bit pattern), bands (array<long>, index = band_id),
    strict_violation (bool — A4: True when `no_strict=False` and a mash
    sketch came up shorter than final_size, `sketch_schemes/mod.rs:115-128`;
    the row is still emitted, the flag is the metrics surface).

    `filters`: optional `kernels.FilterParams` — the abundance-weighted
    over-sketch + filter variant (reference CLI flow, `cli/src/cli.rs:287-295`
    + `lib/src/filtering.rs:56-87`). Pair it with an oversketched
    `kmers_to_sketch` (see `config.with_oversketch`); the filter pipeline
    runs between sketching and the final_size truncation, fully segmented
    across the batch (`kernels.segfilter` — no per-document Python).
    """
    params = config.sketch
    lsh = config.lsh
    k = params.kmer_length
    seed = params.hash_seed
    # sha256 (the per-row invariant vs the source table) is computed JVM-side
    # in whole-stage codegen and passed through the Arrow kernel — identical
    # bytes hashed (UTF-8 content), no per-row Python
    sel = df.select(
        *key_cols,
        F.sha2(F.coalesce(F.col(content_col), F.lit("")), 256).alias("__sha256"),
        F.col(content_col).alias("__content"),
    )
    key_schema = [sel.schema[c] for c in key_cols]
    out_schema = signature_schema(key_schema)

    n_key = len(key_cols)  # batch layout: [*keys, __sha256, __content]
    sketch_type = params.sketch_type
    size = params.kmers_to_sketch
    final_size = params.final_size
    scale = params.scale
    n_bands, n_rows = lsh.n_bands, lsh.n_rows
    m = lsh.signature_len

    # Arrow's maxRecordsPerBatch is ROW-based; with 64 KiB documents a 20k-row
    # batch is ~1.2 GB of content and the shingle kernel allocates ~8 bytes
    # per content byte. Sub-batch by cumulative content BYTES so executor
    # memory stays bounded no matter how row/byte sizes skew.
    max_chunk_bytes = MAX_CHUNK_BYTES

    def _byte_chunks(batch):
        content = batch.column(n_key + 1)
        if isinstance(content, pa.ChunkedArray):
            content = content.combine_chunks()
        sizes = pa.compute.fill_null(
            pa.compute.binary_length(content.cast(pa.large_binary())), 0
        ).to_numpy(zero_copy_only=False)
        start = 0
        acc = 0
        for i, s in enumerate(sizes):
            acc += int(s)
            if acc >= max_chunk_bytes and i + 1 > start:
                yield batch.slice(start, i + 1 - start)
                start = i + 1
                acc = 0
        if start < batch.num_rows:
            yield batch.slice(start, batch.num_rows - start)

    def compute(batches):
        for full_batch in batches:
            if full_batch.num_rows == 0:
                continue
            yield from (_one(chunk) for chunk in _byte_chunks(full_batch))

    def _one(batch):
            n = batch.num_rows
            content = batch.column(n_key + 1)
            blob, byte_off = _string_blob(content)
            n_bytes = np.diff(byte_off)
            hashes, doc_off = blob_shingle_hashes(blob, byte_off, k, seed)
            n_kmers = np.diff(doc_off)
            doc_idx = np.repeat(np.arange(n, dtype=np.int64), n_kmers)

            gd, gh, gcounts, rank = segment_count_distinct(doc_idx, hashes, n)
            n_unique = np.bincount(gd, minlength=n).astype(np.int64)
            if sketch_type == "mash":
                # bottom-k then truncate to final_size (A4). Without filters
                # the two folds into one rank test; with filters the full
                # oversketched prefix must survive to the filter stage
                if filters is not None and filters.filter_on:
                    keep = rank < size
                else:
                    keep = rank < min(size, final_size)
            elif sketch_type == "scaled":
                max_hash = np.uint64(0xFFFFFFFFFFFFFFFF // int(1.0 / scale))
                keep = (gh <= max_hash) | (rank < size)
            else:
                raise ValueError(f"unsupported sketch_type {sketch_type}")
            kd, sk_h, sk_c = gd[keep], gh[keep], gcounts[keep]
            per_doc = np.bincount(kd, minlength=n).astype(np.int64)
            sk_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(per_doc, out=sk_off[1:])

            if filters is not None and filters.filter_on:
                from ..kernels.segfilter import segment_filter_counts

                # whole-batch segmented F1–F4 + truncation: equals the
                # reference's per-file filter_counts with a fresh params copy
                # per doc (`filtering.rs:20-24`), zero per-document Python
                sk_h, sk_c, _, sk_off = segment_filter_counts(
                    sk_h,
                    sk_c,
                    np.zeros(len(sk_h), np.int64),
                    sk_off,
                    filters,
                    final_size if sketch_type == "mash" else None,
                )

            # A4 strict-size surfacing (`sketch_schemes/mod.rs:115-128`): a
            # mash sketch shorter than final_size under strict mode is flagged
            # (not dropped) so the pipeline can count/route violations
            if sketch_type == "mash" and not params.no_strict:
                strict_viol = np.diff(sk_off) < final_size
            else:
                strict_viol = np.zeros(n, dtype=bool)

            sims = simhash64_batch(hashes, doc_off, None)
            oph = oph_signatures(hashes, doc_off, m)
            bands = band_hashes(oph, n_bands, n_rows, seed)
            # documents with no shingles get an EMPTY band list (they would
            # otherwise all collide into one mega-bucket)
            empty = n_kmers == 0
            bands_i64 = u64_to_i64_shifted(bands.reshape(-1)).reshape(n, n_bands)
            band_counts = np.where(empty, 0, n_bands).astype(np.int64)
            band_off = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(band_counts, out=band_off[1:])
            band_vals = bands_i64[~empty].reshape(-1)

            arrays = [batch.column(i) for i in range(n_key)]
            arrays += [
                batch.column(n_key),  # __sha256 passthrough (JVM-computed)
                pa.array(n_bytes, pa.int64()),
                pa.array(n_kmers, pa.int64()),
                pa.array(n_unique, pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(sk_off.astype(np.int32), pa.int32()),
                    pa.array(u64_to_i64_shifted(sk_h), pa.int64()),
                ),
                pa.ListArray.from_arrays(
                    pa.array(sk_off.astype(np.int32), pa.int32()),
                    # kernel counts saturate at u32::MAX for reference parity;
                    # clip to i32::MAX for the int32 storage column instead of
                    # letting the cast wrap negative
                    pa.array(
                        np.minimum(sk_c, 0x7FFFFFFF).astype(np.int32), pa.int32()
                    ),
                ),
                pa.array(sims.view(np.int64), pa.int64()),
                pa.ListArray.from_arrays(
                    pa.array(band_off.astype(np.int32), pa.int32()),
                    pa.array(band_vals, pa.int64()),
                ),
                pa.array(strict_viol, pa.bool_()),
            ]
            names = list(key_cols) + [
                "sha256",
                "n_bytes",
                "n_kmers",
                "n_unique",
                "hashes",
                "counts",
                "simhash",
                "bands",
                "strict_violation",
            ]
            return pa.RecordBatch.from_arrays(arrays, names)

    return sel.mapInArrow(compute, out_schema)
