"""Incremental streaming near-duplicate detection (SURVEY.md §2.7).

The production loop on Structured Streaming: every micro-batch of new
documents is sketched, banded, and joined against the ACCUMULATED signature
store, so verified near-dup pairs stream out as documents arrive — old
documents are never re-sketched and old×old pairs are never recomputed.

Exactly-once pair semantics (at the logical level): a pair (x, y) is
emitted by precisely one micro-batch — the one in which its later member
arrives — because `candidate_pairs_incremental` only generates pairs with
at least one new member (see `operators/lsh.py`). Equivalence with the batch
LSH→verify stage over the same corpus (same config ⇒ same verified pair
set, for any split of the corpus into micro-batches, in any order) is
property-tested in `tests/test_streaming.py`; the batch pipeline's
SimHash short-doc fallback and sha256 exact-dup safety net remain batch
compactions over the store, exactly as in the bounded pipeline.

Storage: every write goes through one `plans.checkpoint.TableStore`
(parquet locally, `IcebergTableStore` against a catalog), so the stream
inherits the store's params-hash resume gate and per-write lineage.
Micro-batch progress is tracked by the Structured Streaming checkpoint, so a
restart resumes at the failed epoch; the appends themselves are
transactional only on a table format that makes them so (Iceberg/Delta).
An epoch writes its component map first, then its pairs, then its
signatures, so an epoch that fails in the component step appends no pairs
and retrying it cannot duplicate them (a retried component step folds the
same edges again, which changes no label). The one window left is a crash
between the pairs append and the store append: its retry appends that
epoch's pairs again on parquet.

Clustering: pass `components_path` for a CONTINUOUSLY-MAINTAINED component
map — each epoch's verified pairs are contracted into the previous map via
`cc.connected_components_incremental` (provably identical to a full
recompute; per-epoch compute bounded by the delta, not the corpus). The map
is a base table plus an append-only `<stage>_delta` changelog holding ONLY
each epoch's changed rows (new nodes + relabelled members of touched
components), so per-epoch WRITE volume is also delta-bounded; every
`compact_every` epochs the folded map replaces the base and the changelog is
truncated. `store_latest_components` folds the changelog over the base; on
a real catalog the changelog becomes a MERGE source. Without
`components_path`, clustering stays a periodic batch compaction
(`operators.cc.connected_components` over the pairs table).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..config import PipelineConfig
from ..operators.lsh import candidate_pairs_incremental
from ..operators.signature import build_signatures
from ..operators.verify import verify_pairs
from ..plans.checkpoint import TableStore


def store_latest_components(spark, table_store, stage: str):
    """(DataFrame | None, n_delta_epochs): the component map maintained in a
    TableStore as BASE table `stage` + append-only changelog `stage`_delta:
    fold = base overridden per node by the latest-epoch delta row, for delta
    rows STRICTLY NEWER than the base's `folded_epoch` watermark.

    Crash-safety: compaction is two writes (replace base, truncate
    changelog) and a crash between them leaves the new base plus the
    pre-compaction delta rows. The watermark column — written atomically
    WITH the base data in the same table commit — makes that state a no-op:
    every leftover delta row has epoch_id <= folded_epoch and is ignored, so
    a half-finished compaction degrades to "changelog not yet truncated"
    instead of stale deltas overriding fresh base labels.

    A crash INSIDE the base overwrite is not recoverable from the store: a
    parquet overwrite deletes the stage directory, `_finch_meta.json`
    included, so the base reads as missing while the changelog (always
    written after the base) is present. Rebuilding from the retried epoch's
    edges alone would silently drop every earlier label, so that state
    raises instead."""
    from pyspark.sql.window import Window

    delta_stage = f"{stage}_delta"
    if not table_store.exists(stage):
        if table_store.exists(delta_stage):
            raise RuntimeError(
                f"torn compaction: changelog stage '{delta_stage}' exists but "
                f"base stage '{stage}' does not (a crash inside the base "
                "overwrite); the component map cannot be rebuilt from the "
                "changelog alone — recompute it in batch from the pairs stage"
            )
        return None, 0
    base = table_store.read(stage)
    # -1 for an empty base (a first epoch without pairs)
    watermark = base.select(
        F.coalesce(F.max("folded_epoch"), F.lit(-1))
    ).first()[0]
    base = base.drop("folded_epoch")
    if not table_store.exists(delta_stage):
        return base, 0
    d = table_store.read(delta_stage).filter(F.col("epoch_id") > watermark)
    epochs = [r["epoch_id"] for r in d.select("epoch_id").distinct().collect()]
    if not epochs:
        return base, 0
    w = Window.partitionBy("node").orderBy(F.col("epoch_id").desc())
    latest = (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node", "component")
    )
    folded = base.join(latest.select("node"), "node", "left_anti").unionByName(
        latest
    )
    return folded, len(epochs)


def neardup_stream(
    stream_df: DataFrame,
    config: PipelineConfig,
    store_path: str,
    pairs_path: str,
    checkpoint_path: str,
    key_cols: tuple[str, ...] = ("doc_id",),
    content_col: str = "content",
    filters=None,
    available_now: bool = True,
    components_path: str | None = None,
    compact_every: int = 8,
    *,
    table_store: TableStore,
) -> StreamingQuery:
    """Start the incremental near-dup query.

    Per micro-batch: build signatures for the new documents → generate
    candidates (new × store∪new) → exact-verify → fold the pairs with
    `jaccard >= config.jaccard_threshold` into the component map (when
    `components_path` is set) → append them to `pairs_path` → append the
    new signatures to `store_path`. The pairs append runs AFTER the
    component step, so a failure there appends no pairs and a retry cannot
    duplicate them; a crash between the pairs append and the store append
    is the one window in which a retry appends that epoch's pairs again
    (module docstring). Both run BEFORE the store append so the store-side
    read of this epoch never observes this epoch's own rows twice.

    `stream_df`: any streaming DataFrame carrying key_cols + content_col.
    With `available_now=True` the query drains what is currently available
    and stops (incremental-compaction mode); False = continuous.

    `table_store` (required): the `plans.checkpoint.TableStore` every write
    goes through (e.g. `IcebergTableStore` against a real catalog).
    `store_path`/`pairs_path`/`components_path` are STAGE NAMES in it, so
    each write gets the store's params-hash resume gate and per-write
    lineage metrics: signatures and pairs are per-epoch appends; the
    component map is a base table + append-only `<stage>_delta` changelog
    truncated every `compact_every` epochs (module docstring).
    """
    key_col = key_cols[0]

    def _emit(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # the batch's signatures (read by the probe, verify and the store
        # append) and the kept pairs (read by the CC and the pairs append)
        # are each computed once, by an eager localCheckpoint: one job whose
        # AQE-coalesced shuffles run the Python UDF in few tasks. A persist()
        # keeps all shuffle partitions of the cached plan (one Python task
        # each) and is built by one job per reader. Spark's ContextCleaner
        # frees the blocks at the first driver GC after the frames become
        # unreachable, as for the component map's checkpoints.
        new_sigs = build_signatures(
            batch_df,
            config,
            key_cols=key_cols,
            content_col=content_col,
            filters=filters,
        ).localCheckpoint(eager=True)
        have_store = table_store.exists(store_path)
        all_sigs = (
            table_store.read(store_path).unionByName(new_sigs)
            if have_store
            else new_sigs
        )
        cands = candidate_pairs_incremental(new_sigs, all_sigs, config.lsh, key_col)
        pairs = verify_pairs(cands, all_sigs, config, key_col=key_col)
        kept = pairs.filter(
            F.col("jaccard") >= config.jaccard_threshold
        ).localCheckpoint(eager=True)
        # always cast("long"): F.lit(int) is int32 for small epochs, and
        # the store refuses an append whose types differ from the
        # stage's pinned schema (one column in int32 and int64 files)
        epoch_l = F.lit(int(epoch_id)).cast("long")
        if components_path is not None:
            from ..operators.cc import connected_components_incremental

            delta_stage = f"{components_path}_delta"
            prev, n_delta = store_latest_components(
                spark, table_store, components_path
            )
            full, changed = connected_components_incremental(
                prev,
                kept.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst")),
            )
            if prev is None or n_delta + 1 >= compact_every:
                # first epoch or compaction: rewrite the base (carrying
                # the folded_epoch watermark in the same commit), then
                # truncate the changelog to empty with the final schema.
                # A crash between the two writes is safe: leftover delta
                # rows all have epoch_id <= the new watermark and are
                # ignored on the next fold (store_latest_components).
                # localCheckpoint breaks the plan's lineage through the
                # table being replaced (real Iceberg pins the read
                # snapshot; a parquet-backed store would otherwise read
                # its own overwrite)
                full = full.localCheckpoint(eager=True)
                table_store.write(
                    components_path,
                    full.withColumn("folded_epoch", epoch_l),
                )
                table_store.write(
                    delta_stage,
                    full.limit(0).withColumn("epoch_id", F.lit(0).cast("long")),
                )
            else:
                table_store.write(
                    delta_stage,
                    changed.localCheckpoint(eager=True).withColumn(
                        "epoch_id", epoch_l
                    ),
                    mode="append",
                )
        # pairs append AFTER the component step, so an epoch that fails
        # there appends nothing and its retry cannot duplicate pairs
        table_store.write(
            pairs_path, kept.withColumn("epoch_id", epoch_l), mode="append"
        )
        table_store.write(store_path, new_sigs, mode="append")

    writer = (
        stream_df.writeStream.foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
