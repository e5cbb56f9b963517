"""Structured Streaming near-dup detection through a TableStore: the
streamed pair set and signature store equal the batch operators' output for
any micro-batch split; a restarted query resumes from the checkpoint without
re-sketching or re-emitting; the continuously-maintained component map
equals batch CC and survives (or refuses) crashes between its writes."""
import pytest
from pyspark.sql import functions as F

from finchspark.config import PipelineConfig
from finchspark.kernels import SketchParams
from finchspark.operators.cc import connected_components
from finchspark.operators.lsh import candidate_pairs
from finchspark.operators.signature import build_signatures
from finchspark.operators.verify import verify_pairs
from finchspark.plans.checkpoint import TableStore
from finchspark.sources.synth import synth_documents
from finchspark.streaming.neardup import neardup_stream, store_latest_components
from tests.spark_jobs import jobs_per_batch

SCHEMA = "doc_id long, content string"


@pytest.fixture()
def cfg():
    return PipelineConfig(sketch=SketchParams(kmers_to_sketch=32, final_size=32))


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _synth_rows(n_base):
    docs, _ = synth_documents(n_base=n_base)
    return [(d["doc_id"], d["content"]) for d in docs]


def _stream(spark, src, chunks):
    """Append each chunk to `src` as its own file and return a stream over
    `src` reading one file per micro-batch."""
    src.mkdir(exist_ok=True)
    for chunk in chunks:
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))
    return spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        str(src)
    )


def _batch_pairs(spark, cfg, rows):
    """The batch LSH->verify pair set over `rows`."""
    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    cands, _ = candidate_pairs(sigs, cfg.lsh, key_col="doc_id")
    return verify_pairs(cands, sigs, cfg, key_col="doc_id").filter(
        F.col("jaccard") >= cfg.jaccard_threshold
    )


def _batch_components(spark, cfg, rows):
    pairs = _batch_pairs(spark, cfg, rows)
    return {
        (r["node"], r["component"])
        for r in connected_components(
            pairs.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        ).collect()
    }


def test_neardup_stream_matches_batch_lsh_stage(spark, cfg, tmp_path):
    """Streaming incremental near-dup over ANY micro-batch split == the
    batch LSH->verify pair set on the full corpus, with no duplicate pairs
    across epochs; the signature store == the batch signature operator."""
    rows = _synth_rows(36)
    store = TableStore(tmp_path / "store", cfg.params_hash())
    # three uneven micro-batches (each its own file + maxFilesPerTrigger=1)
    stream = _stream(spark, tmp_path / "incoming", (rows[:11], rows[11:40], rows[40:]))
    q = neardup_stream(
        stream, cfg, "signatures", "pairs", str(tmp_path / "ckpt"), table_store=store
    )
    q.awaitTermination(240)

    got_rows = store.read("pairs").collect()
    got = {(r["key_a"], r["key_b"]) for r in got_rows}
    assert len(got) == len(got_rows), "a pair was emitted by two epochs"
    assert {r["epoch_id"] for r in got_rows} != {0}, "expected >1 micro-batch"

    want = {(r["key_a"], r["key_b"]) for r in _batch_pairs(spark, cfg, rows).collect()}
    assert want, "fixture must plant near-dup pairs"
    assert got == want

    # store holds each signature exactly once, as the batch operator built it
    stored = store.read("signatures")
    assert stored.count() == len(rows)
    got_sigs = {r["doc_id"]: r for r in stored.collect()}
    want_sigs = {
        r["doc_id"]: r
        for r in build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",)).collect()
    }
    assert set(got_sigs) == set(want_sigs)
    for k in want_sigs:
        assert got_sigs[k]["sha256"] == want_sigs[k]["sha256"]
        assert got_sigs[k]["hashes"] == want_sigs[k]["hashes"]


def test_neardup_stream_resumes_without_duplicate_pairs(spark, cfg, tmp_path):
    """Stop after the first micro-batch, add files, restart on the same
    checkpoint: old docs are not re-sketched and no pair is re-emitted."""
    rows = _synth_rows(24)
    src = tmp_path / "incoming"
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(tmp_path / "store", cfg.params_hash())

    q = neardup_stream(
        _stream(spark, src, (rows[:15],)), cfg, "signatures", "pairs", ckpt,
        table_store=store,
    )
    q.awaitTermination(240)
    n_store_1 = store.read("signatures").count()
    assert n_store_1 == 15

    q2 = neardup_stream(
        _stream(spark, src, (rows[15:],)), cfg, "signatures", "pairs", ckpt,
        table_store=store,
    )
    q2.awaitTermination(240)

    assert store.read("signatures").count() == len(rows)  # no re-sketch
    got_rows = store.read("pairs").collect()
    got = {(r["key_a"], r["key_b"]) for r in got_rows}
    assert len(got) == len(got_rows)  # no duplicate pair across the restart
    # every planted cross-boundary pair was caught by the second run
    want = {(r["key_a"], r["key_b"]) for r in _batch_pairs(spark, cfg, rows).collect()}
    assert got == want


def test_neardup_stream_requires_table_store(cfg):
    """The TableStore is the only storage path: no store, no query."""
    with pytest.raises(TypeError, match="table_store"):
        neardup_stream(None, cfg, "signatures", "pairs", "ckpt")


def test_candidate_pairs_incremental_caps_store_buckets(spark, cfg):
    """A store-side mega-bucket above lsh.bucket_cap is excluded from the
    incremental probe (same skew discipline as the batch stage)."""
    from dataclasses import replace

    from finchspark.config import LshConfig
    from finchspark.operators.lsh import candidate_pairs_incremental

    body = "shared license header boilerplate text " * 8
    rows = [(i, body) for i in range(12)]  # identical -> one mega bucket
    sigs = build_signatures(_docs(spark, rows), cfg, key_cols=("doc_id",))
    new = sigs.filter("doc_id = 0")
    capped = replace(cfg, lsh=LshConfig(bucket_cap=4))
    assert candidate_pairs_incremental(new, sigs, capped.lsh).count() == 0
    uncapped = candidate_pairs_incremental(new, sigs, cfg.lsh)
    assert uncapped.count() == 11  # doc 0 paired with every other member


def _clustered_stream(spark, cfg, tmp_path, rows, store, compact_every):
    """Run `rows` as three micro-batches through a stream that maintains a
    component map, to completion; returns the finished query."""
    stream = _stream(spark, tmp_path / "incoming", (rows[:11], rows[11:40], rows[40:]))
    q = neardup_stream(
        stream,
        cfg,
        "signatures",
        "pairs",
        str(tmp_path / "ckpt"),
        components_path="components",
        compact_every=compact_every,
        table_store=store,
    )
    q.awaitTermination(240)
    return q


@pytest.mark.parametrize(
    "compact_every,layout",
    [
        # (base folded_epoch watermark, changelog epoch_ids)
        (8, (0, {1, 2})),  # base from epoch 0, then changelog-only
        (2, (2, set())),  # mid-stream compaction: base rewritten, log truncated
    ],
)
def test_neardup_stream_continuous_clustering(
    spark, cfg, tmp_path, compact_every, layout
):
    """With components_path set, the stream maintains the base + changelog
    component map incrementally per epoch (delta-bounded writes); the
    folded latest map equals the batch pipeline's LSH-path components over
    the full corpus, and the base watermark and changelog epochs match the
    compaction cadence."""
    rows = _synth_rows(36)
    store = TableStore(tmp_path / "store", cfg.params_hash())
    _clustered_stream(spark, cfg, tmp_path, rows, store, compact_every)

    watermark = store.read("components").select(F.max("folded_epoch")).first()[0]
    log_epochs = {
        r["epoch_id"] for r in store.read("components_delta").select("epoch_id").collect()
    }
    assert (watermark, log_epochs) == layout
    final, n_delta = store_latest_components(spark, store, "components")
    assert n_delta == len(log_epochs)
    got = {(r["node"], r["component"]) for r in final.collect()}

    want = _batch_components(spark, cfg, rows)
    assert want and got == want


def test_neardup_stream_epoch_cost(spark, cfg, tmp_path):
    """Per-epoch Spark jobs and tasks of the three-epoch clustered stream
    stay at what one materialization per multiply-read frame costs: the
    batch's signatures and the kept pairs are each checkpointed once, and
    the delta graph is counted on its checkpoint job and labelled once.
    Persisting the two frames instead (built lazily by one job per reader,
    one Python task per shuffle partition) runs 20/27/34 jobs and 41/60/84
    tasks."""
    store = TableStore(tmp_path / "store", cfg.params_hash())
    q = _clustered_stream(spark, cfg, tmp_path, _synth_rows(36), store, 8)
    cost = jobs_per_batch(spark, q)
    assert sorted(cost) == [0, 1, 2]
    for batch, (budget_jobs, budget_tasks) in enumerate([(15, 15), (19, 23), (26, 46)]):
        jobs, tasks = cost[batch]
        assert jobs <= budget_jobs and tasks <= budget_tasks, (batch, cost)


def test_neardup_stream_iceberg_store(spark, cfg, tmp_path, monkeypatch):
    """The streaming near-dup path routed entirely through a (mocked-
    catalog) IcebergTableStore: signatures and pairs are per-epoch V2
    appends, the component map is a base table + truncating changelog with
    mid-stream compaction, a second run RESUMES against the same store
    without re-sketching or re-emitting pairs, and the folded final map
    equals the batch pipeline's components over the full corpus."""
    from finchspark.plans.checkpoint import IcebergTableStore
    from tests.test_pipeline import _fake_v2_catalog

    calls, tables = _fake_v2_catalog(spark, tmp_path, monkeypatch)
    store = IcebergTableStore(
        tmp_path / "meta", cfg.params_hash(), namespace="finch.stream"
    )

    rows = _synth_rows(36)
    src = tmp_path / "incoming"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "doc_id long, content string"
    # run 1: two epochs (compact_every=2 -> the second epoch compacts)
    for chunk in (rows[:11], rows[11:40]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        cfg, "signatures", "pairs", ckpt,
        components_path="components", compact_every=2, table_store=store,
    )
    q.awaitTermination(240)
    assert store.read("signatures").count() == 40
    assert ("append", "finch.stream.signatures") in calls
    assert ("append", "finch.stream.pairs") in calls
    # epoch 0 created the base; epoch 1 appended to the changelog
    assert calls.count(("createOrReplace", "finch.stream.components")) == 1
    assert ("append", "finch.stream.components_delta") in calls
    assert store.read("components_delta").count() > 0

    # run 2 resumes on the same checkpoint + store: only new docs sketched
    _docs(spark, rows[40:]).coalesce(1).write.mode("append").parquet(str(src))
    store2 = IcebergTableStore(
        tmp_path / "meta", cfg.params_hash(), namespace="finch.stream"
    )
    q2 = neardup_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src)),
        cfg, "signatures", "pairs", ckpt,
        components_path="components", compact_every=2, table_store=store2,
    )
    q2.awaitTermination(240)
    assert store2.read("signatures").count() == len(rows)  # no re-sketch
    # run 2's epoch hit the compaction cadence: base rewritten, changelog
    # truncated via createOrReplace-empty
    assert calls.count(("createOrReplace", "finch.stream.components")) == 2
    assert store2.read("components_delta").count() == 0
    got_pairs = [
        (r["key_a"], r["key_b"]) for r in store2.read("pairs").collect()
    ]
    assert len(got_pairs) == len(set(got_pairs))  # no duplicate pair

    final, _ = store_latest_components(spark, store2, "components")
    got = {(r["node"], r["component"]) for r in final.collect()}
    want = _batch_components(spark, cfg, rows)
    assert want and got == want
    assert set(got_pairs) == {
        (r["key_a"], r["key_b"]) for r in _batch_pairs(spark, cfg, rows).collect()
    }


def test_torn_compaction_raises(spark, cfg, tmp_path):
    """A crash INSIDE a compaction's base overwrite leaves the changelog but
    no base: a parquet overwrite deletes the stage directory, its
    `_finch_meta.json` included. Folding must refuse loudly, and a retried
    epoch must fail rather than rebuild the base from its own edges alone
    (which would silently drop every earlier label) and must append none
    of its pairs however often it is restarted."""
    rows = _synth_rows(24)
    src = tmp_path / "incoming"
    ckpt = str(tmp_path / "ckpt")
    store = TableStore(tmp_path / "store", cfg.params_hash())

    def run(chunks):
        return neardup_stream(
            _stream(spark, src, chunks), cfg, "signatures", "pairs", ckpt,
            components_path="components", table_store=store,
        )

    run((rows[:12], rows[12:20])).awaitTermination(240)
    assert store.exists("components") and store.exists("components_delta")
    (tmp_path / "store" / "components" / "_finch_meta.json").unlink()

    with pytest.raises(RuntimeError, match="torn compaction") as err:
        store_latest_components(spark, store, "components")
    assert "'components'" in str(err.value)
    assert "'components_delta'" in str(err.value)

    # the failing epoch, then two restarts of it from the same checkpoint:
    # each fails in the component step, before its pairs append
    n_pairs = store.read("pairs").count()
    for chunks in ((rows[20:],), (), ()):
        with pytest.raises(Exception, match="torn compaction"):
            run(chunks).awaitTermination(240)
    assert not store.exists("components")
    assert store.read("pairs").count() == n_pairs


def test_compaction_crash_window_is_noop(spark, tmp_path):
    """A crash BETWEEN the two compaction writes (new base committed,
    changelog not yet truncated) must degrade to a no-op fold: the base's
    in-table folded_epoch watermark makes store_latest_components ignore
    every leftover delta row with epoch_id <= watermark, so stale
    pre-compaction labels can never override the fresh base."""
    store = TableStore(tmp_path / "meta", params_hash="t")
    # fresh base as the compaction at epoch 5 wrote it (watermark IN-table)
    base = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10)], "node long, component long"
    ).withColumn("folded_epoch", F.lit(5).cast("long"))
    store.write("components", base)
    # the crash left the pre-compaction changelog in place: stale labels
    # from epochs <= 5 (already folded into the base) plus one genuinely
    # newer epoch-6 delta
    delta = spark.createDataFrame(
        [(1, 99, 3), (2, 99, 4), (3, 30, 6), (4, 30, 6)],
        "node long, component long, epoch_id long",
    )
    store.write("components_delta", delta)

    folded, n_delta = store_latest_components(spark, store, "components")
    assert "folded_epoch" not in folded.columns
    got = {(r["node"], r["component"]) for r in folded.collect()}
    # stale epoch-3/4 rows ignored; epoch-6 delta applied
    assert got == {(1, 10), (2, 10), (3, 30), (4, 30)}
    assert n_delta == 1  # only the post-watermark epoch counts


def test_changelog_epoch_id_is_always_long(spark, tmp_path, cfg):
    """Every epoch_id written by the streaming table-store path is int64:
    mixed int32/int64 parquet files for one column make the vectorized
    reader schema-dependent on file listing order (round-5 ADVICE)."""
    store = TableStore(tmp_path / "meta", cfg.params_hash())
    rows = [
        (i, f"streamed document body {i % 4} with shared text " * 6)
        for i in range(24)
    ]
    src = tmp_path / "incoming"
    src.mkdir()
    for chunk in (rows[:12], rows[12:]):
        _docs(spark, chunk).coalesce(1).write.mode("append").parquet(str(src))
    q = neardup_stream(
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src)),
        cfg,
        "signatures",
        "pairs",
        str(tmp_path / "ckpt"),
        components_path="components",
        compact_every=10,  # never compacts: both epochs append deltas
        table_store=store,
    )
    q.awaitTermination(240)
    for stage in ("pairs", "components_delta"):
        df = store.read(stage)
        assert dict(df.dtypes)["epoch_id"] == "bigint", stage
    assert dict(store.read("components").dtypes)["folded_epoch"] == "bigint"
