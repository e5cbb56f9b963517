"""End-to-end near-duplicate pipeline: recall vs brute-force reference,
cluster assignment parity, checkpoint/resume semantics."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from finchspark.config import PipelineConfig
from finchspark.kernels import SketchParams
from finchspark.plans.checkpoint import ParamsMismatch, TableStore
from finchspark.plans.pipeline import near_duplicates
from tests.conftest import brute_force_pairs, union_find_components
from tests.spark_jobs import jobs_run

THRESH = 0.8


@pytest.fixture(scope="module")
def cfg():
    return PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=128, final_size=128),
        jaccard_threshold=THRESH,
    )


@pytest.fixture(scope="module")
def result(spark, documents_df, cfg):
    return near_duplicates(documents_df, cfg, key_col="doc_id")


@pytest.fixture(scope="module")
def reference(corpus, cfg):
    docs, _ = corpus
    return brute_force_pairs(docs, cfg.sketch, THRESH)


def test_pair_recall_ge_099(result, reference):
    got = {
        (r["key_a"], r["key_b"])
        for r in result.pairs.select("key_a", "key_b").collect()
    }
    missed = reference - got
    recall = 1 - len(missed) / max(len(reference), 1)
    assert len(reference) > 20, "fixture should plant a meaningful pair set"
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:10]}"


def test_pair_precision_exact_verify(result, reference, corpus, cfg):
    """Every emitted pair's jaccard must equal the brute-force kernel value
    (verification is exact, so no false positives above threshold)."""
    docs, _ = corpus
    got = {
        (r["key_a"], r["key_b"])
        for r in result.pairs.select("key_a", "key_b").collect()
    }
    assert got <= reference, f"false positives: {sorted(got - reference)[:10]}"


def test_planted_exact_pairs_found(result, corpus):
    _, truth = corpus
    comp = {r["node"]: r["component"] for r in result.components.collect()}
    for a, b, label in truth:
        if label.startswith("exact"):
            assert comp.get(a, a) == comp.get(b, b), (a, b, label)


def test_components_match_union_find(result, corpus, reference):
    """Cluster assignments = transitive closure of (brute-force near-dup
    pairs ∪ exact sha pairs ∪ simhash short pairs). The pipeline's components
    must induce the same partition on the nodes covered by `reference`."""
    docs, _ = corpus
    comp_rows = {r["node"]: r["component"] for r in result.components.collect()}
    # edges the pipeline is expected to recover: reference near-dup pairs
    expect = union_find_components(len(docs), reference)
    # compare partition restricted to nodes that appear in reference pairs
    nodes = sorted({n for p in reference for n in p})
    for n in nodes:
        assert n in comp_rows, f"node {n} missing from components"
    # same-cluster relation must match on reference nodes (pipeline may add
    # extra edges from the simhash/exact paths, which only merge clusters
    # of identical/near-identical short docs — restrict to reference nodes)
    for i in nodes:
        for j in nodes:
            if i < j:
                same_ref = expect[i] == expect[j]
                same_got = comp_rows[i] == comp_rows[j]
                if same_ref:
                    assert same_got, (i, j)


def test_short_doc_exact_pair_clustered(result, corpus):
    docs, truth = corpus
    comp = {r["node"]: r["component"] for r in result.components.collect()}
    short_pairs = [(a, b) for a, b, lab in truth if lab == "exact_short"]
    for a, b in short_pairs:
        assert comp.get(a, a) == comp.get(b, b)


def test_checkpoint_resume_and_params_guard(spark, documents_df, cfg, tmp_path):
    store = TableStore(tmp_path / "ckpt", cfg.params_hash())
    r1 = near_duplicates(documents_df, cfg, store=store)
    n_pairs = r1.pairs.count()
    meta = store.read_meta("signatures")
    assert meta["params_hash"] == cfg.params_hash()
    # resume: same store, recompute object — stages must be READ, not rebuilt
    r2 = near_duplicates(documents_df.limit(0), cfg, store=store)
    assert r2.pairs.count() == n_pairs  # read from checkpoint despite empty input
    # params change -> hard fail (G4 semantics)
    cfg2 = PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=64, final_size=64),
        jaccard_threshold=THRESH,
    )
    store2 = TableStore(tmp_path / "ckpt", cfg2.params_hash())
    with pytest.raises(ParamsMismatch):
        near_duplicates(documents_df, cfg2, store=store2)


def test_simhash_chunk_bucket_cap(spark, cfg):
    """A mega-bucket on one 16-bit chunk value is dropped from pair
    generation and surfaced as metrics; pairs sharing an uncapped chunk are
    still emitted (same skew discipline as the MinHash LSH stage)."""
    from dataclasses import replace

    from finchspark.config import LshConfig
    from finchspark.plans.pipeline import simhash_candidate_pairs

    rows = []
    # docs 1..10 all share chunk0 = 0xAAAA; chunks 1-3 are distinct per doc
    for i in range(1, 11):
        rows.append((i, 5, (i << 48) | (i << 32) | (i << 16) | 0xAAAA))
    # x,y share chunks 1-3 and differ by one bit in chunk0 -> hamming 1
    rows.append((100, 5, (0x700D << 48) | (0xCAFE << 32) | (0xBEEF << 16) | 0x1111))
    rows.append((101, 5, (0x700D << 48) | (0xCAFE << 32) | (0xBEEF << 16) | 0x1110))
    sigs = spark.createDataFrame(rows, "doc_id long, n_kmers long, simhash long")
    capped_cfg = replace(cfg, lsh=LshConfig(bucket_cap=4))
    pairs, overflow = simhash_candidate_pairs(sigs, capped_cfg, with_metrics=True)
    got = {(r["key_a"], r["key_b"]) for r in pairs.collect()}
    assert got == {(100, 101)}
    ov = overflow.collect()
    assert len(ov) == 1
    assert (ov[0]["chunk_id"], ov[0]["chunk_val"], ov[0]["bucket_size"]) == (
        0,
        0xAAAA,
        10,
    )
    # uncapped config still finds the near pairs inside the big bucket
    full = simhash_candidate_pairs(sigs, cfg)
    got_full = {(r["key_a"], r["key_b"]) for r in full.collect()}
    assert (100, 101) in got_full
    assert (1, 3) in got_full  # hamming 3 via the shared chunk0


def test_mega_bucket_capped_and_clustered_by_sha(spark, cfg):
    """2,500 byte-identical documents fill every LSH band bucket past the
    default cap of 2000: the buckets are reported as overflow, the sha256
    path still puts all 2,500 in one component, and no pair is a
    self-pair."""
    rng = np.random.default_rng(11)

    def text():
        return "".join(rng.choice(list("abcdefghij ;{}()"), size=600))

    same = text()
    near = text()
    rows = [(i, same) for i in range(2500)]
    rows += [(5000 + i, text()) for i in range(3)]
    rows += [(6000, near), (6001, near[:300] + "X" + near[301:])]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    res = near_duplicates(docs, cfg, key_col="doc_id")

    overflow = res.bucket_overflow.collect()
    assert {r["band_id"] for r in overflow} == set(range(cfg.lsh.n_bands))
    assert {r["bucket_size"] for r in overflow} == {2500}
    comp = {r["node"]: r["component"] for r in res.components.collect()}
    assert {comp[i] for i in range(2500)} == {0}
    pairs = [(r["key_a"], r["key_b"]) for r in res.pairs.collect()]
    assert all(a < b for a, b in pairs)
    assert (6000, 6001) in pairs


def test_tablestore_format_pluggable(spark, tmp_path):
    """The stage store works over any Spark DataSource format — ORC here as
    the second real format (the Iceberg path swaps write/read only)."""
    from finchspark.plans.checkpoint import TableStore

    store = TableStore(tmp_path / "orc_store", "hash1", fmt="orc")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    store.write("stage1", df)
    got = {(r["k"], r["v"]) for r in store.read("stage1").collect()}
    assert got == {(1, "a"), (2, "b")}
    assert store.read_meta("stage1")["row_count"] == 2
    assert store.exists("stage1")


def test_collapse_exact_same_components(spark, documents_df, cfg, result):
    """collapse_exact=True must produce the same component map as the
    default pipeline (precondition: no LSH bucket cap fired, which the
    default run's overflow frame confirms), while sketching only the
    sha-distinct representatives."""
    collapsed = near_duplicates(
        documents_df, cfg, key_col="doc_id", collapse_exact=True
    )
    assert result.bucket_overflow.count() == 0  # equivalence precondition
    want = {(r["node"], r["component"]) for r in result.components.collect()}
    got = {(r["node"], r["component"]) for r in collapsed.components.collect()}
    assert got == want
    # representatives only were sketched: every sha appears exactly once
    n_sigs = collapsed.signatures.count()
    n_distinct_sha = documents_df.select(F.sha2("content", 256)).distinct().count()
    assert n_sigs == n_distinct_sha < documents_df.count()


def test_tablestore_partition_metrics(spark, documents_df, cfg, tmp_path):
    """Stage meta carries per-partition lineage metrics: counts per writing
    partition sum to row_count, and the skew ratio is reported."""
    from finchspark.plans.checkpoint import TableStore

    store = TableStore(tmp_path / "store", cfg.params_hash())
    df = documents_df.select("doc_id").repartition(4)
    out = store.write("probe", df)
    assert out.count() == documents_df.count()
    meta = store.read_meta("probe")
    assert meta["n_partitions"] == 4
    assert sum(meta["partition_rows"].values()) == meta["row_count"]
    assert meta["partition_rows_max"] >= meta["partition_rows_mean"]
    assert meta["partition_skew"] >= 1.0


def test_collapse_exact_null_content_not_dropped(spark, cfg):
    """ADVICE r3: collapse_exact keyed on sha2(content) WITHOUT the
    coalesce-to-'' that build_signatures uses, so NULL-content docs fell out
    of the __sha equi-join and silently vanished from signatures AND
    components. They must instead cluster with empty-string docs (as in
    default mode)."""
    rows = [
        ("n1", None),
        ("n2", None),
        ("e1", ""),
        ("x1", "some unique content " * 8),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, content string")
    res = near_duplicates(docs, cfg, key_col="doc_id", collapse_exact=True)
    comp = {r["node"]: r["component"] for r in res.components.collect()}
    # all three empty/null docs present and in ONE component
    assert {"n1", "n2", "e1"} <= set(comp)
    assert comp["n1"] == comp["n2"] == comp["e1"]
    # and the default mode agrees
    res_default = near_duplicates(docs, cfg, key_col="doc_id")
    comp_d = {r["node"]: r["component"] for r in res_default.components.collect()}
    assert comp_d["n1"] == comp_d["n2"] == comp_d["e1"]
    # exactly one representative signature exists for the null/empty group
    assert res.signatures.count() == 2  # {null/empty group rep, x1}


def test_tablestore_append_lineage_per_write(spark, cfg, tmp_path):
    """ADVICE r3: append-mode lineage grouped the WHOLE table on
    _partition_id, conflating partition ids across independent writes. The
    metrics must now describe the CURRENT write only, while row_count stays
    cumulative."""
    store = TableStore(tmp_path / "store", cfg.params_hash())
    df1 = spark.range(100).repartition(4)
    df2 = spark.range(100, 160).repartition(2)
    store.write("s", df1, mode="append")
    assert store.read_meta("s")["count_source"] == "counted"  # no prior meta
    store.write("s", df2, mode="append")
    meta = store.read_meta("s")
    assert meta["row_count"] == 160  # cumulative
    assert meta["count_source"] == "folded"  # previous meta's count + 60
    assert meta["write_row_count"] == 60  # this write only
    assert meta["n_partitions"] == 2  # df2's partitioning, not 4+2 conflated
    assert sum(meta["partition_rows"].values()) == 60
    assert store.read("s").count() == 160
    assert set(store.read("s").columns) == {"id"}
    # a compaction-style overwrite recounts
    store.write("s", store.read("s").localCheckpoint(eager=True).coalesce(1))
    meta = store.read_meta("s")
    assert (meta["row_count"], meta["count_source"]) == (160, "counted")


def test_tablestore_write_id_unique_across_resume(spark, cfg, tmp_path):
    """ADVICE r4: a resumed process constructing a TableStore with the SAME
    explicit run_id restarted the per-instance seq at 1 and reused write ids
    already in the table, conflating per-write skew metrics. write_id now
    carries a per-instance uuid component, so ids from the two runs are
    disjoint and the second run's metrics describe only its own rows."""
    store1 = TableStore(tmp_path / "store", cfg.params_hash(), run_id="run-x")
    store1.write("s", spark.range(100).repartition(4), mode="append")
    id1 = store1.read_meta("s")["write_id"]
    # simulated restart: same run_id, fresh instance, seq restarts at 1
    store2 = TableStore(tmp_path / "store", cfg.params_hash(), run_id="run-x")
    store2.write("s", spark.range(100, 160).repartition(2), mode="append")
    meta = store2.read_meta("s")
    assert meta["write_id"] != id1
    assert meta["row_count"] == 160  # cumulative
    assert meta["write_row_count"] == 60  # NOT conflated with run 1's rows
    assert meta["n_partitions"] == 2


def test_tablestore_one_job_per_write(spark, cfg, tmp_path):
    """A stage write is one Spark job (the save: the row count is observed
    on it, the per-partition split read from its task metrics) and a stage
    read is none (the schema comes from the meta, not from inference)."""
    store = TableStore(tmp_path / "store", cfg.params_hash())
    df = spark.range(1000).repartition(3).persist()
    df.count()
    try:
        assert jobs_run(spark, lambda: store.write("s", df))[0] == 1
        assert jobs_run(spark, lambda: store.write("s", df, mode="append"))[0] == 1
        assert jobs_run(spark, lambda: store.write("t", df, mode="append"))[0] == 1
        meta = store.read_meta("t")
        assert (meta["row_count"], meta["count_source"]) == (1000, "counted")
        assert sorted(meta["partition_rows"].values()) == [333, 333, 334]
        assert jobs_run(spark, lambda: store.read("s"))[0] == 0
        n, got = jobs_run(spark, lambda: store.get_or_compute("s", lambda: 1 / 0))
        assert n == 0 and got.columns == ["id"]
        assert store.read_meta("s")["row_count"] == got.count() == 2000
    finally:
        df.unpersist()


def test_tablestore_append_must_match_pinned_schema(spark, cfg, tmp_path):
    """An append whose column types differ from the stage's pinned schema
    (an int32 epoch id onto an int64 one) raises before writing anything;
    nullability alone is no mismatch."""
    store = TableStore(tmp_path / "store", cfg.params_hash())
    store.write("s", spark.range(10).withColumn("epoch_id", F.lit(0).cast("long")))
    store.write(
        "s",
        spark.createDataFrame([(10, 1)], "id long not null, epoch_id long not null"),
        mode="append",
    )
    with pytest.raises(ValueError, match=r"stage 's'.*epoch_id: bigint -> int"):
        store.write(
            "s", spark.range(20, 25).withColumn("epoch_id", F.lit(2)), mode="append"
        )
    extra = spark.range(1).withColumn("epoch_id", F.lit(3).cast("long"))
    with pytest.raises(ValueError, match=r"extra: \(absent\) -> string"):
        store.write("s", extra.withColumn("extra", F.lit("x")), mode="append")
    assert store.read_meta("s")["row_count"] == store.read("s").count() == 11


def test_tablestore_meta_edge_frames(spark, cfg, tmp_path):
    """An empty write lists no partition; a frame with empty partitions
    lists only those that wrote rows."""
    store = TableStore(tmp_path / "store", cfg.params_hash())
    store.write("empty", spark.range(0))
    meta = store.read_meta("empty")
    assert (meta["n_partitions"], meta["partition_skew"]) == (0, 0.0)
    assert (meta["row_count"], meta["partition_rows"]) == (0, {})
    assert store.read("empty").count() == 0
    store.write("sparse", spark.range(3).repartition(8))
    meta = store.read_meta("sparse")
    assert meta["n_partitions"] == len(meta["partition_rows"]) < 8
    assert sum(meta["partition_rows"].values()) == meta["write_row_count"] == 3
    assert all(v > 0 for v in meta["partition_rows"].values())


def test_tablestore_meta_without_schema_is_inferred(spark, cfg, tmp_path):
    """A stage whose meta records no schema (written before the store
    recorded it) is read with inference, and appends to it are unchecked."""
    import json

    store = TableStore(tmp_path / "store", cfg.params_hash())
    store.write("s", spark.range(5))
    meta_file = tmp_path / "store" / "s" / "_finch_meta.json"
    meta = json.loads(meta_file.read_text())
    del meta["schema"]
    meta_file.write_text(json.dumps(meta))
    assert store.read("s").columns == ["id"]
    store.write("s", spark.range(5, 8), mode="append")
    assert "schema" not in store.read_meta("s")
    assert store.read_meta("s")["row_count"] == store.read("s").count() == 8


def test_tablestore_read_schema_is_inferred_schema(spark, cfg, tmp_path):
    """The schema a stage read passes instead of inferring equals what
    parquet inference returns, for every pipeline stage."""
    rows = [(i, f"def f{i % 3}(x):\n    return x * {i % 3} + 1\n" * 4) for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, content string")
    store = TableStore(tmp_path / "store", cfg.params_hash())
    near_duplicates(docs, cfg, store=store)
    for stage in ("signatures", "pairs", "components"):
        inferred = spark.read.parquet(str(tmp_path / "store" / stage))
        assert store.read(stage).schema == inferred.drop(
            "_partition_id", "_write_id"
        ).schema, stage


def _fake_v2_catalog(spark, tmp_path, monkeypatch):
    """Mock a V2 catalog with a parquet-backed fake recording each
    DataFrameWriterV2 call; returns (calls, tables). Patches the CONCRETE
    classes (pyspark 4 routes through pyspark.sql.classic subclasses; the
    abstract bases are never hit)."""
    calls = []
    tables = {}  # catalog table name -> backing parquet path

    class FakeV2Writer:
        def __init__(self, df, name):
            self.df, self.name = df, name

        def using(self, fmt):
            calls.append(("using", self.name, fmt))
            return self

        def createOrReplace(self):
            calls.append(("createOrReplace", self.name))
            p = str(tmp_path / "wh" / self.name.replace(".", "_"))
            self.df.write.mode("overwrite").parquet(p)
            tables[self.name] = p

        def append(self):
            calls.append(("append", self.name))
            self.df.write.mode("append").parquet(tables[self.name])

    monkeypatch.setattr(
        type(spark.range(1)), "writeTo", lambda self, name: FakeV2Writer(self, name)
    )
    monkeypatch.setattr(
        type(spark.read), "table", lambda self, name: spark.read.parquet(tables[name])
    )
    monkeypatch.setattr(
        type(spark.catalog),
        "tableExists",
        lambda self, name, dbName=None: name in tables,
    )
    return calls, tables


def test_iceberg_store_v2_calls(spark, cfg, tmp_path, monkeypatch):
    """IcebergTableStore issues the exact DataFrameWriterV2 call sequence
    (writeTo(ns.stage).using(fmt).createOrReplace()/append(), read via
    spark.read.table) and inherits the params-hash resume gate + per-write
    lineage. No Iceberg jars in-sandbox, so the catalog is mocked with a
    parquet-backed fake recording each V2 call."""
    from finchspark.plans.checkpoint import IcebergTableStore

    calls, tables = _fake_v2_catalog(spark, tmp_path, monkeypatch)

    store = IcebergTableStore(
        tmp_path / "meta", cfg.params_hash(), namespace="finch.neardup"
    )
    out = store.write("signatures", spark.range(50).repartition(4))
    assert out.count() == 50
    assert ("using", "finch.neardup.signatures", "parquet") in calls
    assert ("createOrReplace", "finch.neardup.signatures") in calls

    store.write("signatures", spark.range(50, 60).repartition(2), mode="append")
    assert ("append", "finch.neardup.signatures") in calls
    meta = store.read_meta("signatures")
    assert meta["row_count"] == 60 and meta["write_row_count"] == 10
    assert meta["n_partitions"] == 2
    assert sum(meta["partition_rows"].values()) == meta["write_row_count"]

    ran = {"compute": False}

    def compute():
        ran["compute"] = True
        return spark.range(5)

    got = store.get_or_compute("signatures", compute)  # resume, no recompute
    assert not ran["compute"] and got.count() == 60
    assert set(got.columns) == {"id"}  # lineage tags stripped on read

    other = IcebergTableStore(tmp_path / "meta", "other-hash", namespace="finch.neardup")
    with pytest.raises(ParamsMismatch):
        other.get_or_compute("signatures", compute)


def test_spark_submit_pyfiles_multi_executor(tmp_path):
    """The north rule's deployment sentence, literally: `spark-submit
    --py-files dist/finchspark.zip` against a MULTI-EXECUTOR master
    (local-cluster[2,2,mem]: two real executor JVMs, network-stack shuffle,
    python workers importing finchspark FROM THE ZIP — executorEnv
    PYTHONPATH points at the zip, not the repo). Asserts the run completes
    and the component/pair outputs match the known sf0.001 truth."""
    import os
    import subprocess
    import sys

    import duckdb
    import pyspark

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark_home = os.path.dirname(pyspark.__file__)
    subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "make_pyfiles.py")],
        check=True, capture_output=True,
    )
    zip_path = os.path.join(repo, "dist", "finchspark.zip")
    out = str(tmp_path / "run")
    env = dict(os.environ, SPARK_HOME=spark_home, SPARK_LOCAL_IP="127.0.0.1")
    res = subprocess.run(
        [
            os.path.join(spark_home, "bin", "spark-submit"),
            "--master", "local-cluster[2,2,2560]",
            "--conf", "spark.executor.memory=2g",
            "--conf", "spark.ui.enabled=false",
            "--conf", f"spark.executorEnv.PYTHONPATH={zip_path}",
            "--py-files", zip_path,
            os.path.join(repo, "scripts", "submit_pipeline.py"),
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", out,
            "--content-col", "text",
            "--jaccard-threshold", "0.5",
        ],
        env=env, capture_output=True, text=True, timeout=480,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    comp = duckdb.sql(f"select count(*) from '{out}/components/*.parquet'").fetchone()[0]
    pairs = duckdb.sql(f"select count(*) from '{out}/pairs/*.parquet'").fetchone()[0]
    # sf0.001 truth (same planted corpus as the driver's cc_neardup row)
    assert comp == 45 and pairs == 28, (comp, pairs)
