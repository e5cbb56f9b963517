"""Stage checkpointing with params-hash validation and resume.

North_rule: signatures, candidate-pair, and component stages checkpoint to a
table store with per-partition lineage + metrics, and a re-run resumes from
completed stages. Locally the store is parquet directories; the layout and
semantics are Iceberg-shaped (a production deployment points `TableStore` at
an Iceberg catalog — `df.writeTo(...).append()` — without touching pipeline
code; this sandbox has no Iceberg runtime jars).

Every stage directory carries a `_finch_meta.json` with (run_id, stage,
params_hash, row_count, count_source), the per-partition split of the last
write and the stage's schema. Resume REQUIRES the params_hash to match — a
mismatch hard-fails, mirroring the reference's sketch-compatibility check
(`SketchParams::check_compatibility`, `sketch_schemes/mod.rs:179-212`),
instead of silently mixing sketches from different configs.

A stage write is ONE Spark job, the save: its row count is observed on the
save itself (`df.observe`) and its per-partition split is read from the
save's task output metrics in Spark's status store. A stage read runs no
job: it passes the schema recorded in the meta instead of inferring it
(a meta written before the schema was recorded is read with inference). An
append must match that pinned schema, nullability aside.
"""
from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class ParamsMismatch(RuntimeError):
    pass


class TableStore:
    """Format-pluggable stage store with Iceberg-shaped append/read semantics.

    `fmt` is any Spark DataSource format ("parquet" default, "orc" also
    exercised in tests); an Iceberg deployment swaps the `_save`/`_read_raw`
    hooks for the `df.writeTo(...)` V2 path — see `IcebergTableStore` —
    without touching pipeline code."""

    def __init__(
        self,
        root: str | Path,
        params_hash: str,
        run_id: str | None = None,
        fmt: str = "parquet",
    ):
        self.root = Path(root)
        self.params_hash = params_hash
        self.run_id = run_id or time.strftime("run-%Y%m%d-%H%M%S")
        self.fmt = fmt
        self._write_seq = 0
        self._instance_id = uuid.uuid4().hex[:12]

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def exists(self, stage: str) -> bool:
        meta = self._dir(stage) / "_finch_meta.json"
        if not meta.exists():
            return False
        info = json.loads(meta.read_text())
        if info["params_hash"] != self.params_hash:
            raise ParamsMismatch(
                f"checkpoint stage '{stage}' was written with params_hash="
                f"{info['params_hash']}, current config hashes to "
                f"{self.params_hash}; refusing to resume across configs"
            )
        return True

    # full per-partition row map stored only up to this many partitions
    # (beyond it the summary stats still capture skew without bloating meta)
    _MAX_PARTITION_MAP = 4096
    # bound on waiting for the status store to hold every task of a save
    # (the listener bus feeds it asynchronously after the job has ended)
    _SPLIT_WAIT_S = 30.0

    def write(self, stage: str, df: DataFrame, mode: str = "overwrite") -> DataFrame:
        """Save `df` as `stage` in ONE Spark job (the save) and return the
        stage read back lazily. The row count comes from an observation on
        the save, the per-partition split from the save's task metrics."""
        path = self._dir(stage)
        meta_file = path / "_finch_meta.json"
        prev = (
            json.loads(meta_file.read_text())
            if mode == "append" and meta_file.exists()
            else None
        )
        # per-partition lineage: tag rows with the writing partition id AND a
        # per-write id so partition ids from separate append writes never
        # collide in the metrics (they'd otherwise conflate independent
        # writes' skew); both cheap generated columns, no shuffle
        # collision-proof across process restarts: a resumed process with the
        # same explicit run_id would restart the instance-local seq at 1 and
        # reuse ids already in the table, conflating per-write skew metrics —
        # the uuid component makes every TableStore instance's ids disjoint
        self._write_seq += 1
        write_id = f"{self.run_id}/{self._instance_id}/{self._write_seq}"
        tagged = df.withColumn("_partition_id", F.spark_partition_id()).withColumn(
            "_write_id", F.lit(write_id)
        )
        # the schema a file source reads back: reads pass it instead of
        # inferring it with a job. An append keeps the stage's pinned schema
        # and must match it, else one column would hold files of two types
        schema = _nullable(tagged.schema.jsonValue())
        if prev is not None:
            if "schema" in prev:
                _check_append_schema(stage, prev["schema"], schema)
            schema = prev.get("schema")
        # a table with data but no meta was not written by this store: it is
        # the one case that still counts its rows (after the save)
        unmetered = mode == "append" and prev is None and self._table_exists(stage)
        sc = df.sparkSession.sparkContext
        obs = Observation()
        # the tag finds the save's jobs in the status store (the job group
        # may belong to a caller, e.g. a tracer)
        tag = f"finch-write-{uuid.uuid4().hex}"
        sc.addJobTag(tag)
        try:
            self._save(tagged.observe(obs, F.count(F.lit(1)).alias("n")), stage, mode)
        finally:
            sc.removeJobTag(tag)
        n_this_write = obs.get["n"]
        # the skew ratio (max/mean) is the signal a re-partitioning decision
        # needs before the next stage reads this one
        per_part = _partition_rows(sc, tag, n_this_write, self._SPLIT_WAIT_S)
        raw = self._read_raw(stage, schema)
        # row_count stays the cumulative table count (append-aware). Fold
        # the previous meta's count instead of re-counting the table: every
        # write passes through this method, so prev row_count + this write
        # is exact — and a per-append full-table scan is O(store) per epoch
        # on a streaming store. `count_source` says which: a folded count
        # drifts if an append bypassed this method; the next overwrite (e.g.
        # a compaction) counts it afresh.
        count_source = "counted"
        if prev is not None:
            n = prev.get("row_count", 0) + n_this_write
            count_source = "folded"
        elif unmetered:
            n = raw.count()
        else:
            n = n_this_write
        n_parts = max(len(per_part), 1)
        mean = n_this_write / n_parts
        meta = {
            "run_id": self.run_id,
            "stage": stage,
            "params_hash": self.params_hash,
            "row_count": n,
            "count_source": count_source,
            "write_id": write_id,
            "write_row_count": n_this_write,
            "n_partitions": len(per_part),
            "partition_rows_min": min(per_part.values(), default=0),
            "partition_rows_max": max(per_part.values(), default=0),
            "partition_rows_mean": round(mean, 2),
            "partition_skew": round(max(per_part.values(), default=0) / mean, 3)
            if n_this_write
            else 0.0,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
        if len(per_part) <= self._MAX_PARTITION_MAP:
            meta["partition_rows"] = {str(k): v for k, v in sorted(per_part.items())}
        if schema is not None:
            meta["schema"] = schema
        path.mkdir(parents=True, exist_ok=True)
        meta_file.write_text(json.dumps(meta, indent=1))
        return raw.drop("_partition_id", "_write_id")

    # storage backend hooks — subclasses swap ONLY these three (the lineage
    # tagging, metrics, params-hash gate and resume logic above are shared)
    def _save(self, tagged: DataFrame, stage: str, mode: str) -> None:
        tagged.write.mode(mode).format(self.fmt).save(str(self._dir(stage)))

    def _read_raw(self, stage: str, schema: dict | None) -> DataFrame:
        reader = SparkSession.getActiveSession().read.format(self.fmt)
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.load(str(self._dir(stage)))

    def _table_exists(self, stage: str) -> bool:
        return self._dir(stage).exists()

    def read(self, stage: str) -> DataFrame:
        meta = self._dir(stage) / "_finch_meta.json"
        # a stage written without a recorded schema is read with inference
        schema = json.loads(meta.read_text()).get("schema") if meta.exists() else None
        return self._read_raw(stage, schema).drop("_partition_id", "_write_id")

    def read_meta(self, stage: str) -> dict:
        return json.loads((self._dir(stage) / "_finch_meta.json").read_text())

    def get_or_compute(self, stage: str, compute) -> DataFrame:
        """Resume semantics: reuse the stage output iff it exists AND its
        params_hash matches; otherwise compute and persist."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, compute())


def _nullable(t):
    """A DataType's JSON value with every field, array element and map
    value nullable: the schema a file source reads the data back as."""
    if isinstance(t, list):
        return [_nullable(v) for v in t]
    if not isinstance(t, dict):
        return t
    t = {k: v if k == "metadata" else _nullable(v) for k, v in t.items()}
    for k in ("nullable", "containsNull", "valueContainsNull"):
        if k in t:
            t[k] = True
    return t


def _check_append_schema(stage: str, pinned: dict, got: dict) -> None:
    """Raise unless an append's columns have the pinned names and types
    (both in nullable form, so nullability is ignored)."""
    want = {f.name: f.dataType for f in StructType.fromJson(pinned).fields}
    have = {f.name: f.dataType for f in StructType.fromJson(got).fields}
    diff = [
        f"{c}: {want[c].simpleString() if c in want else '(absent)'} -> "
        f"{have[c].simpleString() if c in have else '(absent)'}"
        for c in sorted(want.keys() | have.keys())
        if want.get(c) != have.get(c)
    ]
    if diff:
        raise ValueError(
            f"append to stage '{stage}' does not match its pinned schema "
            f"(pinned -> appended): {'; '.join(diff)}"
        )


def _partition_rows(sc, tag: str, expected: int, wait_s: float) -> dict[int, int]:
    """{partition id: rows written} over the successful tasks of the jobs
    tagged `tag`, from their output metrics in Spark's status store; only
    partitions that wrote rows are listed. The listener bus feeds the store
    asynchronously (a job can be listed before its stages are), so this
    re-reads it until the split sums to `expected` (the save's observed
    count) and raises if that takes over `wait_s`."""
    jsc = sc._jsc.sc()
    status = jsc.statusStore()
    deadline = time.monotonic() + wait_s
    while True:
        rows = {}
        for job in jsc.statusTracker().getJobIdsForTag(tag):
            stages = status.job(job).stageIds()
            for i in range(stages.size()):
                stage = stages.apply(i)
                try:
                    last = status.lastStageAttempt(stage).attemptId()
                except Py4JJavaError as e:
                    # not in the store yet (or a skipped stage it evicted)
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    continue
                for attempt in range(last + 1):
                    tasks = status.taskList(stage, attempt, 2**31 - 1).iterator()
                    while tasks.hasNext():
                        t = tasks.next()
                        m = t.taskMetrics()
                        if t.status() != "SUCCESS" or m.isEmpty():
                            continue
                        n = m.get().outputMetrics().recordsWritten()
                        if n:
                            rows[t.partitionId()] = n
        got = sum(rows.values())
        if got == expected:
            return rows
        if time.monotonic() > deadline:
            raise RuntimeError(
                f"status store split of write '{tag}' sums to {got} rows, "
                f"the save observed {expected} (waited {wait_s} s)"
            )
        time.sleep(0.01)


class IcebergTableStore(TableStore):
    """TableStore over an Iceberg (or any V2) catalog via the
    DataFrameWriterV2 path the north rule names: stages are catalog tables
    `<namespace>.<stage>` written with `df.writeTo(...).using(fmt)` +
    `createOrReplace()` / `append()` and read with `spark.read.table` —
    swap-in for `TableStore` without touching pipeline code. The
    params-hash resume gate and per-partition lineage metrics are inherited
    unchanged; `_finch_meta.json` stays on `root` (Iceberg snapshots carry
    their own file-level lineage, the stage-compatibility gate is ours).

    On a real cluster configure the catalog first, e.g.::

        spark.sql.catalog.finch = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.finch.type = hive   # or hadoop/rest

    and pass ``namespace="finch.neardup"``. This sandbox has no Iceberg
    runtime jars and Spark's built-in session catalog rejects V2 writes
    (UNSUPPORTED_FEATURE.TABLE_OPERATION on REPLACE TABLE), so the test
    (`tests/test_pipeline.py::test_iceberg_store_v2_calls`) exercises this
    class against a mocked catalog that records the exact V2 call sequence
    and round-trips the data — the first run against a live catalog
    executes the same calls verbatim.
    """

    def __init__(
        self,
        root: str | Path,
        params_hash: str,
        namespace: str,
        run_id: str | None = None,
        fmt: str = "parquet",
    ):
        super().__init__(root, params_hash, run_id=run_id, fmt=fmt)
        self.namespace = namespace

    def table_name(self, stage: str) -> str:
        return f"{self.namespace}.{stage}"

    def _save(self, tagged: DataFrame, stage: str, mode: str) -> None:
        writer = tagged.writeTo(self.table_name(stage)).using(self.fmt)
        # append to a missing table must create it (first write of a run)
        if mode == "append" and self._table_exists(stage):
            writer.append()
        else:
            writer.createOrReplace()

    def _read_raw(self, stage: str, schema: dict | None) -> DataFrame:
        # the catalog holds the table's schema: reading it runs no job
        return SparkSession.getActiveSession().read.table(self.table_name(stage))

    def _table_exists(self, stage: str) -> bool:
        return SparkSession.getActiveSession().catalog.tableExists(
            self.table_name(stage)
        )
