"""Stage checkpointing with params-hash validation and resume.

North_rule: signatures, candidate-pair, and component stages checkpoint to a
table store with per-partition lineage + metrics, and a re-run resumes from
completed stages. Locally the store is parquet directories; the layout and
semantics are Iceberg-shaped (a production deployment points `TableStore` at
an Iceberg catalog — `df.writeTo(...).append()` — without touching pipeline
code; this sandbox has no Iceberg runtime jars).

Every stage directory carries a `_finch_meta.json` with (run_id, stage,
params_hash, row_count, count_source). Resume REQUIRES the params_hash to
match — a mismatch hard-fails, mirroring the reference's sketch-compatibility
check (`SketchParams::check_compatibility`, `sketch_schemes/mod.rs:179-212`),
instead of silently mixing sketches from different configs.
"""
from __future__ import annotations

import json
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


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

    def write(self, stage: str, df: DataFrame, mode: str = "overwrite") -> DataFrame:
        path = self._dir(stage)
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
        self._save(tagged, stage, mode)
        # ONE read of the stage (each read infers the schema with a job)
        # serves the returned frame, the metrics and the fallback count
        raw = self._read_raw(stage)
        # per-partition metrics from the lineage tag: one distributed agg
        # over THIS write's rows only (filtered by _write_id — pushed to the
        # scan); the skew ratio (max/mean) is the signal a re-partitioning
        # decision needs before the next stage reads this one
        per_part = {
            int(r["_partition_id"]): r["n"]
            for r in raw.filter(F.col("_write_id") == write_id)
            .groupBy("_partition_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        n_this_write = sum(per_part.values())
        # row_count stays the cumulative table count (append-aware). Fold
        # the previous meta's count instead of re-counting the table: every
        # write passes through this method, so prev row_count + this write
        # is exact — and a per-append full-table scan is O(store) per epoch
        # on a streaming store (the count was the single largest fixed cost
        # of a streaming epoch as the store grows). Fall back to a real
        # count only for a table this store has no meta for. `count_source`
        # says which: a folded count drifts if an append bypassed this
        # method; the next overwrite (e.g. a compaction) counts it afresh.
        meta_file = path / "_finch_meta.json"
        count_source = "counted"
        if mode != "append":
            n = n_this_write
        elif meta_file.exists():
            n = json.loads(meta_file.read_text()).get("row_count", 0) + n_this_write
            count_source = "folded"
        else:
            n = raw.count()
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
        path.mkdir(parents=True, exist_ok=True)
        meta_file.write_text(json.dumps(meta, indent=1))
        return raw.drop("_partition_id", "_write_id")

    # storage backend hooks — subclasses swap ONLY these two (the lineage
    # tagging, metrics, params-hash gate and resume logic above are shared)
    def _save(self, tagged: DataFrame, stage: str, mode: str) -> None:
        tagged.write.mode(mode).format(self.fmt).save(str(self._dir(stage)))

    def _read_raw(self, stage: str) -> DataFrame:
        spark = SparkSession.getActiveSession()
        return spark.read.format(self.fmt).load(str(self._dir(stage)))

    def read(self, stage: str) -> DataFrame:
        return self._read_raw(stage).drop("_partition_id", "_write_id")

    def read_meta(self, stage: str) -> dict:
        return json.loads((self._dir(stage) / "_finch_meta.json").read_text())

    def get_or_compute(self, stage: str, compute) -> DataFrame:
        """Resume semantics: reuse the stage output iff it exists AND its
        params_hash matches; otherwise compute and persist."""
        if self.exists(stage):
            return self.read(stage)
        return self.write(stage, compute())


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
        spark = SparkSession.getActiveSession()
        writer = tagged.writeTo(self.table_name(stage)).using(self.fmt)
        # append to a missing table must create it (first write of a run)
        if mode == "append" and spark.catalog.tableExists(self.table_name(stage)):
            writer.append()
        else:
            writer.createOrReplace()

    def _read_raw(self, stage: str) -> DataFrame:
        spark = SparkSession.getActiveSession()
        return spark.read.table(self.table_name(stage))
