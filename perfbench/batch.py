"""Batch workloads: `plans.pipeline.near_duplicates` with a fresh
`plans.checkpoint.TableStore` per pass, and a traced pass that calls the
same stages one at a time, each materialized under its own job group."""
from __future__ import annotations

import shutil
import sys
import time
import traceback

from pyspark.sql import functions as F

from finchspark.operators.cc import connected_components
from finchspark.operators.lsh import candidate_pairs, exact_dup_pairs_sha
from finchspark.operators.signature import build_signatures
from finchspark.operators.verify import verify_pairs
from finchspark.plans.checkpoint import TableStore
from finchspark.plans.pipeline import near_duplicates, simhash_candidate_pairs

from harness import (
    MB,
    StatusStore,
    Tracer,
    cpu_steal_s,
    dir_bytes,
    median,
    pair_fingerprint,
    pair_recall,
    recheck_pairs,
    tracing_store_class,
)

SPARK_KEYS = ("executor_run_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks")
# stages in pipeline order; their spans cover a traced pass
TRACED_STAGES = ("signature", "checkpoint", "lsh", "verify", "sha", "simhash", "cc")
# timed passes per run at least (an odd count, so the median is one pass);
# a traced run times at least two untraced + traced pairs
MIN_PASSES = 3
MIN_TRACED_PAIRS = 2


class PassChecks:
    """Output checks run after every timed pass, outside its timing."""

    def __init__(self, truth, min_recall: float = 0.99):
        self.truth = truth
        self.min_recall = min_recall
        self.fingerprint = None
        self.recalls: list[float] = []
        self.failures: list[str] = []

    def check(self, pairs, components, signatures) -> bool:
        errors = []
        fp = pair_fingerprint(pairs)
        if self.fingerprint is None:
            self.fingerprint = fp
        elif fp != self.fingerprint:
            errors.append(f"pair fingerprint {fp} != {self.fingerprint}")
        recall = pair_recall(components, self.truth)
        self.recalls.append(recall)
        if recall < self.min_recall:
            errors.append(f"pair_recall {recall:.4f} < {self.min_recall}")
        bad = recheck_pairs(pairs, signatures)
        if bad:
            errors.append(f"{bad} sampled pairs differ from kernels.raw_distance")
        self.failures.extend(errors)
        return not errors


def untraced_pass(docs, config, store):
    result = near_duplicates(docs, config, store=store)
    return store.read("pairs"), store.read("components"), result.signatures


def traced_pass(docs, config, store, tracer: Tracer) -> dict:
    """The pipeline's stages called one at a time. Each stage's output is
    materialized (persist + count) inside its span, so checkpoint writes
    are timed apart from the computation that feeds them."""
    counts = {}
    with tracer.span("signature"):
        sig = build_signatures(docs, config).persist()
        counts["docs"] = sig.count()
    with tracer.span("checkpoint"):
        sig_t = store.write("signatures", sig)
    sig.unpersist()
    with tracer.span("lsh"):
        cands, overflow = candidate_pairs(sig_t, config.lsh)
        cands = cands.persist()
        counts["candidates"] = cands.count()
    with tracer.span("verify"):
        ver = verify_pairs(cands, sig_t, config)
        ver = ver.filter(F.col("jaccard") >= config.jaccard_threshold).persist()
        counts["verified"] = ver.count()
    with tracer.span("checkpoint"):
        pairs_t = store.write("pairs", ver)
    ver.unpersist()
    with tracer.span("sha"):
        sha = exact_dup_pairs_sha(sig_t).persist()
        counts["sha_pairs"] = sha.count()
    with tracer.span("simhash"):
        sim = simhash_candidate_pairs(sig_t, config).persist()
        counts["simhash_pairs"] = sim.count()
    with tracer.span("cc"):
        edges = pairs_t.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst"))
        for f in (sha, sim):
            edges = edges.unionByName(f.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst")))
        counts["edges"] = edges.count()
        comps = connected_components(edges).persist()
        counts["nodes"] = comps.count()
    with tracer.span("checkpoint"):
        comps_t = store.write("components", comps)
    for df in (sha, sim, comps):
        df.unpersist()
    return {
        "counts": counts, "cands": cands, "overflow": overflow,
        "pairs": pairs_t, "components": comps_t, "signatures": sig_t,
    }


def layer_metrics(status: StatusStore, tracer: Tracer, traced: dict,
                  pass_s: float, untraced_s: float, content_mb: float) -> dict:
    """Per-layer metrics of one traced pass (`tracer.tag` names it)."""
    out: dict[str, float] = {}
    spark_by_layer = {}
    for layer in TRACED_STAGES:
        s = status.summary(status.select(group=f"{tracer.tag}:{layer}"))
        spark_by_layer[layer] = s
        out[f"{layer}.busy_s"] = tracer.busy(layer)
        for key in SPARK_KEYS:
            out[f"{layer}.{key}"] = s[key]
    c = traced["counts"]
    out["signature.mb_per_s"] = content_mb / out["signature.busy_s"]
    out["lsh.candidates"] = c["candidates"]
    out["lsh.useful_ratio"] = c["verified"] / c["candidates"] if c["candidates"] else 0.0
    out["lsh.shuffle_mb"] = spark_by_layer["lsh"]["shuffle_write_mb"]
    out["simhash.candidates"] = c["simhash_pairs"]
    out["verify.pairs_per_s"] = c["candidates"] / out["verify.busy_s"]
    out["verify.shuffle_mb"] = spark_by_layer["verify"]["shuffle_write_mb"]
    out["cc.edges"] = c["edges"]
    out["cc.jobs"] = spark_by_layer["cc"]["jobs"]
    ck = spark_by_layer["checkpoint"]
    out["checkpoint.write_s"] = out.pop("checkpoint.busy_s")
    out["checkpoint.jobs_per_write"] = ck["jobs"] / sum(sp["name"] == "checkpoint" for sp in tracer.spans)
    covered = sum(out[f"{layer}.busy_s"] for layer in TRACED_STAGES if layer != "checkpoint")
    covered += out["checkpoint.write_s"]
    out["trace.pass_s"] = pass_s
    out["trace.unattributed_s"] = pass_s - covered
    out["trace.overhead_s"] = pass_s - untraced_s
    return out


def pass_profile(status, tracer, traced, traced_s, untraced_s, contents, config) -> dict:
    """Layer metrics of a traced pass plus the direct kernel timings on the
    same content; `signature.boundary_ratio` is the signature stage's
    executor core-seconds over the kernel chain's seconds for those bytes."""
    from kernels_bench import kernel_metrics

    content_mb = sum(map(len, contents)) / MB
    out = layer_metrics(status, tracer, traced, traced_s, untraced_s, content_mb)
    out["lsh.capped_buckets"] = traced["overflow"].count()
    out["cc.components"] = traced["components"].select("component").distinct().count()
    pairs = verify_pair_hashes(traced["cands"], traced["signatures"])
    traced["cands"].unpersist()
    out.update(kernel_metrics(contents, config, pairs))
    out["signature.boundary_ratio"] = out["signature.executor_run_s"] / (
        content_mb / out["kernels.sketch_mb_per_s"]
    )
    return out


def epoch_split(status: StatusStore, store, group: str, pass_s: float) -> dict:
    """A batch pass is a single epoch: its job and stage counts and the
    time spent inside each TableStore write (which includes the lazy
    computation the write triggers)."""
    s = status.summary(status.select(group=group))
    w = {sp["stage"]: sp["end"] - sp["start"] for sp in store.write_spans}
    out = {
        "stream.jobs_per_epoch": s["jobs"],
        "stream.stages_per_epoch": s["stages"],
        "stream.pairs_write_s": w.get("pairs", 0.0),
        "stream.components_write_s": w.get("components", 0.0),
        "stream.store_append_s": w.get("signatures", 0.0),
        "stream.unattributed_s": pass_s - sum(w.values()),
    }
    for key in SPARK_KEYS:
        out[f"stream.{key}"] = s[key]
    return out


def verify_pair_hashes(cands, signatures, limit: int = 10000):
    """Sketch segments of up to `limit` candidate pairs, for the direct
    verify-kernel timing."""
    import numpy as np

    sigs = signatures.select("doc_id", "hashes")
    t = (
        cands.limit(limit)
        .join(sigs.select(F.col("doc_id").alias("key_a"), F.col("hashes").alias("ha")), "key_a")
        .join(sigs.select(F.col("doc_id").alias("key_b"), F.col("hashes").alias("hb")), "key_b")
        .select("ha", "hb")
        .toArrow()
    )

    def seg(col):
        arr = col.combine_chunks()
        off = np.asarray(arr.offsets, dtype=np.int64)
        vals = np.asarray(arr.values, dtype=np.int64)
        return vals[off[0]:off[-1]], off - off[0]

    return (*seg(t.column("ha")), *seg(t.column("hb")))


class BatchRun:
    """One batch workload in one Spark session."""

    def __init__(self, spark, work, corpus, truth, in_path, config, rss):
        self.spark, self.work, self.corpus = spark, work, corpus
        self.in_path, self.config, self.rss = in_path, config, rss
        self.docs = spark.read.parquet(in_path)
        self.checks = PassChecks(truth)
        self._n = 0

    def _store(self, cls=TableStore):
        self._n += 1
        path = self.work / f"store-{self._n}"
        return cls(path, self.config.params_hash(), run_id=f"pass-{self._n}"), path

    def warm_up(self, passes: int) -> None:
        """Untimed passes over the workload's own input; the first is cold
        (JIT, code generation, Python workers). The last one's output is
        checked, so the check queries are compiled before timing too."""
        for i in range(passes):
            store, path = self._store()
            pairs, comps, sigs = untraced_pass(self.docs, self.config, store)
            if i == passes - 1:
                self.checks.check(pairs, comps, sigs)
            shutil.rmtree(path, ignore_errors=True)

    def _timed(self, fn, group=None) -> tuple[float | None, bool]:
        """Run one pass under job group `group`, then its checks outside
        the group and the timing; returns (seconds or None, ok)."""
        sc = self.spark.sparkContext
        try:
            sc.setLocalProperty("spark.jobGroup.id", group)
            t0 = time.perf_counter()
            try:
                pairs, comps, sigs = fn()
            finally:
                el = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)
            return el, self.checks.check(pairs, comps, sigs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.checks.failures.append("pass raised")
            return None, False

    def measure(self, seconds: float, trace: bool) -> dict:
        """Timed passes while the next one is expected to end within
        `seconds` of pass time, and at least MIN_PASSES (with tracing:
        untraced and traced passes alternate). A pass that raises ends the
        measurement."""
        times, traced_times, attempted, failed = [], [], 0, 0
        traced = last_untraced = None
        t_start, steal0 = time.time(), cpu_steal_s()
        TracingStore = tracing_store_class()

        def more() -> bool:
            if len(times) < (MIN_TRACED_PAIRS if trace else MIN_PASSES):
                return True
            spent = sum(times) + sum(traced_times)
            return spent + median(times) + (median(traced_times) if trace else 0.0) <= seconds

        while more():
            # untraced pass (its store records write spans only when tracing)
            store, path = self._store(TracingStore if trace else TableStore)
            group = f"untraced-{self._n}"
            el, ok = self._timed(lambda: untraced_pass(self.docs, self.config, store), group)
            attempted += 1
            failed += not ok
            shutil.rmtree(path, ignore_errors=True)
            if el is None:
                break
            times.append(el)
            last_untraced = (store, group, el)
            if not trace:
                continue
            store, path = self._store(TracingStore)
            tracer = Tracer(self.spark, f"traced-{self._n}")
            box = {}

            def run_traced():
                box["t"] = traced_pass(self.docs, self.config, store, tracer)
                return box["t"]["pairs"], box["t"]["components"], box["t"]["signatures"]

            el, ok = self._timed(run_traced)
            attempted += 1
            failed += not ok
            if traced is not None:  # only the last traced pass is profiled
                traced[1]["cands"].unpersist()
                shutil.rmtree(traced[3], ignore_errors=True)
            if el is None:
                shutil.rmtree(path, ignore_errors=True)
                break
            traced_times.append(el)
            traced = (tracer, box["t"], store, path)
        peak_mb = self.rss.peak_between(t_start, time.time())
        if not times:
            return {"metrics": {}, "attempted": attempted, "failed": failed, "info": {}}
        wall = median(times)
        out = {
            "wall_s": wall,
            "files_per_s": len(self.corpus.docs) / wall,
            "epoch_p50_s": wall,
            "pair_recall": min(self.checks.recalls) if self.checks.recalls else 0.0,
        }
        info = {"passes": len(times), "pass_s": times, "traced_pass_s": traced_times,
                "host_steal_s": round(cpu_steal_s() - steal0, 2)}
        if trace and traced is not None and last_untraced is not None:
            out["peak_rss_mb"] = peak_mb
            out.update(self.layer_profile(traced, median(traced_times), wall, last_untraced))
        return {"metrics": out, "attempted": attempted, "failed": failed, "info": info}

    def layer_profile(self, traced, traced_s, untraced_s, last_untraced) -> dict:
        tracer, t, store, path = traced
        status = StatusStore(self.spark)
        contents = [d["content"].encode() for d in self.corpus.docs]
        out = pass_profile(status, tracer, t, traced_s, untraced_s, contents, self.config)
        out["checkpoint.bytes_per_input_byte"] = dir_bytes(str(path)) / dir_bytes(self.in_path)
        out.update(epoch_split(status, *last_untraced))
        shutil.rmtree(path, ignore_errors=True)
        self.spans = tracer.spans + [dict(sp, tag="store") for sp in store.write_spans]
        return out
