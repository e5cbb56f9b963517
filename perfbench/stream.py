"""The stream-ingest workload: the code corpus replayed as one-file
micro-batches through `streaming.neardup.neardup_stream` with a
`TableStore`, a continuously maintained component map and `availableNow`.
It is a closed loop: each micro-batch starts after the previous commits.
The stream's pairs must equal the batch LSH -> verify pair set over the
same signatures."""
from __future__ import annotations

import shutil
import sys
import time
import traceback
from datetime import datetime

from pyspark.sql import functions as F

from finchspark.operators.lsh import candidate_pairs
from finchspark.operators.verify import verify_pairs
from finchspark.plans.checkpoint import TableStore
from finchspark.streaming.neardup import neardup_stream, store_latest_components

import inputs
from batch import SPARK_KEYS, PassChecks, pass_profile, traced_pass, untraced_pass
from harness import (
    StatusStore,
    Tracer,
    cpu_steal_s,
    dir_bytes,
    median,
    pair_fingerprint,
    pair_recall,
    process_age_s,
    recheck_pairs,
    tracing_store_class,
)

DOCS_PER_EPOCH = 150
SECONDS_PER_EPOCH = 6  # one timed micro-batch per 6 s of --seconds
MIN_EPOCHS = 3  # an odd count, so the median is one epoch
COMPACT_EVERY = 2
WARM_EPOCHS = 1


def n_base_for(n_docs: int) -> int:
    # synth_documents emits 5/3 documents per base row (plus five edge rows)
    return max(6, round(n_docs * 3 / 5))


def _ts(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


def write_stream_inputs(work, seed: int, seconds: float) -> inputs.Corpus:
    """WARM_EPOCHS + E one-file micro-batches, E = max(MIN_EPOCHS,
    seconds / SECONDS_PER_EPOCH)."""
    n = WARM_EPOCHS + max(MIN_EPOCHS, int(seconds // SECONDS_PER_EPOCH))
    corpus = inputs.code_stream(seed, n_base_for(n * DOCS_PER_EPOCH), n)
    inputs.write_shards(corpus.shards, work / "stream-input")
    return corpus


def write_profile_input(work, seed: int, n_files: int) -> inputs.Corpus:
    """The traced run's batch corpus: the same generator, code-corpus size."""
    corpus = inputs.code_stream(seed, n_base_for(n_files), 1)
    inputs.write_parquet(corpus.docs, work / "profile-input", 8)
    return corpus


class StreamRun:
    """One query over WARM_EPOCHS + E micro-batches: the first WARM_EPOCHS
    warm the session and count into set-up; the drain of the remaining E
    is timed."""

    def __init__(self, spark, work, corpus, truth, config, rss, profile=None):
        self.spark, self.work, self.config, self.rss = spark, work, config, rss
        self.corpus, self.profile = corpus, profile
        self.epochs = len(corpus.shards) - WARM_EPOCHS
        self.stream_in = work / "stream-input"
        self.checks = PassChecks(truth)

    def measure(self, seconds: float, trace: bool) -> dict:
        store = tracing_store_class()(self.work / "stream-store", self.config.params_hash())
        attempted, failed = self.epochs, 0
        stream = (
            self.spark.readStream.schema(", ".join(f"{c} {t}" for c, t in inputs.SCHEMA))
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_in)
        )
        age0, t0, steal0 = process_age_s(), time.time(), cpu_steal_s()
        try:
            q = neardup_stream(
                stream, self.config, "signatures", "pairs", self.work / "checkpoint",
                components_path="components", compact_every=COMPACT_EVERY,
                table_store=store, available_now=True,
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.checks.failures.append("stream raised")
            return {"metrics": {}, "attempted": attempted, "failed": attempted, "info": {}}
        progress = sorted(
            (p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
        )
        if len(progress) != WARM_EPOCHS + self.epochs:
            self.checks.failures.append(f"{len(progress)} epochs ran, expected {WARM_EPOCHS + self.epochs}")
        timed = progress[WARM_EPOCHS:]
        windows = [(_ts(p), _ts(p) + p["durationMs"]["triggerExecution"] / 1000.0) for p in timed]
        epoch_s = [b - a for a, b in windows]
        wall = windows[-1][1] - windows[0][0]
        peak_mb = self.rss.peak_between(windows[0][0], windows[-1][1])
        if not self.check(store):
            failed = attempted
        out = {
            "setup_s": age0 + windows[0][0] - t0,
            "wall_s": wall,
            "files_per_s": sum(p["numInputRows"] for p in timed) / wall,
            "epoch_p50_s": median(epoch_s),
            "pair_recall": self.checks.recalls[-1] if self.checks.recalls else 0.0,
        }
        info = {"epochs": len(epoch_s), "epoch_s": [round(e, 3) for e in epoch_s],
                "host_steal_s": round(cpu_steal_s() - steal0, 2)}
        if trace:
            out["peak_rss_mb"] = peak_mb
            out.update(self.layer_profile(store, windows))
        return {"metrics": out, "attempted": attempted, "failed": failed, "info": info}

    def check(self, store) -> bool:
        """The stream's pairs equal the batch LSH -> verify pairs over the
        same signatures (each emitted exactly once), its component map meets
        the recall floor, and sampled pairs re-verify exactly."""
        c = self.checks
        errors = []
        try:
            sigs = store.read("signatures")
            cands, _ = candidate_pairs(sigs, self.config.lsh)
            ref = verify_pairs(cands, sigs, self.config).filter(
                F.col("jaccard") >= self.config.jaccard_threshold
            )
            reference = {(r["key_a"], r["key_b"]) for r in ref.select("key_a", "key_b").collect()}
            pairs = store.read("pairs")
            c.fingerprint = pair_fingerprint(pairs)
            rows = [(r["key_a"], r["key_b"]) for r in pairs.select("key_a", "key_b").collect()]
            if len(rows) != len(set(rows)):
                errors.append(f"{len(rows) - len(set(rows))} pairs emitted more than once")
            if set(rows) != reference:
                errors.append(
                    f"stream pairs differ from batch pairs: {len(set(rows) - reference)} extra, "
                    f"{len(reference - set(rows))} missing"
                )
            comps, _ = store_latest_components(self.spark, store, "components")
            recall = pair_recall(comps, c.truth)
            c.recalls.append(recall)
            if recall < c.min_recall:
                errors.append(f"pair_recall {recall:.4f} < {c.min_recall}")
            bad = recheck_pairs(pairs, sigs)
            if bad:
                errors.append(f"{bad} sampled pairs differ from kernels.raw_distance")
        except Exception:
            traceback.print_exc(file=sys.stderr)
            errors.append("stream checks raised")
        c.failures.extend(errors)
        return not errors

    def layer_profile(self, store, windows) -> dict:
        """Stream split from the timed epochs' time windows. The batch layer
        numbers come from an untraced and a traced batch pass over the
        profile corpus: the same generator at code-corpus size, where the
        stages do more than their fixed cost."""
        docs = self.spark.read.parquet(self.work / "profile-input")
        t0 = time.perf_counter()
        untraced_pass(docs, self.config, TableStore(self.work / "profile-store", self.config.params_hash()))
        untraced_s = time.perf_counter() - t0
        shutil.rmtree(self.work / "profile-store", ignore_errors=True)
        tstore = tracing_store_class()(self.work / "traced-store", self.config.params_hash())
        tracer = Tracer(self.spark, "traced")
        t0 = time.perf_counter()
        t = traced_pass(docs, self.config, tstore, tracer)
        traced_s = time.perf_counter() - t0
        status = StatusStore(self.spark)
        contents = [d["content"].encode() for d in self.profile.docs]
        out = pass_profile(status, tracer, t, traced_s, untraced_s, contents, self.config)

        # per-epoch split of the timed stream
        per_epoch = []
        for a, b in windows:
            w = {}
            for sp in store.write_spans:
                if a <= sp["start"] <= b:
                    key = sp["stage"].replace("_delta", "")
                    w[key] = w.get(key, 0.0) + sp["end"] - sp["start"]
            s = status.summary(status.select(windows=[(a, b)]))
            per_epoch.append((b - a, w, s))
        med = lambda f: median([f(e) for e in per_epoch])  # noqa: E731
        out["stream.jobs_per_epoch"] = med(lambda e: e[2]["jobs"])
        out["stream.stages_per_epoch"] = med(lambda e: e[2]["stages"])
        out["stream.pairs_write_s"] = med(lambda e: e[1].get("pairs", 0.0))
        out["stream.components_write_s"] = med(lambda e: e[1].get("components", 0.0))
        out["stream.store_append_s"] = med(lambda e: e[1].get("signatures", 0.0))
        out["stream.unattributed_s"] = med(lambda e: e[0] - sum(e[1].values()))
        writes = [(sp["start"], sp["end"]) for sp in store.write_spans
                  if windows[0][0] <= sp["start"] <= windows[-1][1]]
        ws = status.summary(status.select(windows=writes))
        out["checkpoint.write_s"] = med(lambda e: sum(e[1].values()))
        out["checkpoint.jobs_per_write"] = ws["jobs"] / max(len(writes), 1)
        out["checkpoint.bytes_per_input_byte"] = dir_bytes(self.work / "stream-store") / dir_bytes(self.stream_in)
        s = status.summary(status.select(windows=windows))
        for key in SPARK_KEYS:  # per timed epoch
            out[f"stream.{key}"] = s[key] / len(windows)
            out[f"checkpoint.{key}"] = ws[key] / len(windows)
        self.spans = tracer.spans + [dict(sp, tag="stream-store") for sp in store.write_spans]
        return out
