"""Streaming-path two-parallelism-level scaling evidence (north_rule).

Replays a sharded synthetic corpus (FIXTURES.md §B) as micro-batches
through `streaming/neardup.py` — the continuous near-dup path: per-epoch
signatures, incremental LSH probe against the accumulated store, verify,
and the base + changelog component map — at local[N] and local[4N] in
separate JVMs, interleaved (N, 4N, N, 4N, ...), best-of-k per level.

Unlike the batch job-scaling harness (SPARK_GRAFT_NO_WRITE=1), the store
writes are INTRINSIC to the streaming path — the signature store is what
each epoch's incremental probe joins against — so they stay in the
measurement; both levels write to the same local disk, which on a real
cluster is a per-node resource, so the reported efficiency is a LOWER
bound on cluster scaling for this path. Per-epoch wall times and the
store-growth curve come from the StreamingQuery progress events.

Usage: python scripts/stream_scaling.py [N] [n_base] [repeats] [files_per_trigger]
Defaults: N=2, n_base=1_400_000 (~5 GB content / ~2.3M files), repeats=3,
files_per_trigger=4 (32 shards -> 8 micro-batches).
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

_WORKER = """
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
from pyspark.sql import SparkSession

corpus = {corpus!r}
cpus = {cpus}
fpt = {fpt}
work = tempfile.mkdtemp(prefix="stream_scale_")
try:
    spark = (
        SparkSession.builder.master(f"local[{{cpus}}]")
        .config("spark.sql.shuffle.partitions", str(max(8, 2 * cpus)))
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", work + "/spark")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams
    from finchspark.plans.checkpoint import TableStore
    from finchspark.streaming.neardup import neardup_stream

    cfg = PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=128, final_size=128, kmer_length=21),
        jaccard_threshold=0.5,
    )
    store = TableStore(work + "/store", cfg.params_hash())
    stream = (
        spark.readStream.schema("doc_id long, content string")
        .option("maxFilesPerTrigger", fpt)
        .parquet(corpus)
    )
    t0 = time.time()
    q = neardup_stream(
        stream, cfg, "signatures", "pairs", work + "/ckpt",
        components_path="components", compact_every=4, table_store=store,
        available_now=True,
    )
    q.awaitTermination()
    wall = time.time() - t0
    epochs = []
    for p in q.recentProgress:
        if not isinstance(p, dict):
            p = json.loads(p.json) if hasattr(p, "json") else p.asDict()
        dur = p.get("batchDuration") or sum((p.get("durationMs") or {{}}).values())
        epochs.append(
            {{
                "batch": int(p["batchId"]),
                "rows": int(p["numInputRows"]),
                "sec": round(dur / 1000.0, 2),
            }}
        )
    n_sigs = store.read("signatures").count()
    n_pairs = store.read("pairs").count()
    spark.stop()
    print("RESULT" + json.dumps({{
        "wall_sec": round(wall, 1),
        "n_files": n_sigs,
        "n_pairs": n_pairs,
        "epochs": epochs,
        "sig_store_mb": round(sum(
            f.stat().st_size for f in __import__("pathlib").Path(work + "/store").rglob("*") if f.is_file()
        ) / 1e6, 1),
    }}))
finally:
    shutil.rmtree(work, ignore_errors=True)
"""


def run_once(corpus: str, cpus: int, fpt: int) -> dict:
    code = _WORKER.format(repo=str(REPO), corpus=corpus, cpus=cpus, fpt=fpt)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, check=True
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")][-1]
    return json.loads(line[len("RESULT"):])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    n_base = int(sys.argv[2]) if len(sys.argv) > 2 else 1_400_000
    repeats = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    fpt = int(sys.argv[4]) if len(sys.argv) > 4 else 4

    corpus = f"/tmp/finchspark_synth_{n_base}_s32_42"
    if not os.path.isdir(corpus) or not os.listdir(corpus):
        from finchspark.sources.synth import write_synth_parquet_sharded

        t0 = time.time()
        n_docs = write_synth_parquet_sharded(corpus, n_base=n_base, n_shards=32)
        print(f"# corpus built: {n_docs} docs in {time.time() - t0:.0f}s", file=sys.stderr)

    lows, highs = [], []
    for rep in range(repeats):
        lows.append(run_once(corpus, n, fpt))
        print(f"# rep {rep} local[{n}]: {lows[-1]['wall_sec']}s", file=sys.stderr)
        highs.append(run_once(corpus, 4 * n, fpt))
        print(f"# rep {rep} local[{4 * n}]: {highs[-1]['wall_sec']}s", file=sys.stderr)
    lo = min(lows, key=lambda r: r["wall_sec"])
    hi = min(highs, key=lambda r: r["wall_sec"])
    t_lo, t_hi = lo["wall_sec"], hi["wall_sec"]
    print(
        json.dumps(
            {
                "level": "stream",
                "corpus": corpus,
                "n_files": lo["n_files"],
                "n_epochs": len(lo["epochs"]),
                "n_cores_low": n,
                "n_cores_high": 4 * n,
                "sec_low": t_lo,
                "sec_high": t_hi,
                "sec_low_all": [r["wall_sec"] for r in lows],
                "sec_high_all": [r["wall_sec"] for r in highs],
                "files_per_sec_low": round(lo["n_files"] / t_lo, 1),
                "files_per_sec_high": round(hi["n_files"] / t_hi, 1),
                "scaling_efficiency": round((t_lo / t_hi) / 4.0, 3),
                "epochs_low": lo["epochs"],
                "epochs_high": hi["epochs"],
                "store_mb": lo["sig_store_mb"],
                "outputs_agree": all(
                    r["n_pairs"] == lo["n_pairs"] and r["n_files"] == lo["n_files"]
                    for r in lows + highs
                ),
                "n_pairs": lo["n_pairs"],
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
