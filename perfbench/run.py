"""finchspark benchmark: one workload, one fresh Spark session, one run.

    python3 perfbench/run.py --workload fork-families --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints a table of every metric by name and
unit, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, measured with tracing off; with
``--trace 1`` they are the per-layer ones from a traced run. See
perfbench/README.md for the workloads and what each metric should move.
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import threading


HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("fork-families", "stream-ingest")
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "files_per_s": "1/s", "epoch_p50_s": "s",
    "pair_recall": "ratio",
}
# fork-families corpus: 40 families (about 7k within-family pairs)
FORK_FAMILIES = 40
# untimed passes before timing: the cold one (JIT, code generation, Python
# workers); timing starts on the second pass, and the median of at least
# three timed passes leaves out a pass still settling
WARM_PASSES = 1
# files in the code corpus the traced stream-ingest run profiles in batch
PROFILE_FILES = 10000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare(args, work, config) -> dict:
    """Generate and write the workload's inputs and its duplicate truth
    (no Spark), and compile the C kernel into the work directory."""
    profile = None
    try:
        import harness
        import inputs
        from finchspark.kernels import cmurmur

        cmurmur.available()
        if args.workload == "fork-families":
            corpus = inputs.fork_families(args.seed, FORK_FAMILIES, n_short_groups=200)
            inputs.write_parquet(corpus.docs, work / "input", 2 * harness.cores())
        else:
            from stream import write_profile_input, write_stream_inputs

            corpus = write_stream_inputs(work, args.seed, args.seconds)
            if args.trace:
                profile = write_profile_input(work, args.seed, PROFILE_FILES)
        return {"corpus": corpus, "truth": corpus.duplicates(config), "profile": profile}
    except Exception as e:  # re-raised in the main thread
        return {"error": e}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "finchspark")):
        print(f"finchspark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    import harness
    from harness import RssSampler, Workdir, process_age_s, start_session, stop_session

    work = Workdir()
    harness.scratch_env(work)
    from finchspark.config import PipelineConfig
    from finchspark.kernels import SketchParams

    # the recall tests' config: 128-hash bottom-k sketches of 21-byte
    # shingles at the 0.8 Jaccard threshold the default LSH bands are tuned
    # for (at 0.5 they catch a J=0.5 pair with p~0.64, so a recall floor
    # would measure the band choice, not the program)
    config = PipelineConfig(
        sketch=SketchParams(kmers_to_sketch=128, final_size=128, kmer_length=21),
        jaccard_threshold=0.8,
    )
    spark = None
    # sampling /proc competes with the Spark driver code for the GIL, so
    # peak RSS is only sampled in traced runs (it is a per-layer metric)
    rss = RssSampler()
    if args.trace:
        rss.start()
    try:
        # inputs are generated (and the C kernel compiled) while the JVM starts
        prepared = {}
        gen = threading.Thread(target=lambda: prepared.update(prepare(args, work, config)))
        gen.start()
        try:
            spark = start_session(work, harness.cores())
        finally:
            gen.join()
        if "error" in prepared:
            raise prepared["error"]
        session_s = process_age_s()
        if args.workload == "fork-families":
            from batch import BatchRun

            run = BatchRun(spark, work, prepared["corpus"], prepared["truth"], work / "input", config, rss)
            run.warm_up(passes=WARM_PASSES)
        else:
            from stream import StreamRun

            run = StreamRun(spark, work, prepared["corpus"], prepared["truth"], config, rss,
                            prepared["profile"])
        setup_s = process_age_s()
        result = run.measure(args.seconds, bool(args.trace))
        metrics = result["metrics"]
        metrics.setdefault("setup_s", setup_s)
        result["info"]["setup"] = f"session={session_s:.1f}s,total={metrics['setup_s']:.1f}s"
        failures = run.checks.failures
        spans = getattr(run, "spans", None)
    finally:
        if spark is not None:
            stop_session(spark)
        rss.stop()
        work.close()

    if spans:
        os.makedirs(harness.WORK_ROOT, exist_ok=True)
        with open(harness.WORK_ROOT / f"spans-{args.workload}-{args.seed}.json", "w") as f:
            json.dump(spans, f)
    for msg in failures:
        print(f"CHECK FAILED: {msg}")
    if not all(k in metrics for k in END_TO_END):
        print("no timed pass or epoch completed", file=sys.stderr)
        return 1
    info = result["info"]
    print(f"workload={args.workload} seed={args.seed} cores={harness.cores()} "
          f"files={len(run.corpus.docs)} fingerprint={run.checks.fingerprint} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    attempted, failed = result["attempted"], result["failed"]
    print(f"{'error_rate':32s} {failed / attempted:12.4f} ratio")
    if args.trace:
        keep = {k: v for k, v in metrics.items() if k not in END_TO_END}
    else:
        keep = {k: metrics[k] for k in END_TO_END}
    for k, v in sorted(keep.items()):
        print(f"{k:32s} {v:12.4f} {unit_of(k)}")
    out = {
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in keep.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("mb_per_s"):
        return "MB/s"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "per_input_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
