"""Run one workload of the parzig_spark engine benchmark.

    python3 perfbench/run.py --workload corpus_roundtrip --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, on ``local[<cores>]`` from this single
driver process. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the spans
to ``.perfbench_work/trace-<workload>-<seed>.json``). ``--smoke`` shrinks
every input to sf0.001 size for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_roundtrip", "store_queries")

# name -> unit, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s", "encode_mbps": "MB/s", "decode_mbps": "MB/s",
    "stored_bytes_ratio": "ratio", "size_vs_parquet": "ratio", "peak_rss_mb": "MB",
    "query_mean_ms": "ms",
}
CODECS = (
    "plain", "rle", "bitpack", "dict", "delta", "for",
    "delta_length", "delta_byte", "fsst", "byte_stream_split",
)
PER_LAYER = {
    **{f"codecs.encode_s.{c}": "s" for c in CODECS},
    **{f"codecs.bytes_in.{c}": "bytes" for c in CODECS},
    **{f"codecs.bytes_out.{c}": "bytes" for c in CODECS},
    **{f"codecs.decode_s.{c}": "s" for c in CODECS},
    "codecs.digest_s": "s", "codecs.stats_s": "s",
    "manifest.read_blob_s": "s", "manifest.blob_bytes_read": "bytes",
    "manifest.write_partition_s": "s", "manifest.files_written": "count",
    "manifest.snapshot_s": "s",
    "selector.choose_s": "s", "selector.trial_encodes": "count",
    "encode.plan_s": "s", "encode.job_s": "s", "encode.partitions": "count",
    "encode.kernel_s": "s",
    "decode.plan_s": "s", "decode.partitions_read": "count",
    "decode.partitions_pruned": "count", "decode.rows_useful_frac": "fraction",
    "datasource.plan_s": "s", "datasource.partitions_planned": "count",
    "aggregate.metadata_frac": "fraction",
    "verify.s": "s", "verify.rows_checked": "count",
    "spark.passthrough_s": "s", "spark.shuffle_bytes": "bytes", "spark.task_s": "s",
    "spark.gc_s": "s", "spark.failed_tasks": "count",
    "lookup_mean_ms": "ms", "agg_mean_ms": "ms", "sql_mean_ms": "ms",
    "trace.overhead_s": "s",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def end_to_end(run, peak_rss_mb: float) -> dict[str, float]:
    """Queries report one mean over the run's six timed queries (two each
    of lookup, aggregate and SQL): the two queries of one kind spread too
    widely from run to run to bound on their own, so the kinds are
    per-layer metrics."""
    s = run.samples
    return {
        "setup_s": s["setup_s"][0],
        "encode_mbps": _median(s["encode_mbps"]),
        "decode_mbps": _median(s["decode_mbps"]),
        "stored_bytes_ratio": _median(s["stored_bytes_ratio"]),
        "size_vs_parquet": _median(s["size_vs_parquet"]),
        "peak_rss_mb": peak_rss_mb,
        "query_mean_ms": _mean(s["lookup_ms"] + s["agg_ms"] + s["sql_ms"]),
    }


def per_layer(run, spark_events: dict) -> dict[str, float]:
    """Replay kernels are totals over one replay; driver spans are medians
    per call; spark.* are per measured operation."""
    rec, s = run.rec, run.samples
    out = {}
    for c in CODECS:
        out[f"codecs.encode_s.{c}"] = rec.total(f"codecs.encode.{c}")
        out[f"codecs.bytes_in.{c}"] = rec.counters.get(f"codecs.bytes_in.{c}", 0)
        out[f"codecs.bytes_out.{c}"] = rec.counters.get(f"codecs.bytes_out.{c}", 0)
        out[f"codecs.decode_s.{c}"] = rec.total(f"codecs.decode.{c}")
    ops = max(1, run.measured_ops)
    out.update({
        "codecs.digest_s": rec.total("codecs.digest"),
        "codecs.stats_s": rec.total("codecs.stats"),
        "manifest.read_blob_s": rec.total("manifest.read_blob"),
        "manifest.blob_bytes_read": rec.counters.get("manifest.blob_bytes_read", 0),
        "manifest.write_partition_s": rec.total("manifest.write_partition"),
        "manifest.files_written": rec.counters.get("manifest.files_written", 0),
        "manifest.snapshot_s": _median(rec.durations("manifest.fresh_snapshot")),
        "selector.choose_s": rec.total("selector.choose"),
        "selector.trial_encodes": rec.counters.get("selector.trial_encodes", 0),
        "encode.plan_s": rec.total("encode.plan"),
        "encode.job_s": _median(rec.durations("encode.job")),
        "encode.partitions": _median(s["encode.partitions"]),
        "encode.kernel_s": _median(s["encode.kernel_s"]),
        "decode.plan_s": _median(rec.durations("decode_table")),
        "decode.partitions_read": _median(s["decode.partitions_read"]),
        "decode.partitions_pruned": _median(s["decode.partitions_pruned"]),
        "decode.rows_useful_frac": _median(s["decode.rows_useful_frac"]),
        "datasource.plan_s": _median(rec.durations("datasource.plan")),
        "datasource.partitions_planned": _median(s["datasource.partitions_planned"]),
        "aggregate.metadata_frac": _median(s["aggregate.metadata_frac"]),
        "verify.s": _median(s["verify.s"]),
        "verify.rows_checked": _median(s["verify.rows_checked"]),
        "spark.passthrough_s": _median(s["spark.passthrough_s"]),
        "spark.shuffle_bytes": spark_events["shuffle_bytes"] / ops,
        "spark.task_s": spark_events["task_s"] / ops,
        "spark.gc_s": spark_events["gc_s"] / ops,
        "spark.failed_tasks": spark_events["failed_tasks"],
        "trace.overhead_s": _median(s["trace.overhead_s"]),
        **{f"{k}_mean_ms": _mean(s[f"{k}_ms"]) for k in ("lookup", "agg", "sql")},
    })
    return out


def _measure(args, work: str):
    """One run in its own Spark session; returns (run, event-log totals,
    peak RSS in MB). The session and all its processes are gone on return."""
    from perfbench import harness, tracing

    events_dir = harness.prepare_env(work)
    from perfbench import workloads as wl

    rec = tracing.Recorder(enabled=False)
    size = wl.SIZES["smoke" if args.smoke else "full"]
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = harness.start_spark()
        session_s = time.perf_counter() - t0
        harness.log(f"session started in {session_s:.2f}s")
        try:
            run = wl.Run(spark, rec, bool(args.trace), args.seed, args.seconds, size, work)
            patches = tracing.driver_patches(rec) if args.trace else contextlib.nullcontext()
            with patches:
                wl.run_workload(run, wl.WORKLOADS[args.workload], session_s)
        finally:
            harness.stop_spark(spark)
    return run, harness.read_event_log(events_dir, "measure:"), rss.peak_mb


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001-sized inputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, "parzig_spark")):
        print(f"perfbench: no parzig_spark package under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    from perfbench import harness

    work = os.path.join(harness.WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        run, events, peak_rss_mb = _measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wrong = run.failed
    run.failed += events["failed_tasks"]
    if args.trace:
        metrics, units = per_layer(run, events), PER_LAYER
        run.rec.dump(os.path.join(harness.WORK, f"trace-{args.workload}-{args.seed}.json"))
    else:
        metrics, units = end_to_end(run, peak_rss_mb), END_TO_END

    n_queries = sum(len(run.samples[k]) for k in ("lookup_ms", "agg_ms", "sql_ms"))
    print(f"perfbench: {args.workload} seed={args.seed} ops={run.attempted} "
          f"failed={run.failed} error_rate={run.failed / max(1, run.attempted):.4f} "
          f"query_samples={n_queries} spark_failed_tasks={events['failed_tasks']}")
    print("perfbench: query means: " + " ".join(
        f"{k}={_mean(run.samples[f'{k}_ms']):.1f}ms" for k in ("lookup", "agg", "sql")))
    if args.trace:
        pairs = ",".join(f"{k}:{n}" for k, n in sorted(run.overhead_pairs.items()))
        print(f"perfbench: trace.overhead_s is the median of "
              f"{len(run.samples['trace.overhead_s'])} traced-untraced pairs ({pairs})")
    for p in run.problems:
        print(f"perfbench: FAILED {p}")
    result = {
        "correct": wrong == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
