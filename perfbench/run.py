#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload gold_etl --seed 1 --seconds 10 --trace 0

Runs one seeded workload against the package on ``local[<cores>]``
with one closed-loop client, checks every output against planted or
replayed ground truth outside the timed window, and prints one JSON
object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics and
writes the spans to ``.perfbench_out/``. Progress goes to stderr.
The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "spatially_databricks_etl_spark"
WORKLOADS = ("gold_etl", "corpus_curate", "search_mixed")

# name -> unit. Every workload fills every end-to-end metric from its
# own ops; the README has the per-workload table. Tails are not among
# them: a run takes 1-5 samples of an op kind, so no percentile has
# ten samples beyond it. The stderr summary reports per kind the tail
# rule's result (the maximum below eleven samples) with its sample
# count instead.
END_TO_END = {
    "setup_s": "s",
    "ops_ok_frac": "ratio",
    "bulk_items_per_s": "1/s",
    "write_p50_s": "s",
    "read_p50_s": "s",
    "lookup_p50_s": "s",
    "bytes_written_per_input_byte": "ratio",
}

# A layer a workload never enters reports 0.
PER_LAYER = {
    "session.start_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "sources.read_csv.s": "s",
    "sources.read_csv.input_bytes": "bytes",
    "sources.read_csv.rows_per_s": "1/s",
    "plans.transform_filter.s": "s",
    "plans.transform_filter.jobs": "count",
    "relational.cdc_apply.s": "s",
    "relational.merge_upsert.s": "s",
    "relational.merge.shuffle_bytes": "bytes",
    "relational.merge.jobs": "count",
    "sinks.versioned_write.s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.versioned_read.s": "s",
    "curate.quality_gate.s": "s",
    "curate.quality_pass_ratio": "ratio",
    "curate.connected_components.s": "s",
    "curate.connected_components.jobs": "count",
    "dedup.exact_dedup.s": "s",
    "dedup.minhash_pairs.s": "s",
    "dedup.lsh_candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.pair_precision": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "similarity.ivf_build.s": "s",
    "similarity.ivf_write_index.s": "s",
    "similarity.ivf_search.jobs_per_call": "count",
    "similarity.ivf_search.tasks_per_call": "count",
    "similarity.ivf_search.driver_s": "s",
    "similarity.ivf_search.rows_scanned_per_result": "ratio",
    "retrieval.bm25_write_index.s": "s",
    "retrieval.bm25_search.jobs_per_call": "count",
    "retrieval.bm25_search.driver_s": "s",
    "indexstore.mutation.s": "s",
    "indexstore.files_per_probed_cell": "count",
    "caching.cached_blocks_after_op": "count",
    "trace.overhead_s_per_op": "s",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.harness import Bench, log
    from perfbench.metrics import median, tail

    workload = importlib.import_module(f"perfbench.{args.workload}")
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    try:
        t0 = time.perf_counter()
        session_s = b.start_session()
        own = workload.run(b)
        t_checks = time.perf_counter()
        b.run_checks()
        log(f"{len(b.checks)} output checks {time.perf_counter() - t_checks:.2f}s")
        setup_s = b.window_started - t0
        summary: dict = {"workload": args.workload, "seed": args.seed,
                         "setup_s": setup_s, "session_s": session_s,
                         "attempted": b.ops.attempted, "raised": b.ops.raised,
                         "wrong": b.ops.wrong, "samples": {}}
        if args.trace:
            names = PER_LAYER
            metrics = trace_metrics(b, own, session_s)
        else:
            names = END_TO_END
            metrics = {"setup_s": setup_s, "ops_ok_frac": b.ops.ok_frac}
            for kind in ("write", "read", "lookup"):
                xs = b.samples(kind)
                t = tail(xs)
                metrics[f"{kind}_p50_s"] = median(xs)
                summary["samples"][kind] = {"n": t.n, "tail_s": t.value,
                                            "tail_percentile": t.percentile,
                                            "beyond": t.beyond, "durations_s": xs}
            metrics.update({k: v for k, v in own.items() if k in END_TO_END})
        missing = set(names) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not produced: {sorted(missing)}")
        log("summary " + json.dumps(summary))
        correct = b.ops.failed == 0
        print(json.dumps({
            "correct": correct,
            "attempted": b.ops.attempted,
            "failed": b.ops.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": names[k]} for k in names},
        }), flush=True)
        return 0 if correct else 1
    finally:
        b.close()


def trace_metrics(b, own: dict, session_s: float) -> dict:
    """Per-layer metrics of a traced run, plus its own overhead: the
    median traced op time minus the median untraced op time, averaged
    over the op kinds both halves of the window ran."""
    from perfbench.harness import log
    from perfbench.metrics import median

    tr = b.tracer
    tr.collect()
    diffs = [
        median(b.phase_durations["traced"][k]) - median(xs)
        for k, xs in b.phase_durations["untraced"].items()
        if b.phase_durations["traced"].get(k)
    ]
    sink_spans = tr.named("sinks.versioned_write") + tr.named("sinks.write_parquet")
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update({
        "session.start_s": session_s,
        "session.jvm_peak_rss_mb": b.jvm_peak_rss_mb(),
        "sinks.versioned_write.s": tr.med("sinks.versioned_write", "self_s"),
        "sinks.versioned_read.s": tr.med("sinks.versioned_read", "self_s"),
        "sinks.bytes_written": float(sum(s.counts.get("bytes_written", 0) for s in sink_spans)),
        "sinks.files_written": float(sum(s.counts.get("files_written", 0) for s in sink_spans)),
        "caching.cached_blocks_after_op": float(max(b.cached_after_op, default=0)),
        "trace.overhead_s_per_op": sum(diffs) / len(diffs) if diffs else 0.0,
    })
    metrics.update({k: v for k, v in own.items() if k in PER_LAYER})
    path = os.path.join(b.out_dir, f"trace-{b.workload}-seed{b.seed}.json")
    tr.dump(path, {"workload": b.workload, "seed": b.seed,
                   "per_layer": {k: float(v) for k, v in metrics.items()},
                   "op_durations": b.phase_durations})
    log(f"trace written to {os.path.relpath(path, ROOT)}")
    return metrics


if __name__ == "__main__":
    sys.exit(main())
