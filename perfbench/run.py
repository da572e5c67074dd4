"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Runs one workload of BENCHMARK.json in this process on local[N], N = the
CPUs this process may use. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics; with --trace 1 they are the per-layer
metrics of a traced run, whose spans and workload-specific detail are
also written to .perfbench_out/ in the checkout. Lines before the last
one are the run header and, for traced runs, the detail report.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import ROOT, Run, RssSampler, header  # noqa: E402


def _spec() -> dict:
    """BENCHMARK.json: the metric names and units a run must print."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full",
                   help="input scale: full (benchmark) or tiny (smoke test)")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch tree
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, _: sys.exit(128 + signum))

    # the program under test; absent from a tree holding only the
    # benchmark, which must fail here before printing any result
    import apt_search_engine_spark  # noqa: F401

    from perfbench import inputs, workloads
    from perfbench.tracing import Trace, Tracer, layer_metrics

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}")
    if args.size not in inputs.SIZES:
        p.error(f"unknown size {args.size!r}")
    cores = len(os.sched_getaffinity(0))
    print(json.dumps(header(args, cores)), flush=True)
    rss = RssSampler().start()
    run = Run(cores)
    try:
        spark = run.start_spark(trace=bool(args.trace))
        tracer = Tracer(spark) if args.trace else None
        if tracer is not None:
            tracer.install()
        res = workloads.WORKLOADS[args.workload](
            run, spark, inputs.SIZES[args.size], args.seed, args.seconds,
            tracer)
        rss.stop()
        res.metrics["peak_rss_mb"] = rss.peak_mb
        res.report.update({f"peak_rss.{k}": v for k, v in rss.peak_split.items()})
        if tracer is not None:
            tracer.uninstall()
            trace = Trace(tracer)
            timed = {rid: (res.client.log[rid][0].family,
                           res.client.log[rid][1]) for rid in res.timed_ids}
            metrics, report = layer_metrics(trace, timed, cores)
            metrics.update(workloads.index_usage(res.index_dir))
            report.update(res.report)
            report["trace.query_p50_ms"] = res.metrics["query_p50_ms"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(
                    out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({"spans": list(trace.spans.values()),
                           "jobs": trace.jobs, "report": report}, f,
                          default=str)
        else:
            metrics, report = res.metrics, res.report
        names = _spec()["per_layer" if tracer else "end_to_end"]
        out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
               for m in names}
    finally:
        rss.stop()
        run.close()
    for why in (res.wrong + res.errors)[:20]:
        print(json.dumps({"failed_op": why}), flush=True)
    print(json.dumps({"report": report}, default=str), flush=True)
    print(json.dumps({
        "correct": not res.wrong, "attempted": res.attempted,
        "failed": res.failed, "metrics": out,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
