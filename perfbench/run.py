#!/usr/bin/env python3
"""tokcodec benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload {bulk,curation_mix}
        --seed N --seconds S --trace {0,1} [--smoke] [--corrupt-truth]

Run from the root of a checkout (the directory holding ``tokcodec/``).
The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics. Earlier lines carry the host
context and a per-request breakdown. Everything the run writes lives
under ``.perfbench_work/`` in the checkout; the run's scratch tables
are deleted at exit, its traces and result files are kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness, layers  # noqa: E402
from perfbench.workloads import SIZES, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "2g"  # the JVM heap; the cached frame needs well under 1g


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true",
                   help="toy-size inputs (seconds per workload; for tests)")
    p.add_argument("--corrupt-truth", action="store_true",
                   help="perturb the expected checksums, so every checked "
                        "reply must count as failed (tests the checker)")
    return p.parse_args(argv)


def _breakdown(client) -> dict:
    """Per-request-type figures: the names the workloads are discussed
    by (encode/decode throughput, per-type medians, the mix p90)."""
    out = {}
    for kind, lat in sorted(client.latency.items()):
        out[f"{kind}_p50_ms"] = 1e3 * statistics.median(lat)
        out[f"{kind}_samples"] = len(lat)
        if client.tokens.get(kind):
            out[f"{kind}_tok_per_s"] = client.tokens[kind] / sum(lat)
    lat = sorted(client.all_latencies())
    out["samples"] = len(lat)
    # a p90 is reported only when at least ten samples lie beyond it
    out["p90_ms"] = (1e3 * statistics.quantiles(lat, n=10)[-1]
                     if len(lat) >= 100 else None)
    out["failed_op_ratio"] = client.failed / max(1, client.attempted)
    for kind in sorted(client.jobs):
        out[f"spark.jobs.{kind}"] = statistics.median(client.jobs[kind])
        out[f"spark.tasks.{kind}"] = statistics.median(client.tasks[kind])
    out["latencies_ms"] = {k: [round(1e3 * x, 3) for x in v] for k, v in client.latency.items()}
    if client.errors:
        out["errors"] = client.errors[:10]
    return out


# request kinds that write rows and kinds that read rows back
WRITES = ("write", "append")
READS = ("read", "lookup", "scan")


def _p50_ms(client, kinds) -> float:
    lat = [x for k in kinds for x in client.latency.get(k, [])]
    return 1e3 * statistics.median(lat) if lat else 0.0


def _end_to_end(client, setup_s: float, size_ratio: float, rss_mb: float) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "write_p50_ms": {"value": _p50_ms(client, WRITES), "unit": "ms"},
        "read_p50_ms": {"value": _p50_ms(client, READS), "unit": "ms"},
        "mean_ms": {"value": _mean_ms(client), "unit": "ms"},
        "size_vs_parquet": {"value": size_ratio, "unit": "ratio"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
    }


def _per_layer(w, spark, work: str, seconds: float, detail: dict):
    """The traced run after setup: alternate untraced and traced loop
    cycles (the loop's count for ``seconds``, at least one of each), then run the
    per-layer suite. Returns the per-layer metrics, the tracer and the
    clients whose requests count as attempted."""
    untraced = w.client
    tracer = harness.Tracer()
    traced = harness.Client(spark, tracer, count_jobs=True)
    t_loop = time.perf_counter()
    _, traced_wall = w.loop(seconds, [untraced, traced])
    per_layer = {
        "trace.coverage": tracer.top_level_seconds(t_loop) / traced_wall,
        # traced over untraced mean request latency, interleaved cycles
        "trace.overhead_ratio": _mean_ms(traced) / max(_mean_ms(untraced), 1e-9),
    }
    detail.update(untraced=_breakdown(untraced), traced=_breakdown(traced),
                  self_s=tracer.self_times())
    suite = harness.Client(spark, harness.NullTracer(), count_jobs=True)
    per_layer.update(layers.kernel_layers(w.frame_rows))
    wl, suite_table = layers.write_layers(spark, suite, w.frame(), work)
    per_layer.update(wl)
    per_layer.update(layers.read_layers(spark, suite, w.table or suite_table,
                                        w.frame_rows, suite.tracer))
    for q in layers.REQUESTS:
        per_layer[f"spark.jobs.{q}"] = statistics.median(suite.jobs.get(q, [0]))
        per_layer[f"spark.tasks.{q}"] = statistics.median(suite.tasks.get(q, [0]))
    detail["suite_errors"] = suite.errors[:10]
    return per_layer, tracer, [untraced, traced, suite]


def _mean_ms(client) -> float:
    lat = client.all_latencies()
    return 1e3 * sum(lat) / len(lat) if lat else 0.0


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tokcodec", "__init__.py")):
        print(f"perfbench: no tokcodec package under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(base, f"run-{tag}-{os.getpid()}")
    for d in (work, os.path.join(base, "results"), os.path.join(base, "traces")):
        os.makedirs(d, exist_ok=True)
    cpus = os.cpu_count()
    context = harness.host_context(ROOT, work, f"local[{cpus}]", args.seed)
    context["memcpy_gbps_before"] = harness.memcpy_gbps()
    spark = None
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = harness.start_spark(ROOT, work, cpus, DRIVER_MEMORY)
            t_session = time.perf_counter()
            client = harness.Client(spark, harness.NullTracer())
            w = WORKLOADS[args.workload](spark, client, work, args.seed,
                                         SIZES["smoke" if args.smoke else "full"], cpus)
            w.setup()
            if args.corrupt_truth:
                w.corrupt_truth()
            setup_s = time.perf_counter() - t0
            w.setup_stages["session"] = t_session - t0
            detail = {"setup_stages_s": w.setup_stages}
            if args.trace:
                per_layer, tracer, clients = _per_layer(w, spark, work, args.seconds, detail)
                tracer.dump(os.path.join(base, "traces", f"{tag}.json"))
            else:
                w.loop(args.seconds)
                detail["untraced"] = _breakdown(client)
                clients = [client]
            harness.stop_spark(spark)
            spark = None
        context["memcpy_gbps_after"] = harness.memcpy_gbps()
        attempted = sum(c.attempted for c in clients)
        failed = sum(c.failed for c in clients)
        if args.trace:
            per_layer["host.memcpy_gbps"] = context["memcpy_gbps_after"]
            missing = set(layers.metric_names()) - set(per_layer)
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
            metrics = {k: {"value": float(per_layer[k]), "unit": _unit(k)}
                       for k in layers.metric_names()}
        else:
            metrics = _end_to_end(client, setup_s, w.size_vs_parquet, rss.peak_mb)
        result = {"correct": failed == 0 and attempted > 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        with open(os.path.join(base, "results", f"{tag}.json"), "w") as fh:
            json.dump({"context": context, "detail": detail, "result": result}, fh,
                      indent=1, default=str)
        print("perfbench-context " + json.dumps(context))
        print("perfbench-detail " + json.dumps(detail, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _unit(name: str) -> str:
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_mb_s", "MB/s"), ("_us_per_chunk", "us"), ("_ms_per_chunk", "ms"),
                         ("tok_per_s_core", "tok/s"), ("_gbps", "GB/s"), ("_ms_sum", "ms"),
                         ("_s", "s"), ("_ms", "ms"), ("ratio", "ratio"), ("coverage", "ratio"),
                         ("rows_out_per_row_scanned", "ratio")):
        if name.endswith(suffix):
            return unit
    if ".plan_ms." in name:
        return "ms"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
