"""The engine's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload dashboard|ingest|analytics \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  With ``--trace 0`` the last line of
standard output is a JSON object holding every end-to-end metric of
BENCHMARK.json; with ``--trace 1`` the run measures one window of the
same length in which every other operation is traced, and prints every
per-layer metric instead (metrics of layers the workload never enters
read 0).
A traced run also writes its spans and its per-layer table under
``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def workload_class(name: str):
    if name == "dashboard":
        from dashboard import Dashboard
        return Dashboard
    if name == "ingest":
        from ingest import Ingest
        return Ingest
    if name == "analytics":
        from analytics import Analytics
        return Analytics
    raise SystemExit(f"unknown workload {name!r}")


def load_spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    cls = workload_class(args.workload)
    scratch = common.prepare_env()
    try:
        import real_time_data_analytics_cassandra_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is missing: {exc}", file=sys.stderr)
        common.cleanup(scratch)
        return 2

    spark = wl = None
    try:
        spark = common.start_spark(scratch)
        session_s = common.since_start()
        wl = cls(spark, scratch, args.seed)
        setup_s = common.since_start()
        checks = common.Checks()
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "setup_s": setup_s, "session_s": session_s,
        }
        if args.trace == 0:
            untraced = wl.measure(args.seconds)
            wl.check(checks, untraced)
            e2e = wl.end_to_end(untraced)
            metrics = {"setup_s": common.metric(setup_s, "s"), **e2e}
            missing = {m["name"] for m in spec["end_to_end"]} - set(metrics)
            if missing:
                raise RuntimeError(f"metrics not measured: {sorted(missing)}")
            detail["end_to_end"] = {k: v["value"] for k, v in e2e.items()}
        else:
            metrics = traced_run(spark, wl, args, spec, checks, detail)
        common.emit(checks, metrics, detail)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            common.stop_spark(spark)
        common.cleanup(scratch)


def traced_run(spark, wl, args, spec, checks, detail) -> dict:
    """One window in which every other operation is traced."""
    from tracer import SparkStats, Tracer

    tracer = Tracer()
    tracer.sc = spark.sparkContext
    tracer.capture = set(getattr(wl, "trace_capture", ()))
    tracer.install(getattr(wl, "trace_extra", ()))
    try:
        mixed = wl.measure(args.seconds, tracer)  # every other op traced
    finally:
        tracer.uninstall()
    wl.check(checks, mixed)
    stats = SparkStats(spark)
    layers = wl.layers(mixed, tracer, stats)
    layers.update(stats.leaks(os.environ["TMPDIR"]))
    # traced against untraced ops of the same window, so that warm-up
    # drift does not count as tracing overhead
    on, off = (
        wl.end_to_end(wl.subset(mixed, traced))["latency_p50_ms"]["value"]
        for traced in (True, False)
    )
    layers["trace.overhead_pct"] = (on / off - 1.0) * 100.0
    out = os.path.join(common.ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    tracer.write_jsonl(os.path.join(out, f"trace-{stem}.jsonl"), detail)
    with open(os.path.join(out, f"layers-{stem}.json"), "w") as fh:
        json.dump({"detail": detail, "layers": layers}, fh, indent=1, sort_keys=True)
    unknown = set(layers) - {m["name"] for m in spec["per_layer"]}
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        m["name"]: common.metric(layers.get(m["name"], 0.0), m["unit"])
        for m in spec["per_layer"]
    }


if __name__ == "__main__":
    sys.exit(main())
