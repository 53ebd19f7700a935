"""Benchmark of record for the trade-analytics engine.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 16 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md) on
inputs generated from ``--seed``, checks every output, and prints as
its last line one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics of a separate traced run with ``--trace 1``. All
scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its spans in ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

import harness
import stats

WORKLOADS = ("dashboard", "batch", "adhoc")


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    harness.require_program()
    # a terminated run still removes its scratch files and children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spec = _spec()

    work = os.path.join(harness.ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        res, owned = _run(args, work)
    finally:
        os.chdir(harness.ROOT)
        shutil.rmtree(work, ignore_errors=True)

    for p in res.get("problems", [])[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    print(f"workload={args.workload} seed={args.seed} "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"latency_samples={res['samples']} "
          f"tail_percentile_supported={stats.tail_percentile(res['samples'])}")
    if args.trace:
        layers = {**res["layers"],
                  "trace.latency_mean_ms": res["e2e"]["latency_mean_ms"],
                  "trace.spans": len(res["tracer"].spans)}
        owned = {*owned, "trace.latency_mean_ms", "trace.spans"}
        if layers.keys() != owned:
            raise RuntimeError("per-layer metrics missing: "
                               f"{sorted(owned - layers.keys())}, "
                               f"unexpected: {sorted(layers.keys() - owned)}")
        # a layer the workload bypasses reads 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)),
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
        _dump_trace(res, args)
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]]),
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def _dump_trace(res: dict, args) -> None:
    """Spans, per-span Spark counters and self time by span name, for
    the per-layer breakdown behind the metrics."""
    tracer = res["tracer"]
    self_s: dict[str, float] = {}
    by_id = stats.self_times(tracer.spans)
    for s in tracer.spans:
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + by_id[s["id"]]
    out_dir = os.path.join(harness.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
        {"self_time_s": self_s, "counters": res.get("counters"),
         "layers": res["layers"]})


def _run(args, work: str) -> tuple[dict, tuple[str, ...]]:
    """The workload's result and the per-layer metrics it owns."""
    tracer = harness.Tracer(bool(args.trace))
    env = harness.program_env(work, bool(args.trace))
    if args.workload == "dashboard":
        import dashboard

        res = dashboard.run(work, env, args.seed, args.seconds, tracer)
        owned = dashboard.LAYERS
    else:
        os.environ.clear()
        os.environ.update(env)
        os.chdir(work)
        sys.path.insert(0, harness.ROOT)
        if args.workload == "batch":
            import batch

            res = batch.run(work, args.seed, args.seconds, tracer)
            owned = batch.LAYERS
        else:
            import adhoc

            res = adhoc.run(work, args.seed, args.seconds, tracer)
            owned = (*adhoc.LAYERS, *harness.SPARK_LAYERS)
    res["tracer"] = tracer
    return res, owned


if __name__ == "__main__":
    sys.exit(main())
