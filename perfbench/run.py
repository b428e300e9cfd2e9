"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload tick_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The workload's inputs are generated
from ``--seed``; the program under test only sees those inputs. The
last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` where ``metrics``
holds every end-to-end metric of BENCHMARK.json (``--trace 0``) or
every per-layer metric (``--trace 1``), each as ``{"value", "unit"}``.
The line before it is a JSON object with the run's details: host
context, workload inputs, sample counts, tail percentiles, checks.

A traced run turns on Spark's uncompressed event log, runs every
timed call under its own job group, attaches jobs and task metrics to
the spans, writes the spans as JSON lines under
``.perfbench_work/traces/``, and reports its own end-to-end wall time
against the untraced run of the same workload and seed in the checkout
(0 when there is none; the details line then says so).

The exit code is 0 when the run completed and every output check
passed; 1 when a check failed (the result line is printed first, with
``"correct": false``) or the run raised (no result line); 2 when the
run could not start (no package in the checkout, unknown workload).
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("session", "streaming.pipeline", "streaming.state", "streaming.sinks",
          "sources.txlog", "plans.textpipeline", "dashboard")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _workloads():
    from perfbench import corpus_curation, tick_stream
    return {"tick_stream": tick_stream, "corpus_curation": corpus_curation}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "gcp_data_engineering_workshop_spark")):
        print("perfbench: the program's package is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness

    workloads = _workloads()
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    mod = workloads[args.workload]
    spec = _spec()
    # on SIGTERM, unwind through the finally below: stop Spark, wait for
    # the JVM, remove the work directory
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    host = harness.HostMonitor()
    ws = harness.Workspace(args.workload, args.seed)
    tracer = harness.Tracer(bool(args.trace))
    session = harness.Session(ws, tracer)
    try:
        res = mod.run(session, tracer, ws, args.seed, args.seconds)
        peak_rss = session.peak_rss_mb()
        session.close()
        groups = tracer.attach_event_log(session.event_log) if args.trace else None
        e2e, layer, details = mod.metrics(res, tracer, groups)
        attempted, failed = mod.attempted_failed(res)
        correct = details["checks"]["all_ok"]
        steal = host.steal_frac()
        e2e_wall = res["wall_s"]
        e2e["setup_s"] = session.setup_s()
        e2e["peak_rss_mb"] = peak_rss
        layer.update({
            "session.start_s": harness.median(r["start_s"] for r in session.reps),
            "session.warm_s": harness.median(r["warm_s"] for r in session.reps),
            "session.state_s": harness.median(r["state_s"] for r in session.reps),
            "host.steal_frac": steal, "host.cpus": float(harness.nproc()),
            "host.peak_rss_mb": peak_rss,
        })
        base_file = os.path.join(harness.WORK_ROOT,
                                 f"untraced-{args.workload}-{args.seed}.json")
        if args.trace:
            selfs = tracer.self_times()
            for name in LAYERS:
                layer[f"trace.self_s.{name}"] = selfs.get(name, 0.0)
            layer["trace.e2e_wall_s"] = e2e_wall
            base = None
            if os.path.exists(base_file):
                with open(base_file) as f:
                    base = json.load(f)["e2e_wall_s"]
            layer["trace.overhead_s"] = e2e_wall - base if base is not None else 0.0
            details["trace_overhead_baseline_s"] = base
            if base is None:
                details["trace_overhead_note"] = (
                    "no untraced run of this workload and seed in the checkout")
            tdir = os.path.join(harness.WORK_ROOT, "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.dump(os.path.join(tdir, f"{args.workload}-{args.seed}.jsonl"))
        else:
            with open(base_file, "w") as f:
                json.dump({"e2e_wall_s": e2e_wall, "seed": args.seed}, f)
        details.update(workload=args.workload, trace=args.trace,
                       e2e_wall_s=e2e_wall,
                       context={**harness.host_context(args.seed), "steal_frac": steal},
                       inputs=mod.inputs(), setup_reps=session.reps,
                       end_to_end=e2e)
        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        values = layer if args.trace else e2e
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        session.close()
        ws.close()
    print(json.dumps(details, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
