"""Benchmark entry point.

    python3 benchmark/run.py --workload build|serve --seed N \
        --seconds S --trace 0|1

Run from the repository root.  The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` patches the program's public
functions with span wrappers (spans.py) and reports the per-layer metrics,
writes the spans and a report to .bench_run/trace/, and compares its own
end-to-end figures with the last untraced run of the same workload and seed
to give the tracing overhead.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_run")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    # fails here, before any process starts, when the package is absent
    import searchengine_spark.index.pipeline  # noqa: F401

    import workloads
    from spans import Tracer

    scratch = os.path.join(OUT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    tracer = Tracer() if args.trace else None
    run = workloads.Run(ROOT, scratch, args.seed, args.seconds, tracer, T0)
    try:
        if tracer is not None:
            tracer.install()
        workloads.WORKLOADS[args.workload](run)
    finally:
        if tracer is not None:
            tracer.uninstall()
        run.stop_spark()
        shutil.rmtree(scratch, ignore_errors=True)

    for e in run.errors[:20]:
        print(f"CHECK FAILED {e}", file=sys.stderr)
    e2e = {k: {"value": v, "unit": u} for k, (v, u) in run.metrics.items()}
    key = f"{args.workload}-seed{args.seed}"
    if tracer is None:
        os.makedirs(os.path.join(OUT, "untraced"), exist_ok=True)
        with open(os.path.join(OUT, "untraced", key + ".json"), "w") as f:
            json.dump(e2e, f)
        metrics = e2e
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in run.layer.items()}
        _trace_report(tracer, key, e2e, metrics)
    print(json.dumps({"correct": not run.errors, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def _trace_report(tracer, key, e2e, layer):
    """Spans file, per-span-name self times, and the tracing overhead:
    traced end-to-end figures over the last untraced run's."""
    d = os.path.join(OUT, "trace")
    os.makedirs(d, exist_ok=True)
    tracer.write(os.path.join(d, key + ".spans.jsonl"))
    overhead = {}
    base = os.path.join(OUT, "untraced", key + ".json")
    if os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)
        for k, v in e2e.items():
            u = untraced.get(k, {}).get("value")
            if u:
                overhead[k] = v["value"] / u - 1.0
    report = {"self_times": tracer.self_times(), "per_layer": layer,
              "end_to_end_traced": e2e,
              "tracing_overhead": overhead or "no untraced run of this "
                                              "workload and seed to compare"}
    with open(os.path.join(d, key + ".report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(f"trace: {len(tracer.spans)} spans -> {d}/{key}.*", file=sys.stderr)
    for k, v in sorted(overhead.items()):
        print(f"tracing overhead {k}: {v:+.1%}", file=sys.stderr)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:  # noqa: BLE001 - report, then fail the run
        traceback.print_exc()
        sys.exit(1)
