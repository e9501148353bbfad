"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout. Generates the workload's inputs from
the seed, starts Spark on ``local[4]``, runs one warm-up pass of each of the
workload's parts, times rounds of one pass of each part for ``--seconds``,
checks every output and prints one JSON object as the last line of standard
output. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics and writes the spans to ``.perfbench_out/``. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "marky_spark")):
        print(f"no marky_spark package under {ROOT}: run from the root of "
              "a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seed < 0:
        print("--seed must be >= 0", file=sys.stderr)
        return 2
    e2e_units = metric_units("end_to_end")
    units = metric_units("per_layer") if args.trace else e2e_units

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark's scratch (shuffle, spills, pyspark temp files) stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    spark = None
    t_start = time.perf_counter()
    try:
        inputs = workloads.prepare(args.workload, args.seed, work)
        t_prep = time.perf_counter()
        spark = harness.start_session(work)
        t_setup = time.perf_counter()
        tracer = harness.Tracer() if args.trace else None
        out = workloads.run(spark, inputs, args.seconds, tracer)
        run_wall = time.perf_counter() - t_setup
    finally:
        if spark is not None:
            harness.shut_down(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there

    e2e = {
        "docs_per_sec": out.docs_per_sec,
        "setup_s": t_setup - t_prep + out.timing.warm_s,
        "peak_rss_mb": out.timing.peak_rss_mb,
        "recall": out.recall,
        "bytes_out_per_byte_in": out.bytes_out_per_byte_in,
    }
    print(f"# {args.workload} seed={args.seed}: rounds of {out.items} items; "
          f"inputs {t_prep - t_start:.1f} s, session {t_setup - t_prep:.1f} s, "
          f"run {run_wall:.1f} s (warm-up {out.timing.warm_s:.1f} s), "
          f"total {time.perf_counter() - t_start:.1f} s")
    for part, walls in out.timing.walls.items():
        print(f"#   {part} passes {' '.join(f'{w:.2f}' for w in walls)} s")
    for name, unit in e2e_units.items():
        print(f"#   {name:24s} {e2e[name]:14.4f} {unit}")
    print(f"#   {'failed_frac':24s} {out.failed / out.attempted:14.4f} ratio")
    for name, value in out.extra.items():
        print(f"#   {name:24s} {value:14.4f}")

    if args.trace:
        layers = dict.fromkeys(units, 0.0)  # layers this workload never hits
        layers["session.start_s"] = t_setup - t_prep
        layers["session.warm_s"] = out.timing.warm_s
        layers.update(out.layers)
        wall = out.timing.wall
        layers["trace.untraced_wall_s"] = wall
        # the traced pass drains stages one by one and times kernels
        # in-process: extra work, not the cost of the spans themselves
        layers["trace.traced_extra_s"] = tracer.seconds("traced_pass") - wall
        layers["trace.overhead_s"] = len(tracer.spans) * tracer.span_cost_s()
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-{args.seed}.json"),
                    layers)
        metrics = layers
    else:
        metrics = e2e
    if set(metrics) != set(units):
        raise AssertionError("metrics differ from BENCHMARK.json: "
                             f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps({
        "correct": out.failed == 0 and out.ok,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
