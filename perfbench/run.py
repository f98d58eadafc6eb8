"""Repo benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload text_batch --seed 42 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` times the untraced pipeline
and prints the end-to-end metrics; ``--trace 1`` runs the traced
per-layer tour instead and prints the per-layer metrics. The last
stdout line is {"correct", "attempted", "failed", "metrics"}; a summary
line with every metric's name and unit (and error_rate) precedes it.
See perfbench/README.md for the workloads, metrics and layer mapping.
"""

import argparse
import json
import os
import statistics
import sys
import time

T_START = time.perf_counter()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import host  # noqa: E402

WORKLOADS = {"text_batch": "text", "image_batch": "image"}  # name: input kind


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def preflight():
    """Fail fast when the engine sources are not beside the benchmark."""
    for need in ("pdftabextract_spark/__init__.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(host.REPO_ROOT, need)):
            sys.exit(f"perfbench: {need} not found under {host.REPO_ROOT}")
    sys.path.insert(0, host.REPO_ROOT)


def declared_metrics(key):
    """name -> unit for one metric list of BENCHMARK.json."""
    with open(os.path.join(host.REPO_ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


def result_line(correct, attempted, failed, metrics):
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})


def main(argv=None):
    args = parse_args(argv)
    preflight()
    host.become_subreaper()
    import workloads

    kind, cores = WORKLOADS[args.workload], host.host_cores()
    heap = host.driver_heap_gb()
    # inputs are generated in a child process while the JVM starts
    gen = workloads.start_generation(kind, args.seed)
    spark = None
    try:
        spark = host.start_session(cores, heap, ui=bool(args.trace))
        phases = {"session_s": time.perf_counter() - T_START}
    finally:
        generated = workloads.finish_generation(gen)
    phases["inputs_wait_s"] = time.perf_counter() - T_START - phases["session_s"]
    try:
        wl = workloads.make_workload(spark, kind, args.seed, generated)
        if args.trace:
            import tracing
            out = tracing.run(spark, wl, args, cores, heap, T_START,
                              declared_metrics("per_layer"))
            spark = out.pop("spark")
        else:
            cold, reps, used = workloads.measure(spark, wl, args.seconds, cores)
            cpus = [r["cpu_s"] for r in reps]
            out = {
                "metrics": workloads.e2e_metrics(wl, cold, used, cores),
                # the cold rep's output is checked too
                "attempted": wl.n_units * (len(reps) + 1),
                "failed": sum(r["failed"] for r in [cold, *reps]),
                "info": {"setup_wall_s": cold["start"] + cold["wall_s"] - T_START,
                         "cold_wall_s": cold["wall_s"],
                         "cold_cpu_s": cold["cpu_s"],
                         # steady state is checked, not assumed: how far
                         # the timed reps' CPU seconds stray from each other
                         "timed_cpu_spread": (max(cpus) - min(cpus))
                         / statistics.median(cpus),
                         "rep_wall_s": [r["wall_s"] for r in reps],
                         "rep_cpu_s": cpus,
                         "rep_gc_s": [r["gc_s"] for r in reps],
                         "rep_steal_s": [r["steal_s"] for r in reps],
                         "reps_disturbed": len(reps) - len(used)},
            }
    finally:
        host.shutdown(spark)

    declared = declared_metrics("per_layer" if args.trace else "end_to_end")
    if set(out["metrics"]) != set(declared):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(out['metrics']) ^ set(declared))}")
    attempted, failed = out["attempted"], out["failed"]
    summary = {"workload": args.workload, "seed": args.seed,
               "cores": cores, "driver_heap_gb": heap,
               "units": wl.units, "setup_phases_s": phases,
               "error_rate": {"value": failed / attempted, "unit": "share"},
               **out["info"], **out["metrics"]}
    print(json.dumps({"perfbench_summary": summary}))
    print(result_line(failed == 0, attempted, failed, out["metrics"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
