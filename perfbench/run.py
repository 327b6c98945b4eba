"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_small --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. Prints a human-readable summary, then as
its last line one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``, scaled to the reference host's speed; with ``--trace 1``
they are its per-layer metrics. The full record (raw and scaled values,
every probe, job counts, spans) goes to ``.perfbench_out/``. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("serve_small", "cdc")
DEADLINE_S = 175  # a run must end within 180 s


def _units() -> tuple[dict[str, str], dict[str, str]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test configuration")
    args = ap.parse_args(argv)

    e2e_units, layer_units = _units()
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)

    from perfbench.hostprobe import MAX_PROGRAM_CPU
    from perfbench.workloads import Run, reap

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.scale,
              ROOT, T_PROCESS)
    try:
        run.execute()
    finally:
        reap()
    signal.alarm(0)

    raw, scaled = run.end_to_end()
    cpu_share = run.host.program_cpu_share()
    host_ok = cpu_share <= MAX_PROGRAM_CPU
    if not host_ok:
        print(f"program CPU during probes {cpu_share:.3f} s/s exceeds "
              f"{MAX_PROGRAM_CPU}: the normalization is not trustworthy", file=sys.stderr)
    if args.trace:
        values, units = run.per_layer(), layer_units
    else:
        values, units = scaled, e2e_units
    run.count_unmeasured(values, units)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale,
        "shape": {"master": f"local[{run.nproc}]", "n_shards": run.nproc,
                  "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS")},
        "end_to_end": {"raw": raw, "scaled": scaled},
        "setup": run.setup,
        "probes_s": run.host.probes,
        "program_cpu_during_probes_s": run.host.program_cpu,
        "probe_share_of_run": run.host.wall / (time.perf_counter() - T_PROCESS),
        "idle_waits_s": run.host.idle_waits,
        "samples": {"query_s": run.s.query, "batch_s": run.s.batch,
                    "freshness_s": run.s.fresh},
        "affected_shards_per_batch": run.s.affected_shards,
        "jobs_stages_tasks": run.job_counts(),
        "errors": run.errors,
    }
    if args.trace:
        record["per_layer"] = values
        record["self_time_by_op"] = run.tracer.self_time_table()
        record["layer_share_min"] = run.tracer.layer_share()
        record["spans"] = run.tracer.to_records()
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}"
    with open(os.path.join(out_dir, f"{stem}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"shape: {record['shape']}")
    print(f"jobs/stages/tasks per op (median): {record['jobs_stages_tasks']}")
    if args.trace:
        print("self time per op (median s):")
        for op, layers in record["self_time_by_op"].items():
            cells = ", ".join(f"{k}={v:.4f}" for k, v in sorted(layers.items()))
            print(f"  {op}: {cells}")
        untraced = os.path.join(out_dir, f"{stem}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]["raw"]["query_p50_s"]
            print(f"tracing overhead on query_p50_s: {raw['query_p50_s'] / base - 1:+.1%}")
    else:
        print("raw: " + ", ".join(f"{k}={v:.6g}" for k, v in raw.items()))
    for e in run.errors:
        print(f"FAILED: {e}")

    result = {
        "correct": run.failed == 0 and host_ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
