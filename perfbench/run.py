"""CDC→SCD2 benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the engine. Inputs are generated
from ``--seed`` inside the checkout (``.perfbench_work/``, removed at
exit); spans of a traced run are written to ``.perfbench_out/``. The
last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics
with ``--trace 1``. A run that cannot produce them exits non-zero
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, workloads  # noqa: E402


def spec() -> dict:
    with open(os.path.join(host.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def select(metrics: dict, wanted: list[dict]) -> dict:
    """The named metrics with their declared units; a missing one is a
    failed run, not a silently shorter result."""
    out = {}
    for m in wanted:
        if m["name"] not in metrics:
            raise KeyError(f"metric {m['name']} was not measured")
        value, unit = metrics[m["name"]]
        if unit != m["unit"]:
            raise ValueError(f"metric {m['name']} measured in {unit}, declared {m['unit']}")
        out[m["name"]] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        host.check_layout()
        bench_spec = spec()
    except (host.LayoutError, OSError) as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(host.ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        host.fit_env(work)
        workloads.execute(run)
        wanted = bench_spec["per_layer" if run.traced else "end_to_end"]
        metrics = select(run.metrics, wanted)
    except Exception:  # noqa: BLE001 — the boundary: report, no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = {
        "workload": args.workload, "seed": args.seed, "traced": run.traced,
        "host": {"cpus": host.host_cpus(), "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"]},
        "failures": run.outcome.notes, **run.record,
    }
    if run.tracer is not None:
        out = os.path.join(host.ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        stem = os.path.join(out, f"{args.workload}-{args.seed}")
        run.tracer.write(stem + ".spans.jsonl")
        record["spans"] = stem + ".spans.jsonl"
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({
        "correct": run.outcome.failed == 0,
        "attempted": run.outcome.attempted,
        "failed": run.outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
