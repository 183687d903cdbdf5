"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload stream_ingest --seed 1 --seconds 30 --trace 0

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``# perfbench ...``) carries the run
settings, sample counts, the trend check and ``failed_ratio``.
Workload parameters and their reasons are in ``perfbench/params.json``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import kinesis_app_spark  # noqa: E402,F401  (fails fast outside a checkout)

from perfbench import common  # noqa: E402

WORKLOADS = ("stream_ingest", "lakehouse_upsert")


def _module(name: str):
    return importlib.import_module(f"perfbench.{name}")


def _declared(kind: str) -> list[tuple[str, str]]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [(m["name"], m["unit"]) for m in bench[kind]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    tracer = common.Tracer(enabled=bool(args.trace))
    shm_before = common.shm_entries()
    with common.run_dir(args.workload) as rdir:
        common.prepare_environment(rdir)
        try:
            result = _module(args.workload).run(args.seed, args.seconds, tracer, rdir)
        finally:
            common.shutdown_jvm()
        run_dir_bytes = common.dir_bytes(rdir)
    shm_delta = common.shm_entries() - shm_before

    params = common.load_params()["engine"]
    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "master": f"local[{params['cores']}]",
        "shuffle_partitions": params["shuffle_partitions"],
        "failed_ratio": result["failed"] / max(result["attempted"], 1),
        **result["info"],
        "check_notes": result["notes"],
    }
    if args.trace:
        values = dict(result["layers"])
        values["scratch.shm_entries_delta"] = shm_delta
        values["scratch.run_dir_bytes"] = run_dir_bytes
        self_ms = tracer.self_ms_by_layer()
        for layer in common.SPAN_LAYERS:
            values[f"trace.self_ms.{layer}"] = self_ms.get(layer, 0.0)
        declared = _declared("per_layer")
        tracer.dump(os.path.join(
            common.ROOT, ".perfbench_out",
            f"spans-{args.workload}-{args.seed}-{int(time.time())}.json"))
    else:
        values = result["e2e"]
        declared = _declared("end_to_end")
    if args.trace:
        # layers this workload does no work in read 0
        idle = _module(args.workload).IDLE_LAYERS
        for name, _ in declared:
            if name.startswith(idle):
                values.setdefault(name, 0.0)
    missing = [n for n, _ in declared if values.get(n) is None]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in declared}
    print("# perfbench " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
