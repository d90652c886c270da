"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Progress goes to stderr; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics (a layer the workload never
calls reads 0).  Run from the root of a checkout of the repository.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.common import PKG, ROOT, Session, log, scratch_dir  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {
    "dashboard": "perfbench.dashboard:Dashboard",
    "replication": "perfbench.replication:Replication",
    "curation": "perfbench.curation:Curation",
}


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        importlib.import_module(PKG)
    except ImportError as ex:
        log(f"perfbench: the engine package {PKG} is not importable here: {ex}")
        return 2
    bench = spec()
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}

    mod, cls = WORKLOADS[args.workload].split(":")
    tmp = scratch_dir(args.workload, args.seed)
    session = Session(tmp)
    tracer = Tracer(enabled=False)
    try:
        # only the replication open loop sizes its input by the run time
        extra = {"seconds": args.seconds} if args.workload == "replication" else {}
        wl = getattr(importlib.import_module(mod), cls)(session, tracer, tmp, args.seed, **extra)
        setup_s = wl.setup()
        res = wl.run(args.seconds, bool(args.trace))
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".bench_tmp", "traces"), exist_ok=True)
            tracer.write(
                os.path.join(ROOT, ".bench_tmp", "traces", f"{args.workload}-{args.seed}.jsonl")
            )
    finally:
        session.stop()
        shutil.rmtree(tmp, ignore_errors=True)

    got = dict(res["metrics"])
    if not args.trace:
        got["setup_s"] = (setup_s, "s")
    metrics = {}
    for name in names:
        if name not in got and not args.trace:
            raise RuntimeError(f"{args.workload} did not measure {name}")
        value, unit = got.pop(name, (0, units[name]))
        if unit != units[name]:
            raise RuntimeError(f"{name}: unit {unit} != {units[name]}")
        metrics[name] = {"value": value, "unit": unit}
    if got:
        log(f"perfbench: not in BENCHMARK.json, dropped: {sorted(got)}")
    out = {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
