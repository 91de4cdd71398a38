#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout::

    python3 benchmark/run.py --workload build --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (each ``{"value", "unit"}``):
the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``.  The run's host record, raw
timings, failures and (when traced) its spans go to
``.bench_runs/<workload>-s<seed>-t<trace>/``.  See ``benchmark/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["build", "maintain"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    needed = [ROOT / "searchengine_spark", ROOT / "tests" / "oracle.py", ROOT / "BENCHMARK.json"]
    if not all(p.exists() for p in needed):
        print(f"benchmark: no searchengine_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]

    from harness import Env, host_probe
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    run_dir = ROOT / ".bench_runs" / f"{args.workload}-s{args.seed}-t{args.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    record: dict = {"args": vars(args), "affinity": sorted(os.sched_getaffinity(0))}
    record["host_before"] = host_probe(ROOT)
    env = Env(ROOT, run_dir)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    record["cores"] = env.cores
    run = Run(env, tracer, args.seed, args.seconds)
    try:
        out = WORKLOADS[args.workload](run)
    finally:
        env.close()
        if tracer is not None:
            tracer.dump(run_dir / "spans.jsonl")
    record["host_after"] = host_probe(ROOT)
    short = [k for k in ("host_before", "host_after") if record[k]["short_of_cpus"]]
    if short:
        print(
            f"benchmark: the host delivered less than half its CPUs "
            f"({', '.join(short)}); compare these timings with care",
            file=sys.stderr,
        )
    st = run.st
    record.update(
        samples=out["samples"], timings=st.timings, failures=st.failures,
        e2e=out["e2e"], layers=out["layers"],
    )
    (run_dir / "record.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    for entry in run_dir.iterdir():
        if entry.is_dir():
            shutil.rmtree(entry)
    for msg in st.failures[:20]:
        print(f"benchmark: FAILED {msg}", file=sys.stderr)

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = out["layers"] if args.trace else out["e2e"]
    metrics = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in declared["per_layer" if args.trace else "end_to_end"]
    }
    result = {
        "correct": not st.failures,
        "attempted": st.attempted,
        "failed": len(st.failures),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
