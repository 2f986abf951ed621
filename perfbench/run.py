"""bela_spark benchmark: one workload per run, inputs made from --seed.

    python3 perfbench/run.py --workload link_batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}, where metrics holds
every end-to-end metric (--trace 0) or every per-layer metric (--trace 1),
each as {"value", "unit"}. Progress and the set-up breakdown go to stderr.
--smoke runs the same workload on tiny inputs, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("link_batch", "query_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bela_spark", "__init__.py")):
        print(f"perfbench: no bela_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    from harness import Harness, log, loadavg, nproc
    from metrics import END_TO_END, PER_LAYER, result_metrics

    workload = importlib.import_module(args.workload)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # --seconds is part of the command-line contract, but each workload times
    # exactly one pass, which already lasts longer than any useful setting
    h = Harness(ROOT, work, bool(args.trace), args.smoke)
    try:
        res = workload.run(h, args.seed)
    finally:
        h.close()
    load_end = loadavg()
    log(f"loadavg_end={load_end}")
    if args.trace:
        values = {
            **res["per_layer"],
            "host.nproc": nproc(),
            "host.loadavg_start": h.load_start,
            "host.loadavg_end": load_end,
        }
        metrics = result_metrics(PER_LAYER, values, fill_missing=True)
    else:
        metrics = result_metrics(END_TO_END, res["end_to_end"])
        log("end-to-end: " + ", ".join(
            f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
