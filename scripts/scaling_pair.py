#!/usr/bin/env python3
"""N→4N scaling pair: perfbench's ``ingest`` and ``query_batch``
workloads at ``local[1]`` and at ``local[4]``.

    python3 scripts/scaling_pair.py --pairs 5 --seconds 15
    python3 scripts/scaling_pair.py --pairs 3 --workloads query_batch --convs 32000

Each leg is a fresh process that imports the unchanged
``perfbench/run.py``, sets its ``MASTER`` and calls its ``main()``, so
the session config, the 16 shuffle partitions, the provenance record
and the oracle check are perfbench's own. The two legs of a pair run in
alternating order. Per pair it prints the efficiency
``(ops_per_s@4 / ops_per_s@1) / 4`` (build turns/s for ``ingest``,
queries/s for ``query_batch``), then the median and quartiles per
workload. A leg that fails, misses its oracle check or records another
master raises. ``--workloads`` picks a subset of the two and
``--convs`` passes perfbench's corpus size through to every leg
(default: each workload's own).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORDS = os.path.join(ROOT, ".perfbench_work", "records")
WORKLOADS = ("ingest", "query_batch")
N, FOUR_N = "local[1]", "local[4]"
SEED = 1


def _leg(master: str, workload: str, seconds: float, convs: int | None) -> None:
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run

    if not hasattr(run, "MASTER"):
        raise RuntimeError("perfbench/run.py has no MASTER to set")
    run.MASTER = master
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", str(seconds)]
    sys.exit(run.main(argv + ([] if convs is None else ["--convs", str(convs)])))


def run_leg(master: str, workload: str, seconds: float, convs: int | None = None) -> float:
    """ops_per_s of one perfbench run, read back from its record."""
    os.makedirs(RECORDS, exist_ok=True)
    before = set(os.listdir(RECORDS))
    proc = multiprocessing.get_context("spawn").Process(
        target=_leg, args=(master, workload, seconds, convs)
    )
    proc.start()
    proc.join()
    if proc.exitcode != 0:
        raise RuntimeError(f"{workload} at {master} exited with {proc.exitcode}")
    new = [f for f in set(os.listdir(RECORDS)) - before if f.endswith(".json")]
    if len(new) != 1:
        raise RuntimeError(f"{workload} at {master} left {len(new)} records, expected 1")
    with open(os.path.join(RECORDS, new[0])) as f:
        rec = json.load(f)
    if rec["master"] != master:
        raise RuntimeError(f"{workload} leg ran at {rec['master']}, not {master}")
    if convs is not None and rec["convs"] != convs:
        raise RuntimeError(f"{workload} leg ran on {rec['convs']} conversations, not {convs}")
    if rec["failed"]:
        raise RuntimeError(f"{workload} at {master}: {rec['failed']} failed operations")
    return rec["metrics"]["ops_per_s"]["value"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--pairs", type=int, default=5)
    p.add_argument("--seconds", type=float, default=15, help="timed region of each leg")
    p.add_argument("--workloads", nargs="+", choices=WORKLOADS, default=list(WORKLOADS))
    p.add_argument("--convs", type=int, default=None, help="corpus size of every leg")
    args = p.parse_args(argv)

    summary = {w: {"efficiency": [], N: [], FOUR_N: []} for w in args.workloads}
    for i in range(args.pairs):
        for w in args.workloads:
            order = (N, FOUR_N) if i % 2 == 0 else (FOUR_N, N)
            ops = {m: run_leg(m, w, args.seconds, args.convs) for m in order}
            eff = ops[FOUR_N] / ops[N] / 4
            for m in order:
                summary[w][m].append(ops[m])
            summary[w]["efficiency"].append(eff)
            print(f"pair {i + 1} {w}: ops_per_s {N} {ops[N]:.6g}, {FOUR_N} {ops[FOUR_N]:.6g}; "
                  f"efficiency {eff:.3f}", flush=True)
    for w, s in summary.items():
        effs = s["efficiency"]
        q1, _, q3 = statistics.quantiles(effs, n=4) if len(effs) > 1 else effs * 3
        s.update(median=statistics.median(effs), q1=q1, q3=q3)
        print(f"{w}: efficiency median {s['median']:.3f} (quartiles {q1:.3f}-{q3:.3f}) over {len(effs)} pairs")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
