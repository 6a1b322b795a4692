"""Steadiness check: run one commit's benchmark in two sets and compare.

    python3 perfbench/steady.py --workload dashboard --runs 10

Each set runs ``run.py`` once per seed (``--seed0`` .. ``--seed0 +
runs - 1``) for BENCHMARK.json's ``run_seconds``. For every end-to-end
metric in BENCHMARK.json it prints, per set, the median and the spread
(distance between the first and third quartile as
``statistics.quantiles(values, n=4)`` gives them, as a share of the
median), and how much worse the second set's median is than the
first's. It exits 1 when a spread other than ``setup_s``'s passes the
metric's bound, a median gets worse by more than the bound, or a run
fails its output checks. A spread above a third of the bound, the
target, is marked ``~``; a failure is marked ``!``. Raw results, with
each run's load average and stolen CPU share, go to
``.perfbench_out/steady-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

SETS = 2
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    wall = time.perf_counter() - t0
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["seed"] = seed
    # load average and stolen CPU, to tell a slow host from a slow run
    res["env"] = next((json.loads(x[4:]) for x in lines
                       if x.startswith("env ")), None)
    return res


def spread(values) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(metric: dict, base: float, new: float) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``."""
    change = (new - base) / base
    return change if metric["better"] == "lower" else -change


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = bench["end_to_end"]
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"steady-{args.workload}.jsonl")

    sets: list[list[dict]] = []
    with open(log, "a") as f:
        for s in range(SETS):
            runs = []
            for i in range(args.runs):
                r = run_once(args.workload, args.seed0 + i,
                             bench["run_seconds"])
                r["set"] = s
                f.write(json.dumps(r) + "\n")
                f.flush()
                runs.append(r)
                print(f"set {s} seed {r['seed']}: correct={r['correct']} "
                      f"wall={r['wall_s']:.1f}s", flush=True)
            sets.append(runs)

    ok = True
    print(f"\n{args.workload}: {args.runs} runs x {SETS} sets")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        meds, cells = [], []
        for runs in sets:
            vals = [r["metrics"][name]["value"] for r in runs]
            sp = spread(vals)
            meds.append(statistics.median(vals))
            flag = ("" if name == "setup_s" or sp <= bound / 3
                    else " ~" if sp <= bound else " !")
            ok &= flag != " !"
            cells.append(f"median {meds[-1]:.4g} spread {sp:.3f}{flag}")
        drift = [worse_by(m, meds[0], x) for x in meds[1:]]
        bad = any(d > bound for d in drift)
        ok &= not bad
        print(f"  {name:18s} bound {bound:.2f} | " + " | ".join(cells)
              + " | worse by " + ", ".join(f"{d:+.3f}" for d in drift)
              + (" !" if bad else ""))
    incorrect = sum(not r["correct"] for runs in sets for r in runs)
    walls = [r["wall_s"] for runs in sets for r in runs]
    print(f"  incorrect runs {incorrect}; wall per run median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    return 0 if ok and not incorrect else 1


if __name__ == "__main__":
    sys.exit(main())
