#!/usr/bin/env python3
"""Check the benchmark's steadiness the way its acceptance rule does.

    python3 perfbench/steady.py <workload> [--runs 10] [--first-seed 1]

Runs perfbench/run.py once per seed (untraced), then prints, for each
end-to-end metric, the median of the runs and the interquartile range
as a share of that median next to the metric's bound. A spread above a
third of its bound is marked; `setup_s` is reported but not judged by
spread. With --baseline (the log of an earlier set), each median is also
compared with that set's by the bound rule. Results are appended as JSON
lines to <build dir>/records/steady-<workload>-<first seed>.jsonl.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run    # noqa: E402
import stats  # noqa: E402


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("workload")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--baseline", help="steady log of an earlier set of runs")
    a = ap.parse_args(argv)
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    log = os.path.join(run.build_dir(), "records", f"steady-{a.workload}-{a.first_seed}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           cwd=run.ROOT, stdout=subprocess.PIPE, text=True)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "code": p.returncode, "result": result}) + "\n")
        if p.returncode != 0 or not result["correct"]:
            print(f"seed {seed}: exit {p.returncode}, correct={result['correct']}")
        for k, m in result["metrics"].items():
            values[k].append(m["value"])
    base = {}
    if a.baseline:
        with open(a.baseline) as fh:
            for line in fh:
                for k, m in json.loads(line)["result"]["metrics"].items():
                    base.setdefault(k, []).append(m["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        sp = stats.spread(xs)
        mark = "" if m["name"] == "setup_s" or sp < m["bound"] / 3 else "  <-- above bound/3"
        if m["name"] in base:
            worse = stats.regressed(stats.median(base[m["name"]]), stats.median(xs),
                                    m["bound"], m["better"])
            mark += "  REGRESSED vs baseline" if worse else "  within bound of baseline"
        print(f"{m['name']:>14} median {stats.median(xs):9.4f} {m['unit']:<5} "
              f"spread {sp:6.3f}  bound {m['bound']}{mark}")


if __name__ == "__main__":
    main(sys.argv[1:])
