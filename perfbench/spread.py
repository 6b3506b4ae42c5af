#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each end-to-end metric's
median and quartile spread, the way its steadiness is judged.

    python3 perfbench/spread.py --seeds 1-10 --out perfbench/baseline/set-a.json

For every workload in BENCHMARK.json it runs `run.py` once per seed with
`--trace 0`, then prints, per metric, the median and the distance between
the first and third quartile (`statistics.quantiles(values, n=4)`) as a
share of the median, next to the metric's bound. `--out` also keeps every
run's result line, so two sets can be compared later with `--compare`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def summarize(runs, spec):
    """metric → (median, spread share) over one workload's runs."""
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = (med, (q3 - q1) / med)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default="")
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"),
                    help="compare the medians of two saved sets instead")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    if args.compare:
        sets = []
        for p in args.compare:
            with open(p) as f:
                sets.append(json.load(f))
        worst = True
        for w, runs in sets[0]["runs"].items():
            a, b = summarize(runs, spec), summarize(sets[1]["runs"][w], spec)
            for m, (med, _) in a.items():
                change = (b[m][0] - med) / med
                ok = change <= bounds[m]
                worst &= ok
                print(f"{w:16} {m:14} first {med:10.4f} second {b[m][0]:10.4f} "
                      f"change {change:+.3f} bound {bounds[m]} {'ok' if ok else 'WORSE'}")
        sys.exit(0 if worst else 1)
    names = [w["name"] for w in spec["workloads"]]
    result = {"seeds": seeds(args.seeds), "runs": {}}
    for w in names:
        runs = []
        for s in seeds(args.seeds):
            t0 = time.time()
            cmd = spec["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                     str(spec["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            r = json.loads(line)
            r["wall_s"] = round(time.time() - t0, 1)
            print(f"{w} seed {s}: exit {p.returncode} wall {r['wall_s']} s "
                  f"{ {k: round(v['value'], 3) for k, v in r.get('metrics', {}).items()} }",
                  flush=True)
            if p.returncode != 0 or not r.get("correct"):
                sys.exit(f"run failed: {w} seed {s}")
            runs.append(r)
        result["runs"][w] = runs
        for m, (med, spread) in summarize(runs, spec).items():
            print(f"{w:16} {m:14} median {med:10.4f} spread {spread:.3f} "
                  f"bound {bounds[m]} {'ok' if spread < bounds[m] / 3 else 'WIDE'}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
            f.write("\n")


if __name__ == "__main__":
    main()
