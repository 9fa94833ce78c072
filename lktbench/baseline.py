"""Repeat benchmark runs and summarise them; compare two summaries.

    python3 lktbench/baseline.py record --seeds 1 2 --reps 3 --out FILE.json
    python3 lktbench/baseline.py spread --seeds 1 2 3 4 5 6 7 8 9 10 --out FILE.json
    python3 lktbench/baseline.py compare OLD.json NEW.json

``record`` runs every workload ``--reps`` times per seed untraced and once
traced, and writes each end-to-end metric's median, quartiles and run count
per (workload, seed), with the traced layer table. ``spread`` runs every
workload once per seed and reports, per metric, the distance between the
first and third quartile of the values as a share of their median (the
steadiness the benchmark's bounds are checked against). ``compare`` prints
the relative change of every metric and refuses summaries whose host stamps
differ in core count, since numbers from another core count say nothing
about this one. Each run is a separate ``run.py`` process, as a user would
start it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench_config() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """Run ``run.py`` once; return its last-line JSON and its stored record."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", f"{seconds:g}", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    last = json.loads(out.stdout.strip().splitlines()[-1])
    rec_path = os.path.join(ROOT, ".lktbench_work", "results",
                            f"{workload}-seed{seed}-s{seconds:g}-trace{trace}.json")
    with open(rec_path) as f:
        return {"result": last, "record": json.load(f)}


def quartiles(values: list) -> dict:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else [values[0]] * 3
    return {"median": statistics.median(values), "q1": q[0], "q3": q[2], "runs": len(values),
            "spread": (q[2] - q[0]) / statistics.median(values), "values": values}


def record(args) -> dict:
    cfg = bench_config()
    out = {"stamp": None, "run_seconds": cfg["run_seconds"], "workloads": {}}
    for w in (x["name"] for x in cfg["workloads"]):
        for seed in args.seeds:
            runs = [one_run(w, seed, cfg["run_seconds"], 0) for _ in range(args.reps)]
            traced = one_run(w, seed, cfg["run_seconds"], 1)
            out["stamp"] = runs[0]["record"]["stamp"]
            e2e = {m["name"]: quartiles([r["result"]["metrics"][m["name"]]["value"] for r in runs])
                   for m in cfg["end_to_end"]}
            ops = {k: quartiles([r["record"]["ops"][k]["median_s"] for r in runs])
                   for k in runs[0]["record"]["ops"]}
            out["workloads"].setdefault(w, {})[str(seed)] = {
                "end_to_end": e2e,
                "op_medians_s": ops,
                "failed": sum(r["result"]["failed"] for r in runs),
                "attempted": sum(r["result"]["attempted"] for r in runs),
                "layer_table": traced["record"]["layer_table"],
                "per_layer": {k: v["value"] for k, v in traced["result"]["metrics"].items()},
            }
            print(f"{w} seed {seed}: " + ", ".join(
                f"{k} {v['median']:.4g}" for k, v in e2e.items()), flush=True)
    return out


def spread(args) -> dict:
    cfg = bench_config()
    out = {"stamp": None, "run_seconds": cfg["run_seconds"], "seeds": args.seeds,
           "workloads": {}}
    for w in (x["name"] for x in cfg["workloads"]):
        runs = [one_run(w, seed, cfg["run_seconds"], 0) for seed in args.seeds]
        out["stamp"] = runs[0]["record"]["stamp"]
        res = {}
        for m in cfg["end_to_end"]:
            q = quartiles([r["result"]["metrics"][m["name"]]["value"] for r in runs])
            q["bound"] = m["bound"]
            res[m["name"]] = q
            print(f"{w:<17} {m['name']:<12} median {q['median']:.4g}  spread {q['spread']:.3f}"
                  f"  (bound {m['bound']})", flush=True)
        res["failed"] = sum(r["result"]["failed"] for r in runs)
        # raw wall times, not gated: the median round and each op kind's median
        res["raw_s"] = {"round": quartiles([r["record"]["round_s"] for r in runs])}
        for k in runs[0]["record"]["ops"]:
            res["raw_s"][k] = quartiles([r["record"]["ops"][k]["median_s"] for r in runs])
        out["workloads"][w] = res
    return out


def compare(old_path: str, new_path: str) -> int:
    with open(old_path) as f:
        old = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    if old["stamp"]["nproc"] != new["stamp"]["nproc"]:
        print(f"refused: {old_path} ran on {old['stamp']['nproc']} cores, "
              f"{new_path} on {new['stamp']['nproc']}", file=sys.stderr)
        return 2
    for w, seeds in new["workloads"].items():
        for seed, res in seeds.items():
            base = old["workloads"].get(w, {}).get(seed)
            if base is None:
                continue
            for name, q in res["end_to_end"].items():
                b = base["end_to_end"][name]["median"]
                print(f"{w:<17} seed {seed:<4} {name:<12} {b:.4g} -> {q['median']:.4g}"
                      f"  ({q['median'] / b - 1:+.1%})")
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    for name in ("record", "spread"):
        p = sub.add_parser(name)
        p.add_argument("--seeds", type=int, nargs="+", required=True)
        p.add_argument("--out", required=True)
        if name == "record":
            p.add_argument("--reps", type=int, default=3)
    p = sub.add_parser("compare")
    p.add_argument("old")
    p.add_argument("new")
    args = ap.parse_args(argv)
    if args.cmd == "compare":
        return compare(args.old, args.new)
    res = record(args) if args.cmd == "record" else spread(args)
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(res, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
