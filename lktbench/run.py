"""Benchmark of linear_kdtree_spark at local[nproc], one workload per run.

    python3 lktbench/run.py --workload index_build_serve|pipeline_ops \
        --seed N --seconds S --trace 0|1

Run from the repository root. One client drives a closed loop: each op
blocks until its Spark actions finish, and the next starts after. A run

1. draws its inputs from ``--seed`` (``inputs.py``) and computes the numpy
   references the results are checked against (``checks.py``);
2. sets up ``SETUP_REPS`` times (session start plus loading and caching the
   inputs), then prebuilds the index (``index_build_serve``) and runs the
   workload's warm-up rounds;
3. runs rounds of the workload's ops until ``--seconds`` have passed and
   at least the workload's ``min_rounds`` have run, checking every result
   (``op_s`` is the geometric mean of the op kinds' median wall times);
4. prints a summary, a host/config stamp, and as its last line one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics: it records a span around every call into a library layer,
names each span as the Spark job group, reads Spark's task and SQL metrics
back from a local event log, and compares its own end-to-end numbers with an
untraced run of the same code, host and length (a kept record of this seed or
of another, else one started after its own session stops) to report the
tracing overhead. Metric names and units are the ones ``BENCHMARK.json``
declares. Everything the run writes stays under ``.lktbench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".lktbench_work")
SETUP_REPS = 3
DRIVER_MEM = "2g"  # what a 15 GB host holds next to 4 Python workers
SAMPLE_INTERVAL_S = 0.2
TAIL_PERCENTILES = (99.9, 99, 95, 90, 75, 50)


def parse_args(argv):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(samples: list) -> tuple:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(samples, n=1000, method="inclusive")[int(p * 10) - 1], p
    return None, None


def declared(kind: str) -> dict:
    """{name: unit} of the ``end_to_end`` or ``per_layer`` metrics
    ``BENCHMARK.json`` declares: the one list of what a run prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def source_sha() -> str:
    """Digest of the library's and the benchmark's sources and of
    ``BENCHMARK.json``: two records with equal digests ran the same code."""
    h = hashlib.sha256()
    for sub in ("linear_kdtree_spark", "lktbench"):
        for d, _, files in sorted(os.walk(os.path.join(ROOT, sub))):
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    with open(os.path.join(ROOT, "BENCHMARK.json"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                         text=True, timeout=30)
    return out.stdout.strip() or "unknown"


def stamp(spark, args, cores: int) -> dict:
    import numpy
    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    conf = spark.sparkContext.getConf()
    return {
        "nproc": cores,
        "ram_gb": round(mem_kb / 1e6, 1),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "shuffle_scratch_dir": os.path.relpath(conf.get("spark.local.dir"), ROOT),
        "driver_memory": conf.get("spark.driver.memory"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_sha": source_sha(),
    }


class Session:
    """Starts and stops Spark sessions with every file under the run dir."""

    def __init__(self, run_dir: str, cores: int, traced: bool):
        self.run_dir = run_dir
        self.cores = cores
        self.events = os.path.join(run_dir, "events")
        self.conf = {
            # the run writes only inside its checkout, so the shuffle scratch
            # is an explicit dir there: the library's own default, a RAM-disk
            # dir under /dev/shm, lies outside it (the stamp records the dir)
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # initial heap = maximum heap, every page touched at JVM start:
            # the heap's resident size is the same all run, so peak_rss_gb
            # does not depend on how far the collector got into the heap
            # (without it one workload's peak moved 2.56-2.84 GB across runs)
            "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={run_dir}/tmp "
                                              f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"),
        }
        if traced:
            os.makedirs(self.events, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{self.events}",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def start(self):
        from linear_kdtree_spark import get_spark

        self.stop()
        self.spark = get_spark(app_name="lktbench", master=f"local[{self.cores}]",
                               shuffle_partitions=self.cores, extra_conf=self.conf)
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop the session, the JVM and the Python workers; wait for all."""
        from pyspark import SparkContext

        import procmem

        self.stop()
        pids = procmem.descendants(os.getpid())
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while pids and time.time() < deadline:
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run(args) -> dict:
    """One benchmark run; returns the record the caller prints and stores."""
    t_run = time.perf_counter()

    def phase(what: str) -> None:
        print(f"[{time.perf_counter() - t_run:7.2f} s] {what}", file=sys.stderr, flush=True)

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        return measure(args, cores, run_dir, phase)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, cores: int, run_dir: str, phase) -> dict:
    import procmem
    import spans
    from inputs import generate
    from workloads import WORKLOADS

    traced = bool(args.trace)

    inp = generate(args.seed, WORK)
    phase("inputs ready")
    tracer = spans.Tracer(traced)
    wl = WORKLOADS[args.workload](inp, tracer, cores, run_dir)
    wl.references()

    sampler = procmem.MemSampler(SAMPLE_INTERVAL_S, keep=traced).start()
    session = Session(run_dir, cores, traced)
    attempted = failed = 0
    per_kind = {k: [] for k in wl.ops}
    rounds, op_walls, failures = [], {}, []

    def one_op(kind: str, op: str) -> float | None:
        nonlocal attempted, failed
        attempted += 1
        try:
            secs, failure = wl.run_op(kind, op)
        except Exception as e:  # an op that raises counts as failed; the run goes on
            secs, failure = None, f"raised {type(e).__name__}: {str(e)[:300]}"
        if failure:
            failed += 1
            failures.append(f"{op}: {failure}")
            print(f"FAILED {op}: {failure}", file=sys.stderr)
        return None if failure else secs

    phase("references ready")
    try:
        reps, starts = [], []
        for rep in range(SETUP_REPS):
            session.stop()
            t0 = time.perf_counter()
            wl.attach(session.start())
            starts.append(time.perf_counter() - t0)
            with tracer.span("setup", "session", "load"):
                wl.load()
            reps.append(time.perf_counter() - t0)
            phase(f"set-up {rep + 1}/{SETUP_REPS}: {reps[-1]:.2f} s")
        t0 = time.perf_counter()
        wl.prepare("setup")
        prepare_s = time.perf_counter() - t0
        warm_s = wl.warm_up()
        setup_s = statistics.median(reps) + prepare_s + warm_s
        phase(f"prebuild {prepare_s:.2f} s, warm-up {warm_s:.2f} s")
        info = stamp(session.spark, args, cores)

        t_start = time.perf_counter()
        n = 0
        while time.perf_counter() - t_start < args.seconds or n < wl.min_rounds:
            total = 0.0
            for kind in wl.ops:
                op = f"op{n}.{kind}"
                secs = one_op(kind, op)
                if secs is None:
                    total = None
                elif total is not None:
                    per_kind[kind].append(secs)
                    op_walls[op] = secs
                    total += secs
            if total is not None:
                rounds.append(total)
            n += 1
        phase(f"{len(rounds)} timed rounds done")
        extra = wl.after_run() if traced else {}
    finally:
        sampler.stop()
        session.shutdown()
    phase("session, JVM and workers stopped")

    if not rounds:
        raise RuntimeError("no op round completed: " + "; ".join(failures[:3]))
    round_s = statistics.median(rounds)
    # geometric mean over the op kinds: a kind that gets x times slower moves
    # op_s by the same factor whether that op is long or short
    op_s = math.exp(statistics.fmean(
        math.log(statistics.median(xs)) for xs in per_kind.values()))
    e2e = {
        "setup_s": setup_s,
        "op_s": op_s,
        "peak_rss_gb": sampler.peak_total / 1e9,
    }
    ops = {}
    for kind, xs in per_kind.items():
        t, p = tail(xs) if xs else (None, None)
        ops[kind] = {"median_s": statistics.median(xs) if xs else None, "n": len(xs),
                     "tail_s": t, "tail_pct": p, "samples_s": xs}
    record = {
        "stamp": info,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "failed_frac": failed / attempted,
        "failures": failures,
        "end_to_end": e2e,
        "round_s": round_s,
        "rounds": len(rounds),
        "setup_reps_s": reps,
        "session_start_s": starts,
        "ops": ops,
    }
    if traced:
        import layers

        att = spans.load_event_logs(session.events)
        untraced = untraced_record(args, info)
        record["per_layer"], record["layer_table"], children = layers.per_layer(
            declared("per_layer"), wl, tracer, att, sampler, op_walls, starts, extra,
            e2e, untraced["end_to_end"],
        )
        tracer.dump(result_path(args, "spans.jsonl"), children)
    return record


def result_path(args, suffix: str) -> str:
    d = os.path.join(WORK, "results")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{args.workload}-seed{args.seed}-s{args.seconds:g}-{suffix}")


def untraced_record(args, traced_stamp: dict) -> dict:
    """An untraced run of the same workload and length that ran the same code
    on the same host: the record an earlier run left, of this seed if there
    is one, else of another (every seed asks for the same work), else one
    made now in a separate process (which doubles this run's time)."""
    path = result_path(args, "trace0.json")
    same = ("source_sha", "nproc", "ram_gb", "driver_memory")
    pattern = os.path.basename(path).replace(f"-seed{args.seed}-", "-seed*-")
    for other in [path] + sorted(glob.glob(os.path.join(os.path.dirname(path), pattern))):
        if os.path.exists(other):
            with open(other) as f:
                rec = json.load(f)
            if all(rec["stamp"].get(k) == traced_stamp[k] for k in same):
                return rec
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", f"{args.seconds:g}", "--trace", "0"]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=170)
    with open(path) as f:
        return json.load(f)


def summary(rec: dict) -> list[str]:
    lines = [f"workload {rec['stamp']['workload']}  seed {rec['stamp']['seed']}  "
             f"rounds {rec['rounds']}  failed_frac {rec['failed_frac']:.4f} ratio"]
    for name, unit in declared("end_to_end").items():
        lines.append(f"  {name:<18} {rec['end_to_end'][name]:.4f} {unit}")
    lines.append(f"  {'round_s':<18} {rec['round_s']:.4f} s  (median round of ops)")
    names = {"build": "build_s", "knn": "knn_batch_s", "pip": "pip_batch_s",
             "ingest": "ingest_batch_s", "radius_join": "radius_join_s",
             "minhash_lsh": "minhash_lsh_s", "ann_topk": "ann_topk_s", "rasterize": "rasterize_s"}
    for kind, o in rec["ops"].items():
        med = "n/a" if o["median_s"] is None else f"{o['median_s']:.4f} s"
        tail_txt = (f"p{o['tail_pct']:g} {o['tail_s']:.4f} s" if o["tail_s"] is not None
                    else "n/a (fewer than 11 samples)")
        lines.append(f"  {names[kind]:<18} {med}  (n={o['n']}; tail {tail_txt})")
    if "layer_table" in rec:
        lines.append("  layer            count    busy s    self s  share of op wall")
        for row in rec["layer_table"]:
            lines.append(f"  {row['layer']:<15} {row['count']:>6} {row['busy_s']:>9.3f} "
                         f"{row['self_s']:>9.3f} {row['share']:>10.3f}")
    return lines


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(sys.argv[1:] if argv is None else argv)
    os.makedirs(WORK, exist_ok=True)
    # workers need the library on their path, and every temporary file of the
    # run (PySpark's, the JVM's, the workers') belongs under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, f"run-{os.getpid()}", "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM of the run (spark-submit's launcher too) without the
    # perf-data file it would otherwise write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"

    rec = run(args)
    with open(result_path(args, f"trace{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for line in summary(rec):
        print(line)
    print("stamp " + json.dumps(rec["stamp"]))
    if args.trace:
        metrics = rec["per_layer"]
    else:
        metrics = {k: {"value": rec["end_to_end"][k], "unit": u}
                   for k, u in declared("end_to_end").items()}
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
