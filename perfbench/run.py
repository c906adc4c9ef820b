#!/usr/bin/env python3
"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <dag200|incr_batches|query_mix>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles `src/main/scala`
and `perfbench/scala` with the Scala compiler that ships in Spark's jars
directory into `.bench_build/`, and reuses it while the sources are
unchanged. Every project, warehouse, Spark local dir, metastore and
temp file of a run lives under one directory in `.bench_tmp/`, removed
on exit. The last stdout line is the result:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json, with `--trace 1` the
per-layer ones. Host context is printed on the line before it. See
perfbench/README.md.
"""
import argparse
import atexit
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 800    # the first run may also compile
DAG_VIEWS, DAG_TABLES = 180, 10
QUERY_SF = 0.01
# The query list is fixed, so every seed runs the same queries; the seed
# changes the data. See README.md for how it was chosen.
RELATIONAL = [
    "q01_scan_filter", "q09_latest_order_per_customer", "q17_case_math",
    "q39_salted_agg", "q120_large_volume_orders", "q128_late_order_priority",
]
OTHER = [
    "q49_tfidf_top_terms", "q88_hard_negatives", "q60_corpus_mixing",
    "q166_rank_ties", "q201_date_spine_gapfill", "q234_packing_audit",
]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def heap_size():
    """SPARK_DRIVER_MEM, else half of RAM clamped to 2..8 GB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


# ------------------------------------------------------------------ build

def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError(f"{main} not found: run from a graft checkout")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not files or not bench:
        raise BenchError("no Scala sources to build")
    return files, bench


def _digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the program, then the harness against it, each unless
    its build is current. Returns the runtime classpath and the sources'
    digest."""
    files, bench = sources()
    jars = spark_jars()
    out = os.path.join(ROOT, ".bench_build", "graft")
    main_stamp = _digest(files)
    bench_stamp = main_stamp + _digest(bench)
    scalac = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn"]
    for dest, stamp, extra_cp, srcs in [("main", main_stamp, "", files),
                                         ("bench", bench_stamp, f"{out}/main:", bench)]:
        stamp_file = os.path.join(out, f"{dest}.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            continue
        log(f"compiling {dest}")
        tmp = os.path.join(out, f"{dest}.tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        r = subprocess.run(scalac + ["-d", tmp, "-cp", f"{extra_cp}{jars}/*"] + srcs,
                           capture_output=True, text=True, timeout=BUILD_DEADLINE_S)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BenchError(f"compiling {dest} failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")
        shutil.rmtree(os.path.join(out, dest), ignore_errors=True)
        os.rename(tmp, os.path.join(out, dest))
        with open(stamp_file, "w") as f:
            f.write(stamp)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return f"{out}/main:{out}/bench:{resources}:{jars}/*", bench_stamp


# ------------------------------------------------------------------- runs

class Run:
    def __init__(self, cp, tmp):
        self.cp, self.tmp = cp, tmp
        self.n = nproc()
        self.deadline = time.monotonic() + DEADLINE_S
        for d in ("jtmp", "spark-local"):
            os.makedirs(os.path.join(tmp, d), exist_ok=True)
        self.env = dict(os.environ,
                        SPARK_MASTER=f"local[{self.n}]",
                        SPARK_GRAFT_CPUS=str(self.n),
                        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
                        COURSIER_MODE="offline")

    def java(self, main, *args):
        """Runs a JVM with the CLI's settings, cwd in the temp root (so
        spark-warehouse/, metastore_db/ and derby.log land there).
        Returns (wall seconds, CompletedProcess)."""
        cmd = ["java", *ADD_OPENS, f"-Xmx{heap_size()}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Djava.io.tmpdir={self.tmp}/jtmp", f"-Dderby.system.home={self.tmp}",
               "-cp", self.cp, main, *args]
        left = self.deadline - time.monotonic()
        if left <= 5:
            raise BenchError("out of time before starting a JVM")
        t0 = time.perf_counter()
        r = subprocess.run(cmd, cwd=self.tmp, env=self.env, capture_output=True, text=True,
                           timeout=left)
        return time.perf_counter() - t0, r

    def harness(self, *args):
        """Runs one Harness mode; returns its JSON result."""
        _, r = self.java("graft.perfbench.Harness", *args)
        for line in r.stderr.splitlines():
            if line.startswith("[harness]"):
                print(line, file=sys.stderr)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if not last.startswith("{"):
            raise BenchError(f"harness {args[0]} exited {r.returncode} without a result:\n"
                             f"{r.stderr[-4000:]}")
        return json.loads(last)


def run_dag(run, seed, seconds, trace):
    """dag200: `graft.run.Cli build` twice as child JVMs, or the traced
    in-process equivalent."""
    import checks
    import gen
    res = {"attempted": 0, "failed": 0, "problems": [], "metrics": {}, "counts": {}}
    # set-up: generate the project and start one CLI JVM, three times
    setups = []
    proj = None
    for k in range(3):
        t0 = time.perf_counter()
        p = os.path.join(run.tmp, f"proj{k}")
        ends = gen.dag_project(p, DAG_VIEWS, DAG_TABLES)
        _, r = run.java("graft.run.Cli", "--version")
        if r.returncode != 0:
            raise BenchError(f"Cli --version failed: {r.stderr[-2000:]}")
        setups.append(time.perf_counter() - t0)
        if proj:
            shutil.rmtree(proj)
        proj = p
    res["metrics"]["setup_s"] = statistics.median(setups)
    with open(os.path.join(run.tmp, "ends.json"), "w") as f:
        json.dump(ends, f)
    ids = [f"model.v_{i}" for i in range(DAG_VIEWS)] + \
          [f"model.t_{i}" for i in range(DAG_TABLES)] + \
          [f"test.not_null_t_{i}_id" for i in range(DAG_TABLES)]
    if trace:
        wh = os.path.join(run.tmp, "wh")
        out = run.harness("dag", proj, wh, str(run.n), os.path.join(run.tmp, "ends.json"))
        res["metrics"].update(out["metrics"])
        res["counts"].update(out["counts"])
        res["attempted"] += out["attempted"]
        res["failed"] += out["failed"]
        res["problems"] += out["errors"]
        res["problems"] += checks.run_results(f"{proj}/target/run_results.json", ids)
        res["problems"] += checks.dag_tables(wh, DAG_TABLES)
        res["keep"] = [proj, wh, os.path.join(run.tmp, "spans.jsonl")]
        return res
    firsts, repeats, lines = [], [], []
    timed = 0.0
    cycle = 0
    while cycle == 0 or timed < seconds:
        if cycle:
            proj = os.path.join(run.tmp, f"proj-c{cycle}")
            gen.dag_project(proj, DAG_VIEWS, DAG_TABLES)
        wh = os.path.join(run.tmp, f"wh{cycle}")
        for label, walls in (("build", firsts), ("rebuild", repeats)):
            wall, r = run.java("graft.run.Cli", "build", "--project", proj, "--warehouse", wh,
                               "--threads", str(run.n), "--log-format", "json")
            walls.append(wall)
            timed += wall
            lines.append(sum(1 for l in r.stderr.splitlines() if l.startswith("{")))
            res["attempted"] += 1
            if r.returncode != 0:
                res["failed"] += 1
                res["problems"].append(f"cli {label} exited {r.returncode}: {r.stderr[-1500:]}")
                continue
            res["problems"] += checks.run_results(f"{proj}/target/run_results.json", ids)
        res["problems"] += checks.dag_tables(wh, DAG_TABLES)
        res["problems"] += checks.dag_chain_ends(f"{proj}/target/manifest.json", ends)
        cycle += 1
    res["keep"] = [proj, wh]
    res["metrics"]["first_s"] = statistics.median(firsts)
    res["metrics"]["repeat_s"] = statistics.median(repeats)
    res["counts"].update(cycles=cycle, nodes=2 * cycle * (DAG_VIEWS + DAG_TABLES),
                         tests=2 * cycle * DAG_TABLES, log_lines=statistics.median(lines),
                         checks=cycle * (2 * len(ids) + DAG_TABLES + len(ends)))
    return res


def run_incr(run, seed, seconds, trace):
    import checks
    import gen
    work = os.path.join(run.tmp, "incr")
    t0 = time.perf_counter()
    gen.incr_inputs(work, seed)
    gen_s = time.perf_counter() - t0
    out = run.harness("incr", work, str(seconds), "1" if trace else "0", str(run.n))
    out["metrics"]["setup_s"] = out["metrics"]["setup_s"] + gen_s
    built = sorted(os.listdir(f"{work}/check"))
    problems = list(out["errors"])
    for i, b in enumerate(built):
        problems += checks.incr_batch(work, b, built[:i + 1])
    out["counts"]["checks"] = 5 * len(built)
    with open(f"{work}/batches.json") as f:
        out["counts"]["batch_makeup"] = json.load(f)[:len(built)]
    return {"attempted": out["attempted"], "failed": out["failed"], "problems": problems,
            "metrics": out["metrics"], "counts": out["counts"],
            "keep": [work]}


def run_query(run, seed, seconds, trace):
    import checks
    import gen
    names = RELATIONAL + OTHER
    data = os.path.join(run.tmp, "data")
    outd = os.path.join(run.tmp, "results")
    os.makedirs(outd)
    t0 = time.perf_counter()
    gen.tables(data, seed, QUERY_SF)
    gen_s = time.perf_counter() - t0
    out = run.harness("query", data, str(seconds), "1" if trace else "0", outd,
                            ",".join(names))
    out["metrics"]["setup_s"] = out["metrics"]["setup_s"] + gen_s
    problems = list(out["errors"])
    problems += checks.query_results(data, outd, names)
    out["counts"]["checks"] = len(names)
    return {"attempted": out["attempted"], "failed": out["failed"], "problems": problems,
            "metrics": out["metrics"], "counts": out["counts"],
            "keep": [data, outd]}


WORKLOADS = {"dag200": run_dag, "incr_batches": run_incr, "query_mix": run_query}


def host_context(stamp, load_before):
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    spark = sorted(glob.glob(os.path.join(spark_jars(), "spark-core_*.jar")))
    commit = "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            commit = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"nproc": nproc(), "loadavg_before": load_before, "loadavg_after": loadavg(),
            "git_commit": commit, "source_sha256": stamp,
            "java": java.splitlines()[0] if java else "unknown",
            "spark": os.path.basename(spark[0])[len("spark-core_"):-4] if spark else "unknown",
            "jvm_heap": heap_size()}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--keep", metavar="DIR",
                    help="copy the run's inputs, results and spans.jsonl to DIR")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload or --selftest is required")
    load_before = loadavg()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tmp_root = os.path.join(ROOT, ".bench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    def cleanup():
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass

    atexit.register(cleanup)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        import checks
        attempted, problems = checks.selftest(tmp)
        for p in problems:
            log(f"SELFTEST FAIL {p}")
        print(json.dumps({"selftest": "pass" if not problems else "fail",
                          "checkers_tried": attempted, "problems": len(problems)}))
        return 0 if not problems else 1

    cp, stamp = build()
    run = Run(cp, tmp)
    res = WORKLOADS[args.workload](run, args.seed, args.seconds, bool(args.trace))
    if args.keep:
        for path in res["keep"]:
            if os.path.exists(path):
                dest = os.path.join(args.keep, os.path.basename(path))
                (shutil.copytree if os.path.isdir(path) else shutil.copy)(path, dest)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = res["metrics"].get(m["name"], 0.0)
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    for p in res["problems"]:
        log(f"CHECK FAIL {p}")
    ctx = host_context(stamp, load_before)
    ctx.update(workload=args.workload, seed=args.seed, traced=bool(args.trace),
               counts=res["counts"], checks_failed=len(res["problems"]))
    # measured but not printed in the result: with --trace 1 the traced
    # end-to-end figures, and metrics of workloads outside BENCHMARK.json
    ctx["other_metrics"] = {k: v for k, v in res["metrics"].items() if k not in metrics}
    print(json.dumps({"host": ctx}))
    correct = not res["problems"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except (BenchError, subprocess.TimeoutExpired, OSError, KeyError, ValueError) as e:
        log(f"error: {e}")
        sys.exit(2)
