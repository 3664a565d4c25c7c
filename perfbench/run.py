"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One process, one Spark session on
``local[<cores>]``.  The run generates the workload's inputs from the
seed, computes the expected outputs, then runs a warm-up pass and
timed passes over the workload's job list: at least three, and until
``--seconds`` of timed passes have run.  A pass is reported as the sum
over its queries of each query's fastest time in the timed passes.
Before every query the Spark
cache and every persisted RDD are dropped, and a full JVM GC runs
between passes, so each query pays what a user running a batch job
once pays.  Every result is checked on every pass.

``--trace 0`` prints the end-to-end metrics (``setup_s``, ``pass_s``,
``cpu_s``); ``--trace 1`` alternates untraced and traced passes and
prints the per-layer metrics (see ``layertrace.py`` and
``perfbench/WORKLOADS.json``).  A readable summary line with
``held_mb`` and ``failed_frac`` precedes the result, which is the
last line of standard output: one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

Everything the run writes goes under ``.perfbench_work/`` in the
checkout and is removed at exit, except the per-seed oracle cache and
the span file of a traced run; index artifacts the run builds under
``spark-warehouse/indexes/`` are removed too.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"
# one warm-up pass: it pays JIT compilation, Python worker start-up
# and the index builds.  Contention from other tenants of the host
# only ever slows a query, and comes in bursts shorter than a pass, so
# a run reports each query at its fastest of the timed passes (warm
# min-of-N per query, summed over the job list): on the same runs the
# fastest whole pass spread wider between runs and the median pass
# wider still.
WARMUPS = 1
# at least three timed passes, so that one slow pass never decides
# a query's time
MIN_PASSES = 3


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), os.cpu_count() or 1))


def pin_environment(run_dir: str) -> None:
    """Session pinning that has to happen before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # Python workers import the engine from the checkout
    py = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(py)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # compiler threads that live as long as the JVM, so that their CPU
    # is never folded into the process total when one exits.  C1 only:
    # with C2 the JIT burned 6-11 s of CPU a pass on four cores through
    # every timed pass, each pass faster than the last, and the
    # contention for cores made passes swing between runs; with C1
    # it compiles in the warm-up and burns ~1 s a pass after it
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        "-XX:TieredStopAtLevel=1"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _stat(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(root_pid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields of ``root_pid`` and its live descendants."""
    parent, stats = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            fields = _stat(f"/proc/{d}/stat")
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        stats[int(d)] = fields
    tree = {}
    for pid in stats:
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            tree[pid] = stats[pid]
    return tree


def stop_descendants() -> None:
    """Kill whatever this process started and is still running (the JVM
    and Python workers of a run cut short before the session was up or
    torn down), and wait until each has ended."""
    me = os.getpid()
    procs = [p for p in process_tree(me) if p != me]
    for pid in procs:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 30
    for pid in procs:
        try:
            os.waitpid(pid, 0)  # reaps a direct child
        except ChildProcessError:
            # a grandchild: its parent or init reaps it
            while _running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)


def _running(pid: int) -> bool:
    try:
        return _stat(f"/proc/{pid}/stat")[0] != "Z"
    except OSError:
        return False


def tree_cpu_s(root_pid: int) -> tuple[float, float]:
    """CPU seconds of ``root_pid`` and all its live descendants (driver
    Python, the JVM, Python workers), as (work, JIT).

    Work is utime+stime+cutime+cstime less the JIT's share: the JVM's
    compiler threads, which go on compiling for minutes after the
    warm-up at a rate that falls from pass to pass and swings with the
    host, so they are counted apart."""
    tick = os.sysconf("SC_CLK_TCK")
    total = jit = 0
    for pid, fields in process_tree(root_pid).items():
        total += sum(int(x) for x in fields[11:15])
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{pid}/task/{t}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                jit += sum(int(x) for x in _stat(f"/proc/{pid}/task/{t}/stat")[11:13])
            except OSError:
                continue
    return (total - jit) / tick, jit / tick


def index_entries(root: str) -> set[str]:
    path = os.path.join(root, "spark-warehouse", "indexes")
    return set(os.listdir(path)) if os.path.isdir(path) else set()


class Session:
    """The pinned Spark session and the per-query state protocol."""

    def __init__(self) -> None:
        from distributedmapreduce_spark.session import get_spark

        self.cores = cores()
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cores, driver_memory=DRIVER_MEMORY
        )
        self.sc = self.spark.sparkContext
        self.jsc = self.sc._jsc

    def reset(self) -> None:
        """Drop the Spark cache and every persisted or checkpointed RDD."""
        self.spark.catalog.clearCache()
        for rdd in list(self.jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)

    def held(self) -> tuple[float, int]:
        """(MB, RDD count) still held by persisted blocks."""
        infos = self.jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        return total / 1024.0**2, len(infos)

    def full_gc(self) -> None:
        gc.collect()
        self.sc._jvm.System.gc()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its workers) to exit."""
        proc = self.sc._gateway.proc
        self.spark.stop()
        self.sc._gateway.shutdown()
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(sess, wl, ctx, tracer, pass_no: int, stats: dict) -> dict:
    """One pass over the job list; returns its wall, CPU, held memory
    and failure counts.  Only the queries themselves are timed."""
    tracer.pass_no = pass_no
    tracer.reset_pass()
    wall = cpu = jit = 0.0
    held_mb, held_rdds, failed, attempted = 0.0, 0, 0, 0
    t_check = 0.0
    per_query = []
    me = os.getpid()
    with tracer.span("pass", "pass"):
        for name in wl.jobs:
            sess.reset()
            tracer.query = name
            attempted += 1
            (c0, j0), t0 = tree_cpu_s(me), time.perf_counter()
            try:
                with tracer.span(name, "query", jobs=True):
                    result = wl.run_job(ctx, name)
                err = None
            except Exception as e:  # noqa: BLE001 - counted and reported, the run goes on
                result, err = None, e
                traceback.print_exc()
            t1 = time.perf_counter()
            c1, j1 = tree_cpu_s(me)
            cpu += c1 - c0
            jit += j1 - j0
            wall += t1 - t0
            mb, n = sess.held()
            held_mb, held_rdds = max(held_mb, mb), max(held_rdds, n)
            per_query.append({"query": name, "s": t1 - t0, "cpu": c1 - c0, "held_mb": mb, "rdds": n})
            tc = time.perf_counter()
            ok = err is None and wl.check_job(ctx, name, result)
            t_check += time.perf_counter() - tc
            if not ok:
                failed += 1
                stats["failures"].append(
                    {"pass": pass_no, "query": name, "error": repr(err)[:300] if err else "output check"}
                )
                print(f"FAILED pass {pass_no} {name}: {err or 'output check'}", file=sys.stderr)
    sess.reset()
    return {
        "wall": wall, "cpu": cpu, "jit": jit, "held_mb": held_mb, "held_rdds": held_rdds,
        "failed": failed, "attempted": attempted, "t_check": t_check,
        "queries": per_query,
    }


def layer_metrics(tracer, reader, sess, p: dict, pass_no: int) -> dict:
    """The per-layer metrics of one traced pass."""
    import layertrace as tr

    spans = [s for s in tracer.spans if s["pass"] == pass_no]
    self_s = tr.self_times(tracer.spans, pass_no)
    named = sum(self_s.get(layer, 0.0) for layer in tr.LAYERS)
    qspans = [s for s in spans if s["layer"] == "query"]
    lo, hi = qspans[0]["job_lo"], qspans[-1]["job_hi"]
    reader.drain()
    jobs = reader.jobs(lo, hi)
    stages = reader.stages(sid for j in jobs for sid in j["stageIds"])
    windows = [(s["start"], s["end"]) for s in qspans]
    m = tr.exec_metrics(jobs, stages, reader.sql_executions(), windows, sess.cores)
    eager = [s for s in spans if s["layer"] == "plans"]
    eager_jobs = [j for s in eager for j in jobs if s["job_lo"] <= j["jobId"] < s["job_hi"]]
    src = [s for s in spans if s["layer"] == "sources"]
    rdd_q = [s for s in qspans if s["query"] == "rdd_word_count"]
    m.update({
        "sources.calls": len(src),
        "sources.busy_s": sum(s["end"] - s["start"] for s in src),
        "plans.construct_self_s": self_s.get("plans", 0.0),
        "plans.eager_jobs": len(eager_jobs),
        "plans.eager_job_s": sum(
            (j["completionTime"] - j["submissionTime"]) / 1000.0
            for j in eager_jobs if j.get("completionTime") and j.get("submissionTime")
        ),
        "operators.self_s": self_s.get("operators", 0.0),
        "catalyst.plan_s": self_s.get("catalyst", 0.0),
        "exec.collect_s": self_s.get("exec", 0.0),
        "mapreduce.job_s": sum(s["end"] - s["start"] for s in rdd_q),
        "kvstore.upsert_s": tracer.kv["upsert_s"],
        "kvstore.get_s": tracer.kv["get_s"],
        "kvstore.bytes_written": tracer.kv["bytes_written"],
        "kvstore.write_amp": tracer.kv["bytes_written"] / sum(tracer.kv["store_bytes"].values())
        if tracer.kv["store_bytes"] else 0.0,
        "cache.held_mb": p["held_mb"],
        "cache.rdds_held": p["held_rdds"],
        "trace.pass_s": p["wall"],
        "trace.accounted_frac": named / p["wall"] if p["wall"] else 0.0,
    })
    return m


def fastest_pass(passes: list[dict], key: str) -> float:
    """Sum over the job list of each query's lowest ``key`` (wall "s" or
    "cpu") in ``passes``."""
    best: dict[str, float] = {}
    for p in passes:
        for x in p["queries"]:
            best[x["query"]] = min(best.get(x["query"], x[key]), x[key])
    return sum(best.values())


def per_layer_units() -> dict[str, str]:
    """The per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import distributedmapreduce_spark  # noqa: F401 - fail fast without the engine

    import workloads

    wl = workloads.WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_environment(run_dir)
    indexes_before = index_entries(ROOT)

    def clean_up() -> None:
        stop_descendants()
        for entry in index_entries(ROOT) - indexes_before:
            shutil.rmtree(os.path.join(ROOT, "spark-warehouse", "indexes", entry), ignore_errors=True)
        shutil.rmtree(run_dir, ignore_errors=True)

    def terminated(signum, _frame):
        # here, not by unwinding: py4j turns an exception raised inside
        # one of its calls into a query error
        clean_up()
        os._exit(128 + signum)

    signal.signal(signal.SIGTERM, terminated)
    sess = None
    try:
        t0 = time.perf_counter()
        prep = wl.prepare(run_dir, args.seed)
        t_gen = time.perf_counter() - t0

        import check
        import layertrace as tr

        from distributedmapreduce_spark.plans.registry import ORACLES, QUERIES

        t0 = time.perf_counter()
        expected = prep.get("expected", {})
        if prep.get("oracle_jobs"):
            expected = check.oracle_results(
                prep["sf_dir"],
                {q: ORACLES[q] for q in prep["oracle_jobs"]},
                os.path.join(WORK, "oracle", f"{wl.name}-{args.seed}.json"),
            )
        t_oracle = time.perf_counter() - t0

        t0 = time.perf_counter()
        sess = Session()
        start_s = time.perf_counter() - t0
        tracer = tr.Tracer(wl.name)
        reader = None
        if args.trace:
            reader = tr.StatusReader(sess.spark)
            tracer.next_job = reader.next_job
            tracer.install()
            tracer.on = True
        ctx = workloads.Ctx(
            spark=sess.spark, tracer=tracer, run_dir=run_dir,
            sf_dir=prep.get("sf_dir", ""), text_path=prep.get("text_path", ""),
            queries=QUERIES, expected=expected,
        )
        stats = {"failures": []}
        passes = []
        t_excluded = t_gen + t_oracle
        # a traced run warms up one pass longer, so that its first
        # untraced pass is not the one still settling the JIT
        warmups = WARMUPS + args.trace
        for w in range(warmups):
            p = run_pass(sess, wl, ctx, tracer, -1 - w, stats)
            passes.append(p)
            t_excluded += p["t_check"]
            sess.full_gc()
        if reader is not None:
            reader.drain()
            reader.sql_executions()  # skip the warm-up executions
        setup_s = time.time() - process_start() - t_excluded

        timed, layers = [], []
        untraced = []
        t_timed = 0.0
        i = 0
        while len(timed) + len(untraced) < MIN_PASSES or t_timed < args.seconds:
            traced = bool(args.trace) and i % 2 == 1
            tracer.on = traced
            p = run_pass(sess, wl, ctx, tracer, i, stats)
            passes.append(p)
            t_timed += p["wall"]
            if args.trace and not traced:
                untraced.append(p)
            else:
                timed.append(p)
            if traced:
                layers.append(layer_metrics(tracer, reader, sess, p, i))
            elif reader is not None:
                reader.drain()
                reader.sql_executions()
            sess.full_gc()
            i += 1
        tracer.on = False

        attempted = sum(p["attempted"] for p in passes)
        failed = sum(p["failed"] for p in passes)
        pass_s = fastest_pass(timed, "s")
        held_mb = max(p["held_mb"] for p in timed)
        summary = {
            "workload": wl.name, "seed": args.seed, "passes": len(timed),
            "setup_s": setup_s, "pass_s": pass_s,
            "cpu_s": fastest_pass(timed, "cpu"),
            "held_mb": held_mb, "failed_frac": failed / attempted,
            "session_start_s": start_s, "gen_s": t_gen, "oracle_s": t_oracle,
            "inputs": prep["inputs"],
            "failures": stats["failures"],
            "warmup_s": [p["wall"] for p in passes[:warmups]],
            "pass_walls": [p["wall"] for p in timed],
            "pass_cpus": [p["cpu"] for p in timed],
            "pass_jit_cpus": [p["jit"] for p in timed],
            "warmup_query_s": [{x["query"]: x["s"] for x in p["queries"]} for p in passes[:warmups]],
            "pass_query_s": [{x["query"]: x["s"] for x in p["queries"]} for p in timed],
            "pass_query_cpus": [{x["query"]: x["cpu"] for x in p["queries"]} for p in timed],
        }
        if args.trace:
            m = tr.median_dict(layers)
            untraced_s = statistics.median(p["wall"] for p in untraced)
            built = tracer.index["builds"]
            m.update({
                "session.start_s": start_s,
                "index_store.builds": built,
                "index_store.build_s": tracer.index["build_s"],
                "index_store.hits": tracer.index["hits"],
                "index_store.hit_ratio": tracer.index["hits"] / max(1, built + tracer.index["hits"]),
                "trace.untraced_pass_s": untraced_s,
                "trace.overhead_s": m["trace.pass_s"] - untraced_s,
            })
            metrics = {k: {"value": float(m[k]), "unit": u} for k, u in per_layer_units().items()}
            tracer.dump(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "pass_s": {"value": pass_s, "unit": "s"},
                "cpu_s": {"value": summary["cpu_s"], "unit": "s"},
            }
    finally:
        try:
            if sess is not None:
                sess.stop()
        finally:
            clean_up()
    print("summary " + json.dumps(summary))
    print(
        f"{wl.name} seed={args.seed}: setup_s={setup_s:.3f} s  pass_s={pass_s:.3f} s  "
        f"cpu_s={summary['cpu_s']:.3f} s  held_mb={held_mb:.3f} MB  "
        f"failed_frac={summary['failed_frac']:.4f} ratio"
    )
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
