"""Layer tracing for the benchmark's traced run.

Spans are opened around calls into the engine's public entry points
(``Tracer.install`` wraps them in their modules from the outside, so
no engine code changes) and around the benchmark's own construction,
planning and execution steps.  A span records its name, layer, start,
end, parent, workload, pass and query; counts ride along as extra
fields.  A layer's self time is its spans' time minus their children.

Spark's side comes from the status stores after each pass: jobs are
attributed to a pass or a query by job-id window (the jobs launched
between its start and its return), which also covers jobs launched
from driver-thread pools that do not inherit a job group.
"""

from __future__ import annotations

import contextlib
import inspect
import json
import os
import re
import statistics
import time

from py4j.protocol import Py4JJavaError

LAYERS = ("sources", "plans", "operators", "catalyst", "exec")


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Tracer:
    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_no = -1
        self.query = ""
        self.next_job = lambda: 0
        self.index = {"builds": 0, "build_s": 0.0, "hits": 0}
        self.kv: dict = {}
        self.reset_pass()
        self._patches: list[tuple[object, str, object]] = []

    def reset_pass(self) -> None:
        self.kv = {"upsert_s": 0.0, "get_s": 0.0, "bytes_written": 0, "store_bytes": {}}

    @contextlib.contextmanager
    def span(self, name: str, layer: str, jobs: bool = False, **counts):
        if not self.on:
            yield None
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "pass": self.pass_no,
            "query": self.query,
            **counts,
        }
        if jobs:
            rec["job_lo"] = self.next_job()
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            if jobs:
                rec["job_hi"] = self.next_job()
            rec["end"] = time.time()

    # -- wrapping the engine's entry points --------------------------------

    def _patch(self, owner, attr: str, layer: str, hook=None) -> None:
        orig = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.on:
                return orig(*args, **kwargs)
            with tracer.span(name, layer) as rec:
                if hook is None:
                    return orig(*args, **kwargs)
                return hook(rec, orig, args, kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from distributedmapreduce_spark.operators import index_store, kvstore
        from distributedmapreduce_spark.operators import mapreduce
        from distributedmapreduce_spark.operators import text as optext
        from distributedmapreduce_spark.plans import core, llm, llm2
        from distributedmapreduce_spark.sources import text as srctext

        self._patch(core, "load_table", "sources")
        self._patch(srctext, "read_text_lines", "sources")
        sig = inspect.signature(index_store.cached_index)

        def index_hook(rec, orig, args, kwargs):
            a = sig.bind(*args, **kwargs)
            a.apply_defaults()
            p = index_store.index_path(
                a.arguments["kind"], a.arguments["src_path"],
                a.arguments["params"], stable_src=a.arguments["stable_src"],
            )
            built = not os.path.exists(os.path.join(p, "_SUCCESS"))
            t0 = time.time()
            out = orig(*args, **kwargs)
            rec["index_built"] = built
            if built:
                self.index["builds"] += 1
                self.index["build_s"] += time.time() - t0
            else:
                self.index["hits"] += 1
            return out

        for mod in (llm, llm2):
            self._patch(mod, "cached_index", "operators", index_hook)
        self._patch(mapreduce, "map_reduce", "operators")
        for fn in ("lines", "tokens", "word_count", "inverted_index"):
            self._patch(optext, fn, "operators")
        self._patch(optext, "with_prefix_sums", "operators")

        def kv_hook(kind):
            def hook(rec, orig, args, kwargs):
                t0 = time.time()
                out = orig(*args, **kwargs)
                self.kv[f"{kind}_s"] += time.time() - t0
                if kind == "upsert":
                    path = args[0].path
                    self.kv["bytes_written"] += du(path) + du(path + ".staging")
                    self.kv["store_bytes"][path] = du(path)
                return out

            return hook

        self._patch(kvstore.SolutionStore, "upsert", "operators", kv_hook("upsert"))
        self._patch(kvstore.SolutionStore, "get", "operators", kv_hook("get"))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict], pass_no: int) -> dict[str, float]:
    """Self time per layer over one pass's spans."""
    ids = [i for i, s in enumerate(spans) if s["pass"] == pass_no]
    child = {i: 0.0 for i in ids}
    for i in ids:
        p = spans[i]["parent"]
        if p is not None and p in child:
            child[p] += spans[i]["end"] - spans[i]["start"]
    out: dict[str, float] = {}
    for i in ids:
        s = spans[i]
        out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"] - child[i])
    return out


# -- Spark status stores -----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")

PY_METRICS = {
    "time to run Python workers": "total_s",
    "time to start Python workers": "boot_s",
    "time to initialize Python workers": "init_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "recv_mb",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric: seconds for timings, bytes for
    sizes ("total (min, med, max ...)\\n4.7 s (...)" or "1311.0 B")."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class StatusReader:
    """Reads jobs, stages, task quantiles and SQL metrics through py4j,
    one JSON round trip per object (Jackson, as Spark's REST API)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        jvm = sc._jvm
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.quant = sc._gateway.new_array(jvm.double, 2)
        self.quant[0], self.quant[1] = 0.5, 1.0
        self.next_exec = 0
        self.dag = self.jsc.dagScheduler()

    def next_job(self) -> int:
        return self.dag.numTotalJobs()

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def jobs(self, lo: int, hi: int) -> list[dict]:
        out = []
        for jid in range(lo, hi):
            try:
                out.append(self._json(self.store.job(jid)))
            except Py4JJavaError:  # evicted from the store
                continue
        return out

    def stages(self, stage_ids) -> list[dict]:
        out = []
        for sid in sorted(set(stage_ids)):
            try:
                st = self._json(self.store.lastStageAttempt(sid))
            except Py4JJavaError:  # never submitted (skipped)
                continue
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            summ = self.store.taskSummary(sid, st["attemptId"], self.quant)
            run = self._json(summ.get())["executorRunTime"] if summ.isDefined() else [0, 0]
            st["straggler_ms"] = run[1] - run[0]
            out.append(st)
        return out

    def sql_executions(self) -> list[dict]:
        """SQL executions recorded since the last call, with their job
        ids and parsed Python-stage metric totals."""
        out, misses, eid = [], 0, self.next_exec
        while misses < 50:
            opt = self.sql.execution(eid)
            if not opt.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            e = opt.get()
            jobs = [int(j) for j in self._json(e.jobs())]
            metrics = self._json(e.metrics())
            wanted = {
                m["accumulatorId"]: PY_METRICS[m["name"]]
                for m in metrics
                if m["name"] in PY_METRICS
            }
            py = dict.fromkeys(PY_METRICS.values(), 0.0)
            if wanted:
                values = self._json(self.sql.executionMetrics(eid))
                for acc, key in wanted.items():
                    v = values.get(str(acc))
                    if v:
                        py[key] += parse_metric(v)
            out.append({"id": eid, "jobs": jobs, "python": py})
            eid += 1
            self.next_exec = eid
        return out


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def exec_metrics(
    jobs: list[dict], stages: list[dict], execs: list[dict],
    windows: list[tuple[float, float]], cores: int,
) -> dict[str, float]:
    """The exec.* and python.* per-layer metrics of one pass; ``windows``
    are the (start, end) times of its queries."""
    job_wall = wall = 0.0
    for t0, t1 in windows:
        spans = []
        for j in jobs:
            a = (j.get("submissionTime") or 0) / 1000.0
            b = (j.get("completionTime") or 0) / 1000.0
            if a and b and min(b, t1) > max(a, t0):
                spans.append((max(a, t0), min(b, t1)))
        job_wall += _union_s(spans)
        wall += t1 - t0
    run_s = sum(s["executorRunTime"] for s in stages) / 1000.0
    mb = 1024.0**2
    out = {
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
        "exec.run_s": run_s,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "exec.input_mb": sum(s["inputBytes"] for s in stages) / mb,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / mb,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / mb,
        "exec.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / mb,
        "exec.task_failures": sum(s["numFailedTasks"] for s in stages),
        "exec.core_util": run_s / (job_wall * cores) if job_wall > 0 else 0.0,
        "exec.driver_nojob_s": wall - job_wall,
        "exec.straggler_s": sum(s["straggler_ms"] for s in stages) / 1000.0,
    }
    py = dict.fromkeys(PY_METRICS.values(), 0.0)
    job_ids = {j["jobId"] for j in jobs}
    for e in execs:
        if job_ids.intersection(e["jobs"]):
            for k, v in e["python"].items():
                py[k] += v
    for k, v in py.items():
        out[f"python.{k}"] = v / mb if k.endswith("_mb") else v
    return out


def median_dict(rows: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
