"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The tests that start Spark take a few minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402

def _load(name: str) -> dict:
    with open(os.path.join(ROOT if name == "BENCHMARK.json" else BENCH, name)) as f:
        return json.load(f)


def _digests(d: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(d: str, seed: int) -> None:
    gen.write_star_schema(d, seed)
    gen.write_zipf_text(os.path.join(d, "zipf.txt"), seed)


def test_generator_is_deterministic_per_seed(tmp_path):
    for sub, seed in (("a", 5), ("b", 5), ("c", 6)):
        _write_all(str(tmp_path / sub), seed)
    a, b, c = (_digests(str(tmp_path / s)) for s in "abc")
    assert a == b
    assert set(a) == set(c) and all(a[k] != c[k] for k in a if k not in ("region.parquet", "nation.parquet"))


def test_schema_and_rows_same_for_every_seed(tmp_path):
    _write_all(str(tmp_path / "a"), 1)
    _write_all(str(tmp_path / "b"), 2)
    for name in gen.TABLES:
        src = pq.read_table(os.path.join(gen.SOURCE, f"{name}.parquet"))
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.num_rows == tb.num_rows == src.num_rows
        assert ta.schema.equals(tb.schema) and ta.schema.equals(src.schema)
    for sub in "ab":
        with open(tmp_path / sub / "zipf.txt") as f:
            assert len(f.read().split("\n")[:-1]) == gen.TEXT_LINES


def test_key_relabelling_is_bijective_and_consistent(tmp_path):
    _write_all(str(tmp_path), 3)

    def col(table, c):
        return pq.read_table(tmp_path / f"{table}.parquet").column(c).to_pylist()

    for table, key in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                       ("part", "p_partkey"), ("supplier", "s_suppkey"),
                       ("documents", "doc_id"), ("embeddings", "vec_id"),
                       ("events", "event_id")):
        src = pq.read_table(os.path.join(gen.SOURCE, f"{table}.parquet")).column(key)
        assert sorted(col(table, key)) == sorted(src.to_pylist())
    assert col("customer", "c_custkey") != sorted(col("customer", "c_custkey"))
    assert set(col("orders", "o_custkey")) <= set(col("customer", "c_custkey"))
    assert set(col("lineitem", "l_orderkey")) <= set(col("orders", "o_orderkey"))
    assert set(col("lineitem", "l_partkey")) <= set(col("part", "p_partkey"))


def test_relabelling_keeps_the_joins(tmp_path):
    """Joined through relabelled keys, the tables pair the same values
    as the source tables do: only the labels and the row order change."""
    gen.write_star_schema(str(tmp_path), 8)

    def pairs(d):
        def read(t):
            return pq.read_table(os.path.join(d, f"{t}.parquet")).to_pandas()

        li = read("lineitem").merge(read("orders"), left_on="l_orderkey", right_on="o_orderkey")
        li = li.merge(read("customer"), left_on="o_custkey", right_on="c_custkey")
        li = li.merge(read("part"), left_on="l_partkey", right_on="p_partkey")
        li = li.merge(read("supplier"), left_on="l_suppkey", right_on="s_suppkey")
        cols = ["l_extendedprice", "o_totalprice", "c_acctbal", "p_retailprice", "s_acctbal"]
        docs = read("documents").merge(read("embeddings"), left_on="doc_id", right_on="vec_id")
        return (sorted(map(tuple, li[cols].to_numpy().tolist())),
                sorted(zip(docs["text"], docs["label"])))

    assert pairs(str(tmp_path)) == pairs(gen.SOURCE)


def test_text_exercises_cleaning_quirks(tmp_path):
    path = tmp_path / "t.txt"
    gen.write_zipf_text(str(path), 4)
    lines = path.read_text().split("\n")[:-1]
    assert "" in lines
    assert any("  " in ln for ln in lines)
    assert any(ch in "".join(lines) for ch in ",.!?;")
    assert any(ln != ln.lower() for ln in lines)


def test_benchmark_json_matches_the_program():
    bench = _load("BENCHMARK.json")
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"] for m in bench["end_to_end"]} == {"setup_s", "pass_s", "cpu_s"}
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_workloads_json_matches_the_program():
    meta = _load("WORKLOADS.json")
    for name, wl in workloads.WORKLOADS.items():
        jobs = [j.split(":")[0] for j in meta["workloads"][name]["jobs"]]
        assert jobs == wl.jobs
    layer_metrics = {m for layer in meta["layers"].values() for m in layer.get("metrics", [])}
    assert layer_metrics == {m["name"] for m in _load("BENCHMARK.json")["per_layer"]}


def test_fastest_pass_takes_each_query_at_its_fastest():
    import run

    passes = [
        {"queries": [{"query": "a", "s": 2.0, "cpu": 1.0}, {"query": "b", "s": 5.0, "cpu": 4.0}]},
        {"queries": [{"query": "a", "s": 3.0, "cpu": 0.5}, {"query": "b", "s": 4.0, "cpu": 6.0}]},
    ]
    assert run.fastest_pass(passes, "s") == 6.0
    assert run.fastest_pass(passes, "cpu") == 4.5


def test_stop_descendants_ends_every_child():
    import run

    child = subprocess.Popen(
        [sys.executable, "-c", "import subprocess, sys, time; "
         "subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); time.sleep(60)"]
    )
    deadline = time.monotonic() + 10
    while len(run.process_tree(os.getpid())) < 3 and time.monotonic() < deadline:
        time.sleep(0.05)
    assert len(run.process_tree(os.getpid())) == 3
    run.stop_descendants()
    assert child.poll() is not None
    assert list(run.process_tree(os.getpid())) == [os.getpid()]


def test_pinned_state_protocol_drops_persisted_rdds(tmp_path, monkeypatch):
    import run

    for var in ("PYTHONPATH", "TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_JAVA_OPTS",
                "PYSPARK_SUBMIT_ARGS", "OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS"):
        monkeypatch.delenv(var, raising=False)
    run.pin_environment(str(tmp_path))
    sess = run.Session()
    try:
        spark = sess.spark
        cached = spark.range(1000).selectExpr("id % 7 AS k").persist()
        cached.count()
        spark.range(500).localCheckpoint().count()
        spark.sparkContext.parallelize(range(100)).cache().count()
        assert sess.held()[1] > 0
        sess.reset()
        assert len(sess.jsc.getPersistentRDDs()) == 0
        assert sess.held() == (0.0, 0)
    finally:
        sess.stop()


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, env=env,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_run_prints_every_metric_and_restores_state(trace):
    bench = _load("BENCHMARK.json")
    before = _index_entries()
    p = _run(ROOT, "--workload", "registry_mix", "--seed", "7", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    want = bench["end_to_end"] if trace == "0" else bench["per_layer"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    summary = p.stdout.strip().splitlines()[-2]
    for name, unit in (("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
                       ("held_mb", "MB"), ("failed_frac", "ratio")):
        assert f"{name}=" in summary and unit in summary
    assert _index_entries() == before
    work = os.path.join(ROOT, ".perfbench_work")
    assert not [d for d in os.listdir(work) if d.startswith("run-")]


def _index_entries() -> set[str]:
    path = os.path.join(ROOT, "spark-warehouse", "indexes")
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "registry_mix", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
