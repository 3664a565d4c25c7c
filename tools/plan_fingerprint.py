"""Per-query semantic fingerprints for cross-round 100x verdict
caching (VERDICT r11 task 3).

The 100x sweep's wall cost is dominated by re-proving queries whose
plan did not change since their last green verdict.  A verdict is a
function of (the query's execution semantics, the oracle SQL, the
data it ran on, the compare harness) — so each query gets a key:

    sha256( normalized analyzed logical plan at sf0.001
          + sha256 of the defining module's source file
          + oracle SQL
          + sha256 of tools/check_oracle.py )

and the sweep separately fingerprints the REPLICA (sorted table file
names + sizes).  Unchanged key + unchanged replica => the cached
verdict is evidence for this round's cell (recorded with provenance);
any change re-keys and forces a fresh run.

Why each component:
- the ANALYZED plan (pre-cache-substitution) captures the logical
  computation including literals/seeds, normalized for expression ids
  (``#123``), object addresses and the sf-dir path — stable across
  sessions, changes whenever the query's semantics change;
- the defining-file hash closes the plan's blind spot: a pandas-UDF
  BODY edit doesn't show in the plan string (the function prints as a
  normalized object), but it lives in the same module file, so any
  edit to that file re-keys every query it defines — over-invalidates
  a little, never under-invalidates;
- the defining file's TRANSITIVE intra-package import closure
  (ADVICE r12 item 2): UDF bodies import shared code at runtime
  (e.g. plans/mmq.py's decode UDFs call operators/codecs.py), so an
  edit to a shared module changes semantics without touching the
  defining file or the plan string.  A static scan resolves every
  ``from .x import`` / ``from ..pkg.mod import`` /
  ``import distributedmapreduce_spark...`` statement ANYWHERE in the
  file (deferred in-function imports included — that's the executor
  pickling pattern), recurses, and folds the sorted closure's file
  hashes into the key.  session.py (runtime config) is folded into
  every key unconditionally;
- oracle text: a changed oracle is a changed claim;
- check_oracle.py: the gate itself (canonicalization, float rounding)
  is part of what a verdict means.

Building every registry frame at sf0.001 does run the driver-side
loops of iterative queries (kmeans etc. collect at build time), but
at sf0.001 that is seconds — vs the hours the cache saves at 100x.

Usage:
    python3 tools/plan_fingerprint.py [QUERY ...]               # keys
    python3 tools/plan_fingerprint.py --components [QUERY ...]
    python3 tools/plan_fingerprint.py --plans [QUERY ...]       # plans
    python3 tools/plan_fingerprint.py --diff PARENT.json CHANGE.json \
        [--expect QUERY ...]                                    # gate

``--plans`` prints name -> normalized analyzed plan; run it in two
checkouts and save the outputs.  ``--diff`` reads two such dumps,
prints the changed, added and removed queries, and exits 1 when any
of them is not named after ``--expect`` (a query whose build failed
dumps as null, so a new failure shows as a change).  It also lists,
changed or not, the queries whose plan reads a checkpoint or
collected RDD (a ``LogicalRDD`` leaf): the plan cannot show what
built that leaf, so those need the oracle battery instead.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import sys

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)

FP_SF = "/root/testdata/sf0.001"

_ID_RE = re.compile(r"#\d+")
# PySpark names a lambda variable ``x_<n>`` from a JVM-global counter,
# so the suffix counts the lambdas built earlier in the session
_LAMBDA_RE = re.compile(r"(lambda \w+?)_\d+#")
_ADDR_RE = re.compile(r"0x[0-9a-fA-F]+")
_AT_RE = re.compile(r"@[0-9a-fA-F]{6,}")


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _file_sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def normalize_plan(plan: str, sf_dir: str) -> str:
    plan = plan.replace(os.path.realpath(sf_dir), "<SF>")
    plan = plan.replace(sf_dir, "<SF>")
    plan = _ID_RE.sub("#", plan)
    plan = _LAMBDA_RE.sub(r"\1#", plan)
    plan = _ADDR_RE.sub("0x", plan)
    return _AT_RE.sub("@", plan)


_PKG_ROOT = os.path.join(_REPO, "distributedmapreduce_spark")
_PKG_NAME = "distributedmapreduce_spark"
_REL_IMP_RE = re.compile(r"^\s*from\s+(\.+)([\w.]*)\s+import", re.M)
_ABS_IMP_RE = re.compile(
    rf"^\s*(?:from\s+{_PKG_NAME}([\w.]*)\s+import|import\s+{_PKG_NAME}([\w.]*))",
    re.M,
)


def _resolve_module_file(pkg_dir: str, dotted: str) -> str | None:
    """Resolve a dotted module path relative to pkg_dir to a .py file
    (module file, else package __init__).  Returns None if the final
    component is an attribute of a package rather than a module."""
    base = os.path.join(pkg_dir, *dotted.split(".")) if dotted else pkg_dir
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(cand):
            return cand
    # `from ..operators.codecs import decode_avi` resolves above;
    # `from .llm3 import _md5_u32` resolves above; a miss means the
    # last component was an attribute — try the parent module file
    if "." in dotted:
        return _resolve_module_file(pkg_dir, dotted.rsplit(".", 1)[0])
    return None


def _intra_deps(src_path: str, seen: set[str] | None = None) -> set[str]:
    """Transitive closure of intra-package imports of a source file —
    INCLUDING deferred in-function imports (the executor-pickling
    pattern), which a runtime module-dict walk would miss."""
    seen = seen if seen is not None else set()
    real = os.path.realpath(src_path)
    if real in seen or not real.startswith(_PKG_ROOT):
        return seen
    seen.add(real)
    try:
        with open(real, "r", encoding="utf-8") as f:
            text = f.read()
    except OSError:
        return seen
    targets: list[str] = []
    for m in _REL_IMP_RE.finditer(text):
        dots, dotted = m.group(1), m.group(2)
        pkg_dir = os.path.dirname(real)
        for _ in range(len(dots) - 1):
            pkg_dir = os.path.dirname(pkg_dir)
        if not pkg_dir.startswith(os.path.dirname(_PKG_ROOT)):
            continue
        t = _resolve_module_file(pkg_dir, dotted)
        if t:
            targets.append(t)
    for m in _ABS_IMP_RE.finditer(text):
        dotted = (m.group(1) or m.group(2) or "").lstrip(".")
        t = _resolve_module_file(_PKG_ROOT, dotted)
        if t:
            targets.append(t)
    for t in targets:
        _intra_deps(t, seen)
    return seen


def closure_hash(src_path: str, cache: dict[str, str]) -> str:
    """Combined hash of src_path's intra-package import closure
    (excluding src_path itself, which is hashed separately)."""
    real = os.path.realpath(src_path)
    if real not in cache:
        deps = sorted(_intra_deps(real) - {real})
        cache[real] = _sha(
            "\n".join(
                f"{os.path.relpath(d, _REPO)}:{_file_sha(d)}" for d in deps
            )
        )[:24]
    return cache[real]


def replica_fingerprint(sf_dir: str) -> str:
    """Fingerprint a test-data/replica dir: table file names + sizes.
    gen_scale.py writes deterministically, so a regenerated same-factor
    replica keeps its fingerprint; any content drift re-keys (a miss
    only costs a re-run, never a wrong cached verdict)."""
    parts = []
    for root, dirs, files in sorted(os.walk(sf_dir)):
        dirs.sort()
        for f in sorted(files):
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            p = os.path.join(root, f)
            parts.append(f"{os.path.relpath(p, sf_dir)}:{os.path.getsize(p)}")
    return _sha("\n".join(parts))[:16]


def _plan_session(app_name: str):
    """A session whose plan strings list every field: by default Spark
    elides all but 25 entries of a long list ("... 39 more fields"),
    and a change to the elided entries would not show in the plan."""
    from distributedmapreduce_spark.session import get_spark

    spark = get_spark(app_name=app_name, cpus=8)
    spark.conf.set("spark.sql.debug.maxToStringFields", 1 << 20)
    return spark


def query_fingerprints(names=None, fp_sf: str = FP_SF) -> dict[str, str | None]:
    """Return name -> key (None where fingerprinting failed; a None
    key never cache-hits, so failures degrade to fresh runs)."""
    from distributedmapreduce_spark.plans.registry import get_registry
    reg = get_registry()
    if names is None:
        names = sorted(reg)
    harness = _file_sha(os.path.join(_HERE, "check_oracle.py"))
    session_sha = _file_sha(os.path.join(_PKG_ROOT, "session.py"))
    spark = _plan_session("plan_fingerprint")
    src_cache: dict[str, str] = {}
    clo_cache: dict[str, str] = {}
    out: dict[str, str | None] = {}
    for name in names:
        q = reg[name]
        try:
            df = q.fn(spark, fp_sf)
            plan = normalize_plan(
                df._jdf.queryExecution().analyzed().toString(), fp_sf
            )
            src = inspect.getsourcefile(q.fn) or "<?>"
            if src not in src_cache:
                src_cache[src] = (
                    _file_sha(src) if os.path.exists(src) else "<?>"
                )
            clo = (
                closure_hash(src, clo_cache)
                if os.path.exists(src)
                else "<?>"
            )
            out[name] = _sha(
                f"{plan}\n==SRC=={src_cache[src]}\n==DEPS=={clo}"
                f"\n==SESSION=={session_sha}\n==ORACLE=="
                f"{q.oracle or ''}\n==HARNESS=={harness}"
            )[:24]
        except Exception as e:  # noqa: BLE001 — degrade to fresh run
            print(f"fingerprint FAILED for {name}: {e!r}", file=sys.stderr)
            out[name] = None
    return out


_PYEVAL_RE = re.compile(
    r"MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
    r"|ArrowEvalPython|BatchEvalPython|PythonUDF|mapInArrow",
    re.I,
)


def query_components(names=None, fp_sf: str = FP_SF) -> dict[str, dict]:
    """Per-query SEMANTIC SUB-COMPONENTS for cross-tree seeding of
    module-rekeyed queries (SCALE.md §15i).  The full key folds in the
    defining module + import-closure bytes because Python UDF bodies
    and artifact-builder code are invisible in the plan string; but
    for a query whose executed semantics live ENTIRELY in the JVM
    plan — no Python-eval node anywhere in the analyzed plan, and
    every relation a <SF> table scan (no engine-written artifact
    paths) — the normalized analyzed plan + oracle + gate IS the
    semantics, and bit-identity of those across two trees makes a
    green verdict from either tree evidence for both.  Queries with a
    Python stage or an artifact read keep the strict module-level
    keying (``seedable: False``)."""
    from distributedmapreduce_spark.plans.registry import get_registry
    reg = get_registry()
    if names is None:
        names = sorted(reg)
    harness = _file_sha(os.path.join(_HERE, "check_oracle.py"))
    spark = _plan_session("plan_components")
    out: dict[str, dict] = {}
    for name in names:
        q = reg[name]
        try:
            df = q.fn(spark, fp_sf)
            plan = normalize_plan(
                df._jdf.queryExecution().analyzed().toString(), fp_sf
            )
            pyeval = bool(_PYEVAL_RE.search(plan))
            # any scan outside the <SF> dir (warehouse/index/tmp
            # artifacts) means fn() ran engine code whose semantics
            # the plan cannot attest
            nonsf = bool(
                re.search(r"parquet [^\n]*(?:warehouse|/tmp/|indexes)",
                          plan)
            ) or ("spark-warehouse" in plan)
            out[name] = {
                "sem": _sha(
                    f"{plan}\n==ORACLE=={q.oracle or ''}"
                    f"\n==HARNESS=={harness}"
                )[:24],
                "seedable": not pyeval and not nonsf,
            }
        except Exception as e:  # noqa: BLE001 — degrade to fresh run
            print(f"components FAILED for {name}: {e!r}", file=sys.stderr)
            out[name] = {"sem": None, "seedable": False}
    return out


def query_plans(names=None, fp_sf: str = FP_SF) -> dict[str, str | None]:
    """name -> normalized analyzed plan (None where the build failed),
    for diffing the dumps of two checkouts.  Analyzed, not optimized:
    the optimizer's rewrites (e.g. the group-id literal of a
    distinct-aggregate Expand) can differ between two builds of one
    query in one checkout."""
    from distributedmapreduce_spark.plans.registry import get_registry
    reg = get_registry()
    if names is None:
        names = sorted(reg)
    spark = _plan_session("plan_dump")
    out: dict[str, str | None] = {}
    for name in names:
        try:
            df = reg[name].fn(spark, fp_sf)
            out[name] = normalize_plan(
                df._jdf.queryExecution().analyzed().toString(), fp_sf
            )
        except Exception as e:  # noqa: BLE001 — report and go on
            print(f"plan FAILED for {name}: {e!r}", file=sys.stderr)
            out[name] = None
    return out


def diff_plans(parent: dict, change: dict) -> dict[str, list[str]]:
    """The queries whose dumped plan differs between two ``--plans``
    dumps: in both but different, only in ``change``, only in
    ``parent``."""
    return {
        "changed": sorted(
            q for q in parent.keys() & change.keys() if parent[q] != change[q]
        ),
        "added": sorted(change.keys() - parent.keys()),
        "removed": sorted(parent.keys() - change.keys()),
    }


def rdd_leaf_plans(plans: dict) -> list[str]:
    """Queries whose dumped plan has a ``LogicalRDD`` leaf — a
    localCheckpoint or a driver-built frame whose lineage the plan
    string does not show, so an equal plan proves nothing about it."""
    return sorted(q for q, p in plans.items() if p and "LogicalRDD" in p)


def _diff_main(args: list[str]) -> int:
    if len(args) < 2 or args[2:3] not in ([], ["--expect"]):
        print("usage: --diff PARENT.json CHANGE.json [--expect QUERY ...]",
              file=sys.stderr)
        return 2
    dumps = []
    for path in args[:2]:
        with open(path, encoding="utf-8") as f:
            dumps.append(json.load(f))
    diff = diff_plans(*dumps)
    expect = set(args[3:])
    unexpected = [q for names in diff.values() for q in names if q not in expect]
    for kind, names in diff.items():
        for q in names:
            print(f"{kind}: {q}" + ("" if q in expect else "  UNEXPECTED"))
    opaque = rdd_leaf_plans(dumps[1])
    if opaque:
        print("checkpoint/RDD leaf, not covered by this diff"
              " (run the oracle battery):")
        for q in opaque:
            print(f"  {q}")
    print(
        f"{len(dumps[1])} queries; "
        + ", ".join(f"{len(v)} {k}" for k, v in diff.items())
        + f"; {len(unexpected)} unexpected"
    )
    return 1 if unexpected else 0


if __name__ == "__main__":
    modes = {"--components": query_components, "--plans": query_plans}
    if len(sys.argv) > 1 and sys.argv[1] == "--diff":
        sys.exit(_diff_main(sys.argv[2:]))
    if len(sys.argv) > 1 and sys.argv[1] in modes:
        print(json.dumps(
            modes[sys.argv[1]](sys.argv[2:] or None), indent=1,
            sort_keys=True,
        ))
    else:
        fps = query_fingerprints(sys.argv[1:] or None)
        print(json.dumps(fps, indent=1, sort_keys=True))
