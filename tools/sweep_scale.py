"""Chunked full-registry correctness sweep at a scale replica.

VERDICT r08 next-round #4: upgrade the 100× scale story from
"per-family cohorts" to "full-registry swept".  This harness runs
EVERY registry query through ``tools/check_oracle.py`` at a replica
dir, in chunks of N per fresh engine process (one long-lived JVM
accumulating sketch+window state across heavy 100× queries OOMs —
the §9f bulkheading lesson), merges the per-chunk driver-schema
verdict maps into one artifact, and names every exclusion with its
documented reason — no silent caps.

Usage:
    python3 tools/sweep_scale.py [SF_DIR] [OUT_JSON]

Defaults: /tmp/sf100 -> SCALE_SWEEP_100x.json.  Env:
SPARK_GRAFT_SWEEP_CHUNK (default 8), SPARK_GRAFT_SWEEP_TIMEOUT
(seconds per chunk, default 3600), SPARK_GRAFT_SWEEP_NOCACHE=1 to
force every query fresh.

Cross-round verdict CACHE (VERDICT r11 #3): re-proving an unchanged
query at 100x is the sweep's dominant wall cost (frequent_itempairs:
~100 min for a plan that didn't change between its two greens).  Each
query's verdict is keyed on its semantic fingerprint (normalized
analyzed plan + defining-module hash + oracle text + gate hash —
tools/plan_fingerprint.py) plus the replica fingerprint; a green
verdict from a previous round whose key AND replica both match is
carried into this round's artifact with explicit provenance
(``provenance: {cached: true, from: <artifact>, key: ...}``) instead
of being re-run.  Changed/new queries always run fresh, and a
deterministic ~5% audit sample of cache hits re-runs fresh each round
(recorded as ``fresh-audit``) so cached evidence keeps getting
spot-revalidated.  The cache lives in SCALE_SWEEP_CACHE.json at the
repo root and is updated with every fresh green.

Exclusions (each class documented in SCALE.md §9f; the sweep PRINTS
and RECORDS them so the artifact itself shows what was not run):
- pair-quadratic oracles on a REPLICATED corpus: the replica's
  exact-copy duplication makes the true near-dup pair set quadratic
  in the duplication factor (§9e) — the DuckDB oracle side is
  inherently O(pairs), not an engine defect (each family carries a
  10× replica pass + a pair-growth audit instead);
- `approx_quantiles`: sketch exactness is mathematically bounded by
  n <= accuracy (ORACLE_PORTABILITY.md) — the compare itself is
  invalid past that n;
- `math_functions`: output == input cardinality (60M rows at 100×) —
  the GATE's pandas canonicalization is the bottleneck, not either
  engine; 10×-verified, plan is scan-shaped.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
sys.path.insert(0, _REPO)

EXCLUDE: dict[str, str] = {
    "dedup_ngram_jaccard": "pair-quadratic oracle on replicated corpus (SCALE.md §9e/§9f)",
    "set_similarity_prefix_join": "pair-quadratic oracle on replicated corpus (SCALE.md §9e/§9f)",
    "decontaminate_ngram_overlap": "pair-quadratic oracle on replicated corpus (SCALE.md §9f)",
    "dedup_minhash_lsh": "replicated duplicate content explodes near-dup buckets quadratically (SCALE.md §9x)",
    "dedup_minhash_portable": "replicated duplicate content explodes near-dup buckets quadratically (SCALE.md §9x)",
    "dedup_simhash": "replicated duplicate content explodes near-dup buckets quadratically (SCALE.md §9x)",
    "dedup_simhash_portable": "replicated duplicate content explodes near-dup buckets quadratically (SCALE.md §9x)",
    "minhash_recall_audit": "audits the minhash family above — same quadratic bucket blowup on replicas",
    "minhash_index_incremental_update": "minhash-family delta-bucket pair expansion is quadratic on an exact-copy replica (SCALE.md §9x)",
    "approx_quantiles": "sketch exactness bounded by n <= accuracy (ORACLE_PORTABILITY.md)",
    "math_functions": "output == input cardinality (60M rows); gate canonicalization-bound, 10x-verified (SCALE.md §9f)",
    "triangle_count_copurchase": "oracle-side triangle enumeration (edge x edge self-join) spills past the box's disk at 100x — Spark side completes (67,200 rows in ~15 min); 10x-verified (SCALE.md §12d)",
    "dedup_phash_images": "oracle is a deliberate ALL-PAIRS enumeration (complete truth for the banded plan) — O(n^2) in image count, infeasible at 100x; 10x-verified, pair growth audited (phash16/phash64 rows in tools/pair_growth.py)",
    "dedup_jaccard_classes": "the suffix-perturbed replica makes every replica a DISTINCT near-dup class, so the TRUE class-pair answer (and the measured prefix fan-out: jaccard_cls_prefix row, 66M at 10x, alpha 2.0) grows ~C(replicas,2) by construction — growth in the answer, not the algorithm; 10x hash-green (248,740 rows) with the since-removed staged twin; the single-statement oracle exhausted ~20 GB of spill disk at 10x under a 5 GB DuckDB limit; prefix-filter completeness pinned by the hypothesis brute-force property in tests/test_text_classes.py (SCALE.md §15d)",
}

# Known-heavy ORACLES get a process to themselves with an individual
# timeout (VERDICT r10 #7 — §12d's lesson recursed: chunk-level
# isolation wasn't enough; one heavy neighbor in chunk 12 starved five
# light queries into spurious timeout FAILs, and the BPE oracles blew
# DuckDB's allocator when sharing a process).  Values are per-query
# timeout seconds at the 100x replica, sized from measured solo runs
# (frequent_itempairs: 5,032 s green — SCALE.md §12d).
HEAVY: dict[str, int] = {
    "frequent_itempairs": 7200,
    "curation_pipeline_v4": 7200,  # 653 s at 10x (six-stage twin)
    "dedup_minhash_classes": 3600,
    "dedup_simhash_classes": 3600,
    "bpe_train_merges": 3600,
    "bpe_encode_token_counts": 3600,
    "bpe_encode_corpus_stream": 3600,
    "bpe_fertility_by_lang": 3600,
    "kcore_copurchase": 3600,
}


CACHE_PATH = os.path.join(_REPO, "SCALE_SWEEP_CACHE.json")


def _green(cell: dict) -> bool:
    """A cell is green iff it errored at most with no_oracle and no
    recorded compare dimension is False (absent dims stay trusted)."""
    return cell.get("err") in (None, "", "no_oracle") and not any(
        cell.get(k) is False
        for k in ("rows_match", "schema_match", "hash_match")
    )


def _fingerprints() -> dict:
    """Compute semantic fingerprints in a SUBPROCESS (its Spark JVM
    must not linger in the sweep driver while chunks run)."""
    tmp = f"/tmp/sweep_fps_{os.getpid()}.json"
    try:
        with open(tmp, "w") as f:
            p = subprocess.run(
                [sys.executable, os.path.join(_HERE, "plan_fingerprint.py")],
                stdout=f, stderr=subprocess.DEVNULL, timeout=3600,
            )
        if p.returncode != 0:
            print("fingerprinting failed — every query runs fresh")
            return {}
        with open(tmp) as f:
            return json.load(f)
    except (subprocess.TimeoutExpired, OSError, ValueError):
        # a hung/failed fingerprint pass must degrade to all-fresh,
        # never crash the sweep (ADVICE r12)
        print("fingerprinting timed out/failed — every query runs fresh")
        return {}
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf100"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        _REPO, "SCALE_SWEEP_100x.json"
    )
    chunk_n = int(os.environ.get("SPARK_GRAFT_SWEEP_CHUNK", "8"))
    timeout = int(os.environ.get("SPARK_GRAFT_SWEEP_TIMEOUT", "3600"))
    no_cache = os.environ.get("SPARK_GRAFT_SWEEP_NOCACHE") == "1"

    from distributedmapreduce_spark.plans.registry import get_registry

    names = sorted(get_registry())
    run_names = [n for n in names if n not in EXCLUDE]
    excluded = {n: EXCLUDE[n] for n in names if n in EXCLUDE}
    for n, why in excluded.items():
        print(f"EXCLUDED  {n}: {why}")

    # ---- cross-round verdict cache (VERDICT r11 #3) ----
    import hashlib

    sys.path.insert(0, _HERE)
    from plan_fingerprint import replica_fingerprint  # noqa: E402

    replica_fp = replica_fingerprint(sf_dir)
    cache: dict[str, dict] = {}
    if not no_cache and os.path.exists(CACHE_PATH):
        try:
            with open(CACHE_PATH) as f:
                cache = json.load(f)
        except (OSError, json.JSONDecodeError):
            cache = {}
    fps = {} if no_cache else _fingerprints()
    hits = [
        n for n in run_names
        if fps.get(n)
        and cache.get(n, {}).get("key") == fps[n]
        and cache[n].get("replica_fp") == replica_fp
        and _green(cache[n].get("cell", {"err": "missing"}))
    ]
    # deterministic ~5% audit sample of hits, re-run fresh this round.
    # HEAVY bulkhead oracles are exempt from sampling: auditing one
    # costs hours of wall (frequent_itempairs ~100 min solo), and each
    # already re-proves itself whenever its module/plan/oracle re-keys.
    sampleable = [n for n in hits if n not in HEAVY]
    seed = f"{os.path.basename(out_path)}:{replica_fp}"
    audit = set(
        sorted(
            sampleable,
            key=lambda n: hashlib.sha256(f"{seed}:{n}".encode()).hexdigest(),
        )[: max(3, len(sampleable) // 20)]
    ) if sampleable else set()
    cached = [n for n in hits if n not in audit]
    fresh = [n for n in run_names if n not in cached]
    print(
        f"cache: {len(cached)} cached, {len(audit)} audit re-runs, "
        f"{len(fresh) - len(audit)} changed/new fresh "
        f"(replica {replica_fp})"
    )

    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir

    merged: dict[str, dict] = {
        f"__excluded__{n}": {"reason": why} for n, why in excluded.items()
    }
    for n in cached:
        merged[n] = {
            **cache[n]["cell"],
            "provenance": {
                "cached": True,
                "from": cache[n].get("artifact", "?"),
                "key": cache[n]["key"],
            },
        }
    t_start = time.time()
    light = [n for n in fresh if n not in HEAVY]
    heavy = [n for n in fresh if n in HEAVY]
    chunks = [
        light[i : i + chunk_n] for i in range(0, len(light), chunk_n)
    ]
    # bulkhead tier: each known-heavy oracle runs ALONE in its own
    # process with its own timeout, appended as single-query "chunks"
    chunk_timeouts = [timeout] * len(chunks) + [HEAVY[n] for n in heavy]
    chunks += [[n] for n in heavy]
    failures: list[str] = []
    for ci, chunk in enumerate(chunks):
        chunk_timeout = chunk_timeouts[ci]
        tmp = f"/tmp/sweep_chunk_{ci}.json"
        # ADVICE r09: a stale same-named file from a previous sweep
        # must never be merged as a current result if this chunk's
        # subprocess crashes before writing its output.
        try:
            os.remove(tmp)
        except FileNotFoundError:
            pass
        t0 = time.time()
        try:
            p = subprocess.run(
                [sys.executable, os.path.join(_HERE, "check_oracle.py"),
                 "--json", tmp, *chunk],
                env=env, timeout=chunk_timeout,
                stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            )
            tail = p.stdout.decode(errors="replace").strip().splitlines()
            status = tail[-1] if tail else "?"
        except subprocess.TimeoutExpired:
            status = f"CHUNK TIMEOUT after {chunk_timeout}s"
            for n in chunk:
                merged.setdefault(
                    n, {"err": f"sweep chunk timeout ({chunk_timeout}s)"}
                )
            failures.extend(chunk)
            print(f"[{ci+1}/{len(chunks)}] TIMEOUT {chunk}")
            continue
        if os.path.exists(tmp):
            with open(tmp) as f:
                part = json.load(f)
            for n, v in part.items():
                v["provenance"] = {
                    "cached": False,
                    "audit": n in audit,
                    "key": fps.get(n),
                }
                merged[n] = v
            bad = [n for n, v in part.items() if not _green(v)]
            failures.extend(bad)
            os.remove(tmp)
        else:
            for n in chunk:
                merged.setdefault(n, {"err": f"chunk crashed: {status[:200]}"})
            failures.extend(chunk)
        print(
            f"[{ci+1}/{len(chunks)}] {time.time()-t0:6.1f}s "
            f"{status}  ({chunk[0]}..{chunk[-1]})", flush=True
        )
        # checkpoint the merged map after EVERY chunk (round 11): a
        # killed sweep leaves a usable partial artifact instead of
        # nothing — the final write below just adds __meta__
        with open(out_path, "w") as f:
            json.dump(
                {**merged, "__meta__": {"partial": True,
                 "chunks_done": ci + 1, "chunks_total": len(chunks)}},
                f, indent=1, sort_keys=True,
            )
        # ... and fold the chunk's fresh greens into the cross-round
        # cache IMMEDIATELY (round 13): a sweep killed at a session
        # boundary must not lose paid-for verdicts — the next
        # session's sweep then re-runs only what never completed.
        # (Same rule as the final fold below: green caches, a failed
        # audit re-run evicts its stale entry.)
        if not no_cache:
            for n in chunk:
                cell = merged.get(n)
                if cell is None or not fps.get(n):
                    continue
                clean = {
                    k: v for k, v in cell.items() if k != "provenance"
                }
                if _green(cell):
                    cache[n] = {
                        "key": fps[n],
                        "replica_fp": replica_fp,
                        "artifact": os.path.basename(out_path),
                        "cell": clean,
                    }
                else:
                    cache.pop(n, None)
            with open(CACHE_PATH, "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)

    merged["__meta__"] = {
        "sf_dir": sf_dir,
        "replica_fp": replica_fp,
        "queries_covered": len(run_names),
        "fresh_run": len(fresh),
        "cached": len(cached),
        "audit_rerun": sorted(audit),
        "excluded": len(excluded),
        "failures": sorted(set(failures)),
        "wall_sec": round(time.time() - t_start, 1),
        "chunk": chunk_n,
    }
    with open(out_path, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)

    # fold this round's fresh greens into the cross-round cache; an
    # audit re-run that FAILED evicts its stale entry
    if not no_cache:
        artifact = os.path.basename(out_path)
        for n in fresh:
            cell = merged.get(n)
            if cell is None or not fps.get(n):
                continue
            clean = {k: v for k, v in cell.items() if k != "provenance"}
            if _green(cell):
                cache[n] = {
                    "key": fps[n],
                    "replica_fp": replica_fp,
                    "artifact": artifact,
                    "cell": clean,
                }
            else:
                cache.pop(n, None)
        with open(CACHE_PATH, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        print(f"cache updated: {len(cache)} entries -> {CACHE_PATH}")
    print(
        f"\nSWEEP {'ALL PASS' if not failures else 'FAILURES: ' + str(sorted(set(failures)))}"
        f" — {len(run_names)} run / {len(excluded)} excluded, "
        f"{merged['__meta__']['wall_sec']}s -> {out_path}"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
