"""Candidate-pair growth sweep for the dedup/ANN blocking schemes
(SCALE.md §9 / round-2 advice item 5).

The quadratic traps in near-dup detection are armored by blocking
(minhash bands, simhash blocks, embedding sign-LSH buckets) — but
"armored" is a claim about how CANDIDATE PAIRS grow with corpus size,
and nothing measured it.  This tool computes, per method and scale,
the bucket-size distribution and the total candidate-pair count
(sum over buckets of n*(n-1)/2 — the exact shuffle fan-out of the
in-bucket pair enumeration, BEFORE pair dedup), then reports the
growth exponent between scales: pairs ~ corpus^alpha.  alpha ≈ 1 is
linear (healthy blocking); alpha -> 2 is the quadratic trap.

Usage:
    python3 tools/pair_growth.py [--scales=1,10,100]
                                 [--methods=name1,name2]  (default: all)

Scale 1 reads /root/testdata/sf0.1 directly; other scales are
generated on demand with tools/gen_scale.py (documents + embeddings
only) under /tmp/pairscale<N>.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

BASE = "/root/testdata/sf0.1"


def _scale_dir(n: int) -> str:
    if n == 1:
        return BASE
    out = f"/tmp/pairscale{n}"
    if not os.path.exists(f"{out}/documents.parquet"):
        subprocess.run(
            [
                sys.executable,
                os.path.join(os.path.dirname(__file__), "gen_scale.py"),
                str(n),
                out,
                "documents",
                "embeddings",
            ],
            check=True,
        )
    return out


def _bucket_stats(buckets_df, key_cols, id_col) -> dict:
    """n items, n buckets, max/p99 bucket size, total C(n,2) pairs."""
    sizes = buckets_df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n")
    )
    row = sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket"),
        F.expr("percentile(n, 0.99)").alias("p99_bucket"),
        F.sum(F.expr("n * (n - 1) / 2")).cast("long").alias("cand_pairs"),
    ).first()
    n_items = buckets_df.select(id_col).distinct().count()
    return {
        "items": n_items,
        "buckets": row.n_buckets,
        "max_bucket": row.max_bucket,
        "p99_bucket": float(row.p99_bucket),
        "cand_pairs": row.cand_pairs,
    }


def main() -> None:
    scales = [1, 10, 100]
    only: set[str] = set()
    for a in sys.argv[1:]:
        if a.startswith("--scales"):
            scales = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--methods"):
            only = set(a.split("=", 1)[1].split(","))

    def want(name: str) -> bool:
        return not only or name in only

    from distributedmapreduce_spark.plans.llm import (
        embedding_band_buckets,
        minhash_band_buckets,
        minhash_signatures,
        simhash_block_buckets,
    )
    from distributedmapreduce_spark.session import get_spark
    from distributedmapreduce_spark.sources.testdata import load_table

    spark = get_spark(app_name="pair_growth")
    results: dict[str, dict[int, dict]] = {}
    for n in scales:
        sf = _scale_dir(n)
        t0 = time.time()
        if want("minhash_lsh"):
            results.setdefault("minhash_lsh", {})[n] = _bucket_stats(
                minhash_band_buckets(minhash_signatures(spark, sf)),
                ["band", "bucket"],
                "doc_id",
            )
        if want("simhash"):
            results.setdefault("simhash", {})[n] = _bucket_stats(
                simhash_block_buckets(spark, sf), ["q", "qval"], "doc_id"
            )
        # the scale path: block-PAIR keys (~26 bits, hamming<=3 exact)
        if want("simhash_paired"):
            results.setdefault("simhash_paired", {})[n] = _bucket_stats(
                simhash_block_buckets(spark, sf, paired=True),
                ["q", "qval"],
                "doc_id",
            )
        # the legacy fixed recipe, kept for the quadratic contrast
        if want("embedding_cosine_fixed4"):
            results.setdefault(
                "embedding_cosine_fixed4", {}
            )[n] = _bucket_stats(
                embedding_band_buckets(
                    load_table(spark, "embeddings", sf), bits_per_band=4
                ),
                ["band", "bucket"],
                "vec_id",
            )
        # the PRODUCTION path (default since r07): bits-per-band
        # grows with log2(corpus)
        if want("embedding_cosine_auto"):
            results.setdefault(
                "embedding_cosine_auto", {}
            )[n] = _bucket_stats(
                embedding_band_buckets(load_table(spark, "embeddings", sf)),
                ["band", "bucket"],
                "vec_id",
            )
        # semdedup: k-means clusters ARE the blocking buckets; the
        # default trainer now grows K with the corpus (K ≈ N/128
        # clamped to [4, 4096]) per the paper's production shape
        from distributedmapreduce_spark.plans.mlops import (
            _km_code_col,
            _km_train,
        )

        if want("semdedup_kmeans"):
            base, cents, k, _low = _km_train(spark, sf)
            results.setdefault("semdedup_kmeans", {})[n] = _bucket_stats(
                base.select(
                    "vec_id", (_km_code_col(cents, k) % k).alias("cluster")
                ),
                ["cluster"],
                "vec_id",
            )
            base.unpersist()
        # incremental-index nightly cost (round 10): pairs expanded by
        # the delta-pruned candidate stage vs the monolithic rebuild.
        # _bucket_stats measures pre-dedup fan-out from a bucket
        # assignment; here the comparison is the EMITTED candidate
        # sets, so count both sides of the same signature frame.
        from distributedmapreduce_spark.plans.llm import (
            _pmh_candidates,
            _pmh_delta_candidates,
            _pmh_signatures,
        )

        # image perceptual-hash blocking (round 11): the 16-bit test
        # recipe is the quadratic-contrast row (hash space saturates as
        # the corpus grows, like embedding_cosine_fixed4); grid=8 is
        # the production width — 64-bit hashes in 16-bit blocks keep
        # buckets sparse
        from distributedmapreduce_spark.plans.mmq import (
            audiofp_signatures,
            phash_block_buckets,
            phash_distinct_block_buckets,
            phash_signatures,
            videofp_signatures,
        )

        def distinct_ph(sig):
            return sig.select("ph").distinct()

        # audio fingerprint (round 12): 16-bit energy/ZCR signature,
        # distinct-hash class stage — like phash16, the signature
        # space saturates (<= 2^16 classes), so the class-pair stage
        # stays bounded while asset pairs would grow quadratically
        if want("audiofp16"):
            results.setdefault("audiofp16", {})[n] = _bucket_stats(
                phash_distinct_block_buckets(
                    distinct_ph(audiofp_signatures(spark, sf))
                ),
                ["band", "bucket"],
                "ph",
            )
        # video temporal hash (round 12): same distinct-class argument
        if want("videofp16"):
            results.setdefault("videofp16", {})[n] = _bucket_stats(
                phash_distinct_block_buckets(
                    distinct_ph(videofp_signatures(spark, sf))
                ),
                ["band", "bucket"],
                "ph",
            )
        if want("phash64_distinct"):
            results.setdefault("phash64_distinct", {})[n] = _bucket_stats(
                phash_distinct_block_buckets(
                    distinct_ph(phash_signatures(spark, sf, grid=8)), bits=64
                ),
                ["band", "bucket"],
                "ph",
            )
        # text class-pair families (round 13): simhash_cls16 is keyed
        # on a BOUNDED signature space (should saturate like phash16/
        # audiofp16); the minhash/jaccard class rows grow with the
        # suffix-perturbed replica's class population BY CONSTRUCTION
        # (the true class-pair answer grows — SCALE.md §15d), so their
        # value is the buckets-per-class discipline, not a flat alpha
        from distributedmapreduce_spark.plans.llm import (
            jc_class_prefix_buckets,
            pmh_class_band_buckets,
            psh_distinct_block_buckets,
        )

        if want("simhash_cls16"):
            results.setdefault("simhash_cls16", {})[n] = _bucket_stats(
                psh_distinct_block_buckets(spark, sf),
                ["band", "bucket"],
                "ph",
            )
        if want("minhash_cls"):
            results.setdefault("minhash_cls", {})[n] = _bucket_stats(
                pmh_class_band_buckets(spark, sf), ["band", "bucket"], "rep"
            )
        if want("jaccard_cls_prefix"):
            results.setdefault("jaccard_cls_prefix", {})[n] = _bucket_stats(
                jc_class_prefix_buckets(spark, sf), ["h"], "rep"
            )
        if want("phash16_blocks"):
            results.setdefault("phash16_blocks", {})[n] = _bucket_stats(
                phash_block_buckets(phash_signatures(spark, sf, grid=4)),
                ["band", "bucket"],
                "asset_id",
            )
        if want("phash64_blocks"):
            results.setdefault("phash64_blocks", {})[n] = _bucket_stats(
                phash_block_buckets(
                    phash_signatures(spark, sf, grid=8), bits=64
                ),
                ["band", "bucket"],
                "asset_id",
            )
        # ADVICE r10: these two are candidate-SET-only measurements —
        # bucket stats are not computed for them, and None (not 0)
        # marks the unmeasured fields so a consumer can tell "not
        # measured" from an actual zero.
        if want("minhash_incremental_delta") or want("minhash_full_rebuild"):
            sigs = _pmh_signatures(
                load_table(spark, "documents", sf)
            ).persist()
            n_sigs = sigs.count()
            if want("minhash_incremental_delta"):
                results.setdefault("minhash_incremental_delta", {})[n] = {
                    "items": n_sigs,
                    "buckets": None,
                    "max_bucket": None,
                    "p99_bucket": None,
                    "cand_pairs": _pmh_delta_candidates(sigs).count(),
                }
            if want("minhash_full_rebuild"):
                results.setdefault("minhash_full_rebuild", {})[n] = {
                    "items": n_sigs,
                    "buckets": None,
                    "max_bucket": None,
                    "p99_bucket": None,
                    "cand_pairs": _pmh_candidates(sigs).count(),
                }
            sigs.unpersist()
        print(f"scale {n}x done in {time.time()-t0:.0f}s", file=sys.stderr)

    print(
        "| method | scale | docs/vecs | buckets | max bucket | "
        "p99 bucket | candidate pairs | alpha vs prev |"
    )
    print("|---|---|---|---|---|---|---|---|")
    for method, per_scale in results.items():
        prev = None
        for n in scales:
            s = per_scale[n]
            alpha = ""
            if prev is not None:
                growth = s["cand_pairs"] / max(prev[1]["cand_pairs"], 1)
                size = s["items"] / prev[1]["items"]
                # a blocking keyed on a BOUNDED population (e.g.
                # distinct hashes) can have size == 1 across scales:
                # the exponent is undefined — report the flat fact
                alpha = (
                    "flat (items unchanged)"
                    if size == 1
                    else f"{math.log(growth) / math.log(size):.2f}"
                )
            def _fmt(v, spec=","):
                return "—" if v is None else format(v, spec)

            print(
                f"| {method} | {n}x | {s['items']:,} | {_fmt(s['buckets'])} "
                f"| {_fmt(s['max_bucket'])} | {_fmt(s['p99_bucket'], '.0f')} "
                f"| {s['cand_pairs']:,} | {alpha} |"
            )
            prev = (n, s)


if __name__ == "__main__":
    main()
