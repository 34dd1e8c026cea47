#!/usr/bin/env python
"""Scale-stress: measure how the heavy operators scale between two data
scales and report per-query scaling exponents.

The 100-TB design claims in SURVEY/BASELINE are plan-shape arguments
(no cross product, salted band joins, broadcast-only small sides). This
script adds MEASUREMENT at a second scale point: it builds a ×K corpus
from sf0.1 (fact tables replicated with key offsets, document texts
de-duplicated across copies by a copy token so the near-dup workload
grows linearly instead of quadratically, embeddings perturbed per copy),
runs the heavy queries at both scales, and reports

    exponent = log(t_big / t_small) / log(K)

1.0 = perfectly linear; the gate treats <= 1.2 as scale-safe (log terms
and fixed overheads put honest linear pipelines slightly above 1.0 at
these sizes; anything approaching 2.0 is a quadratic blow-up).

Usage:
    python experiments/scale_stress.py [--factor=10] [--reps=2] [--out=scale_stress.json]

The scaled corpus is cached under .scale_fixtures/ (gitignored) and
rebuilt only when missing.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, ".")

SRC_DIR = "/root/testdata/sf0.1"
CACHE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale_fixtures")

#: the judge-named heavy set: the two composite curation pipelines, the
#: quadratic-risk dedups, the ANN rescore, and the two join-heavy TPC-H
#: style queries (fact side scales, dims stay fixed — the lakehouse shape)
QUERIES = [
    "flagship_regional_revenue",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_components",
    "pipeline_keep_list",
    "ann_quantized_rescore_topk",
    "events_sessionize",
    "dedup_exact",
    # round-4 curation additions: the 5-gram explode (boilerplate) and the
    # two-phase vocab broadcast (commonness) are the new shuffle shapes
    "text_boilerplate_ngrams",
    "corpus_seq_packing",
    "quality_common_token_ratio",
    "ann_pq_adc_topk",
    "events_funnel",
    "corpus_chunk_windows",
    "sketch_countmin_tokens",
    "text_tfidf_topk",
    "text_bm25_topk",
    "events_cohort_retention",
    # round-5 additions: the bigram-explode + broadcast-LM scoring path
    # and the dual-ranking (brute force + LSH) recall measurement
    "quality_lm_score",
    "ann_recall_at_k",
    "ann_jl_rescore_topk",
    # round-6 additions: cluster-local semantic dedup (the quadratic risk
    # is intra-cluster pair search — adaptive K must keep it linear), the
    # bucket-bounded DSIR scorer, and the alphabet-bounded entropy filter
    "dedup_semantic_clusters",
    "sample_importance_dsir",
    "quality_char_entropy",
]

_DIMS = ["region", "nation", "customer", "supplier", "part"]


def build_scaled_dir(spark, src: str, factor: int) -> str:
    """Materialize a ×factor corpus; idempotent via a done-marker."""
    from pyspark.sql import functions as F

    dst = os.path.join(CACHE_ROOT, f"x{factor}")
    # the marker encodes the GENERATOR version: a fixture built by an
    # older mutation scheme must rebuild, not silently serve — mixing
    # corpora across schemes would skew exactly the dedup/n-gram
    # exponents this harness gates
    marker = os.path.join(dst, ".complete")
    stamp = f"factor={factor} src={src} mutation=v3-rot5x20\n"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)

    def copies(df, exprs_per_copy):
        parts = [df.select(*exprs_per_copy(i)) for i in range(factor)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    def write(df, name):
        df.repartition(max(8, factor * 4)).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )

    # dimension tables stay fixed (scaling the fact side only — the shape
    # of a growing lakehouse over stable reference data)
    for dim in _DIMS:
        target = os.path.join(dst, f"{dim}.parquet")
        if not os.path.exists(target):
            os.symlink(os.path.join(src, f"{dim}.parquet"), target)

    read = lambda t: spark.read.parquet(os.path.join(src, f"{t}.parquet"))

    okey_span = 10_000_000  # > max o_orderkey at sf0.1
    orders = read("orders")
    write(
        copies(
            orders,
            lambda i: [
                (F.col("o_orderkey") + F.lit(i * okey_span)).alias("o_orderkey"),
                "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
                "o_orderpriority",
            ],
        ),
        "orders",
    )
    lineitem = read("lineitem")
    write(
        copies(
            lineitem,
            lambda i: [
                (F.col("l_orderkey") + F.lit(i * okey_span)).alias("l_orderkey"),
                "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                "l_linestatus", "l_shipdate",
            ],
        ),
        "lineitem",
    )
    doc_span = 1_000_000
    documents = read("documents")

    def mutate_text(i):
        # each copy gets a distinct character rotation, so cross-copy
        # Jaccard ~ 0: duplicate CLUSTERS keep their sf0.1 size while the
        # corpus grows xfactor — the real-crawl shape. Plain replication
        # would grow every cluster xfactor and the pair OUTPUT xfactor^2,
        # measuring the problem definition rather than the operator.
        vowels = "aeiou"
        # 5 x 20 rotation pairs: distinct for factor <= 100 (widened from
        # 10 consonants for the x100 confirmation point)
        cons = "rstlnmdpgbcfhjkqvwxz"
        if i >= 100:
            # a copy token would only break EXACT duplication — copies 100
            # apart would stay ~0.99-Jaccard near-dups and the pair
            # output would go quadratic again, measuring the problem
            # definition instead of the operator
            raise ValueError(
                "factor > 100 exhausts the rotation space — widen the "
                "consonant alphabet before scaling further"
            )
        v = vowels[i % 5 :] + vowels[: i % 5]
        c = cons[i // 5 % 20 :] + cons[: i // 5 % 20]
        if i == 0:
            return F.col("text")
        return F.translate(F.col("text"), vowels + cons, v + c)

    write(
        copies(
            documents,
            lambda i: [
                (F.col("doc_id") + F.lit(i * doc_span)).alias("doc_id"),
                mutate_text(i).alias("text"),
                "lang", "source", "n_chars",
            ],
        ),
        "documents",
    )
    vec_span = 1_000_000
    embeddings = read("embeddings")
    write(
        copies(
            embeddings,
            lambda i: [
                (F.col("vec_id") + F.lit(i * vec_span)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: (x + F.lit(i * 1e-4)).cast("float")
                ).alias("embedding"),
                "label",
            ],
        ),
        "embeddings",
    )
    ev_span = 100_000_000
    events = read("events")
    write(
        copies(
            events,
            lambda i: [
                (F.col("event_id") + F.lit(i * ev_span)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(i * ev_span)).alias("user_id"),
                "event_type", "value", "props",
            ],
        ),
        "events",
    )
    with open(marker, "w") as fh:
        fh.write(stamp)
    return dst


def time_queries(spark, registry, sf_dir: str, names: list[str], reps: int) -> dict[str, float]:
    out = {}
    for name in names:
        registry[name].builder(spark, sf_dir).collect()  # warm
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            registry[name].builder(spark, sf_dir).collect()
            samples.append(time.perf_counter() - t0)
        out[name] = round(min(samples), 3)
    return out


def main() -> None:
    opts = {
        a.split("=")[0].lstrip("-"): a.split("=", 1)[1]
        for a in sys.argv[1:]
        if a.startswith("--") and "=" in a
    }
    factor = int(opts.get("factor", "10"))
    reps = int(opts.get("reps", "2"))
    out_path = opts.get("out", "scale_stress.json")
    # --queries=a,b,c restricts the sweep (e.g. the x100 confirmation run
    # on the two rising-exponent dedups — building the full query set at
    # x100 wastes an hour confirming already-flat exponents)
    queries = opts.get("queries")
    queries = queries.split(",") if queries else None

    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    registry = load_all()
    selected = queries or QUERIES
    missing = [n for n in selected if n not in registry]
    if missing:
        raise KeyError(f"scale-stress queries missing from registry: {missing}")
    spark = get_spark("scale-stress")
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = build_scaled_dir(spark, SRC_DIR, factor)
    small = time_queries(spark, registry, SRC_DIR, selected, reps)
    big = time_queries(spark, registry, big_dir, selected, reps)

    exponents = {
        n: round(math.log(max(big[n], 1e-9) / max(small[n], 1e-9)) / math.log(factor), 3)
        for n in selected
    }
    result = {
        "metric": "scale_stress",
        "factor": factor,
        "reps": reps,
        "small_sec": small,
        "big_sec": big,
        "exponent": exponents,
        "worst_exponent": max(exponents.values()),
    }
    print(json.dumps(result))
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=2)


if __name__ == "__main__":
    main()
