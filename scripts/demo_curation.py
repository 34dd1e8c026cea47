#!/usr/bin/env python
"""End-to-end training-data curation walkthrough on the fixture corpus.

Runs the full pipeline a production corpus goes through — dedup → quality
filters → keep list → chunking → packing → retrieval index — using the
same registry operators the correctness harness verifies, and prints one
summary line per stage. The point is composition: every stage is an
independently oracle-checked query; this script shows them as ONE flow.

Usage:
    python scripts/demo_curation.py [sf_dir]      # default sf0.001
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    spark = get_spark("curation-demo", cpus=8, shuffle_partitions=8)
    registry = load_all()

    def run(name: str):
        return registry[name].builder(spark, sf_dir).collect()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    print(f"corpus: {n_docs} documents ({sf_dir})")

    pairs = run("dedup_minhash_lsh")
    print(f"1. near-dup pairs (MinHash+LSH, verified Jaccard>=0.3): {len(pairs)}")

    flagged = sum(r.flagged for r in run("text_repetition_filter"))
    print(f"2. repetition-flagged docs (Gopher filter): {flagged}")

    keep = run("pipeline_keep_list")
    print(f"3. keep list (exact-dedup -> repetition -> source cap): {len(keep)} docs")

    chunks = run("corpus_chunk_windows")
    print(f"4. training chunks (32-token windows, stride 16): {len(chunks)}")

    seqs = run("corpus_seq_packing")
    print(f"5. packed 512-token sequences: {len(seqs)}")

    hh = run("sketch_countmin_tokens")
    worst = max(r.cm_est - r.true_cnt for r in hh)
    print(f"6. count-min top-20 heavy hitters (max overestimate {worst})")

    top = run("text_bm25_topk")
    ids = [r.doc_id for r in top[:5]]
    print(f"7. BM25 retrieval for 'table scan fast': top docs {ids}")

    anns = run("ann_pq_adc_topk")
    print(f"8. PQ/ADC nearest neighbors of vec 0: {[r.vec_id for r in anns[:5]]}")

    print("done — every stage above is oracle-verified by scripts/check_queries.py")


if __name__ == "__main__":
    main()
