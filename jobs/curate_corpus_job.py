"""Cluster job: end-to-end training-corpus curation — the full
training-data pipeline the engine's operator families exist for,
composed as ONE resumable ``spark-submit`` entry point:

    exact dedup → MinHash-LSH near-dup clustering → quality +
    repetition filters → test-set decontamination → deterministic
    stratified sampling → token-packed training shards

    python tools/build_pyfiles.py
    spark-submit --master <cluster> \\
        --py-files dist/gtfs_to_geojson_spark.zip \\
        jobs/curate_corpus_job.py \\
        --docs /path/to/documents.parquet \\
        --out /path/to/out \\
        [--eval /path/to/benchmark.parquet] [--decontam-n 3] \\
        [--min-words 2] [--max-dup-word-frac 0.9] \\
        [--minhash-hashes 16] [--minhash-bands 4] [--shingle-n 4] \\
        [--sample-col source --sample-rates src0=500000,src1=1000000] \\
        [--shard-tokens 1000000] [--resume]

Input: parquet with (doc_id:long, text:string[, <sample-col>]).

Resume: each stage is one write-once stage (``<out>/<stage>``
parquet) — see the "Resume model" paragraph of
``gtfs_to_geojson_spark/streaming/lineage.py``. Stage granularity fits
here because every stage is a different shuffle shape; bucket-level
resume for one giant stage is ``run_bucketed_waves``
(jobs/tile_assign_job.py).

Scale notes (each inherited from the operator's own contract):
exact dedup is one groupBy on a digest; LSH shuffles ids+longs only
with salted hot buckets; the quality/repetition filter is ONE map
stage (pure-Column, chained via append=True); decontamination
broadcasts the eval grams so the corpus-side explode never shuffles;
stratified sampling is a map-only md5-threshold filter; shard packing
is the two-phase distributed scan. Nothing in the pipeline collects
unbounded data to the driver.
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--eval", default=None, help="benchmark docs parquet (doc_id, text)")
    ap.add_argument("--decontam-n", type=int, default=3)
    ap.add_argument("--min-words", type=int, default=2)
    ap.add_argument("--max-dup-word-frac", type=float, default=0.9)
    ap.add_argument("--minhash-hashes", type=int, default=16)
    ap.add_argument("--minhash-bands", type=int, default=4)
    ap.add_argument("--shingle-n", type=int, default=4)
    ap.add_argument("--lsh-threshold", type=float, default=0.5)
    ap.add_argument("--sample-col", default=None)
    ap.add_argument("--sample-rates", default=None,
                    help="stratum=rate_per_million[,stratum=rate...]")
    ap.add_argument("--shard-tokens", type=int, default=1_000_000)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from gtfs_to_geojson_spark.streaming.lineage import JobOutput, job_session

    spark = job_session("curate-corpus", args.shuffle_partitions)

    from gtfs_to_geojson_spark.operators import dedup, graph, scan, text

    job = JobOutput(spark, args.out, args.resume)
    t0 = time.time()
    docs = spark.read.parquet(args.docs)

    # 1. exact dedup — keep the min doc_id per md5 digest
    def s1():
        keep = dedup.exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        return docs.join(keep, "doc_id", "left_semi")

    exact, _ = job.stage("s1_exact", s1)

    # 2. near-dup: LSH candidate pairs → connected components → keep
    # the canonical (min-id) member per cluster. Docs in no pair are
    # already canonical, so CC runs on pair-touched nodes only.
    def s2():
        pairs = dedup.minhash_lsh_pairs(
            exact,
            n_hashes=args.minhash_hashes,
            bands=args.minhash_bands,
            shingle_n=args.shingle_n,
            threshold=args.lsh_threshold,
        )
        cc = graph.connected_components(pairs, src="id_a", dst="id_b")
        non_canonical = cc.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        return exact.join(non_canonical, "doc_id", "left_anti")

    near, _ = job.stage("s2_neardup", s2)

    # 3. quality + repetition filters — ONE map stage (append chain);
    # .drop("n_words"): quality_score and repetition_stats both emit it
    def s3():
        feats = text.repetition_stats(
            text.quality_score(near, append=True).drop("n_words"), append=True
        )
        kept = feats.filter(
            (F.col("n_words") >= args.min_words)
            & (F.col("dup_word_frac") <= args.max_dup_word_frac)
        )
        return kept.select(*near.columns)

    clean, _ = job.stage("s3_quality", s3)

    # 4. decontamination vs the benchmark set (optional)
    if args.eval:
        def s4():
            ev = spark.read.parquet(args.eval)
            hits = dedup.decontaminate(clean, ev, n=args.decontam_n).select("doc_id")
            return clean.join(hits, "doc_id", "left_anti")

        clean, _ = job.stage("s4_decontam", s4)

    # 5. deterministic stratified sampling (optional)
    if args.sample_col and args.sample_rates:
        rates = {
            k: int(v)
            for k, v in (kv.split("=") for kv in args.sample_rates.split(","))
        }

        def s5():
            return text.stratified_sample(
                clean, args.sample_col, "doc_id", rates_per_million=rates
            )

        clean, _ = job.stage("s5_sample", s5)

    # 6. token counting + shard packing → final training shards
    def s6():
        toks = text.token_count(clean, append=True).drop("bpe_ish_tokens")
        return scan.pack_shards(
            toks, order_col="doc_id", weight_col="ws_tokens",
            shard_size=args.shard_tokens,
        ).drop("running_total")

    final, _ = job.stage("shards", s6)

    n_docs_in = docs.count()
    n_shards = final.select("shard_id").distinct().count()
    summary = {
        "job": "curate_corpus",
        "docs_in": n_docs_in,
        "docs_out": job.stages[-1]["rows"],
        "n_shards": n_shards,
        "stages": job.stages,
        "sec": round(time.time() - t0, 2),
        "docs_per_sec": round(n_docs_in / max(time.time() - t0, 1e-9), 1),
    }
    job.write_metrics(summary)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
