"""spark-submit entrypoint for the corpus-dedup pipeline.

    spark-submit --master <master> --py-files spider_spark.zip \
        jobs/dedup_job.py --docs <parquet dir> --out <dir> \
        [--method minhash|simhash|embedding|exact] [--threshold 0.8] \
        [--embeddings <parquet>] [--cosine-threshold 0.95] \
        [--from-spans]

Runs the full training-data dedup flow over a documents table:

1. exact dedup (md5 groupBy) — collapses byte-identical docs first, which
   is also what keeps the near-dup bucket joins out of their degenerate
   quadratic case (identical docs share every band/block key);
2. near-dup pair mining on the exact survivors — MinHash-LSH bands with
   exact n-gram-Jaccard verify (``--method minhash``), simhash64 with
   Manku block tables and a bit_count hamming gate (``--method simhash``),
   or banded hyperplane-LSH cosine over an embedding table sharing the
   docs id space (``--method embedding``, pair endpoints remapped through
   the exact pass's keep mapping);
3. connected-component resolution of the pairs into keep/drop clusters
   (``dedup.resolve_pair_clusters``: min-label propagation with pointer
   jumping, each id's survivor is its component's minimum id);
4. writes ``out/kept`` (the deduplicated corpus), ``out/exact_groups``
   and ``out/near_clusters`` (the audit tables), and prints one JSON
   metrics line.

``--from-spans`` assembles the text column from an interleaved-docs table
(doc_id, spans<kind,text,media_ref,offset>) by concatenating its text
spans in ``offset`` order, JVM-side — the same input shape the crawl
engine reads, so the two jobs chain: crawl → linkbase → dedup the fetched
corpus.

The session comes from spark-submit's conf; at N or 4N executors the same
invocation scales via --num-executors (all shuffles are keyed by content
hash / band key — no driver-side state). Size memory like an executor:
on a cluster via --executor-memory, in local mode via --driver-memory
(the one JVM hosts every core's tasks — a 620k-doc corpus over local[16]
needs several GB; nothing corpus-sized is cached, but in-flight sort and
Arrow buffers scale with cores × partition text).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", required=True, help="documents parquet")
    p.add_argument("--out", required=True, help="output root dir")
    p.add_argument("--method",
                   choices=["minhash", "simhash", "embedding", "exact"],
                   default="minhash")
    p.add_argument("--embeddings",
                   help="(id, vector) parquet for --method embedding; ids "
                        "share the docs id space")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--cosine-threshold", type=float, default=0.95,
                   help="embedding: min cosine for a pair")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--from-spans", action="store_true",
                   help="assemble text from an interleaved spans column "
                        "(text spans joined in offset order)")
    p.add_argument("--threshold", type=float, default=0.8,
                   help="minhash: min n-gram Jaccard for a pair")
    p.add_argument("--max-hamming", type=int, default=3,
                   help="simhash: max bit distance for a pair")
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--shingle", type=int, default=3)
    args = p.parse_args()

    spark = SparkSession.builder.appName("spider-dedup").getOrCreate()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    from spider_spark import dedup
    from spider_spark import simhash as sh

    t0 = time.time()
    raw = spark.read.parquet(args.docs)
    if args.from_spans:
        # text spans joined in document (offset) order, whatever the
        # order of the stored array: (offset, text) structs sort by offset
        texts = F.array_sort(F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"),
            lambda s: F.struct(s["offset"].alias("offset"),
                               s["text"].alias("text")),
        ))
        docs = raw.select(
            F.col(args.id_col),
            F.concat_ws(" ", F.transform(texts, lambda s: s["text"]))
            .alias(args.text_col),
        )
    else:
        docs = raw.select(args.id_col, args.text_col)
    # deliberately NOT cached: docs/survivors carry the corpus TEXT, and
    # pinning that in executor memory is exactly wrong at scale (at 100 TB
    # it's the whole corpus; even local[16] on a 620k-doc web OOMs a
    # default 1g spark-submit heap building the columnar batches). Each
    # consumer re-scans the columnar source instead — parquet re-reads of
    # pruned columns are the scalable barrier here, not a string cache.
    n_docs = docs.count()

    # 1. exact pre-pass: keep each md5 group's canonical survivor
    groups = dedup.exact_duplicates(docs, args.id_col, args.text_col)
    groups.write.mode("overwrite").parquet(args.out + "/exact_groups")
    survivors = dedup.dedup_exact(docs, args.id_col, args.text_col)
    n_exact_kept = survivors.count()

    # 2. near-dup pairs on the survivors
    if args.method == "minhash":
        pairs = dedup.minhash_near_duplicates(
            survivors, args.id_col, args.text_col,
            bands=args.bands, shingle=args.shingle,
            threshold=args.threshold,
        )
    elif args.method == "simhash":
        signed = survivors.select(
            F.col(args.id_col),
            sh.simhash64(F.col(args.text_col)).alias("simhash"),
        )
        pairs = sh.simhash_candidates(
            signed, id_col=args.id_col, sign_col="simhash",
            max_hamming=args.max_hamming,
        )
    elif args.method == "embedding":
        if not args.embeddings:
            raise SystemExit("--method embedding requires --embeddings")
        emb = spark.read.parquet(args.embeddings)
        emb_id = (args.id_col if args.id_col in emb.columns
                  else emb.columns[0])
        pairs = dedup.embedding_near_duplicates(
            emb, id_col=emb_id, vec_col=args.vec_col,
            threshold=args.cosine_threshold,
        )
        # the embedding table covers the RAW corpus — remap each pair
        # endpoint through the exact pass's id → keep_id so clusters
        # never elect an exactly-dropped id as survivor
        remap = groups.select(
            F.explode("all_ids").alias("_pid"),
            F.col("keep_id").alias("_keep"),
        )
        for side in ("a", "b"):
            pairs = (
                pairs.join(remap, pairs[side] == remap["_pid"], "left")
                .withColumn(side, F.coalesce("_keep", side))
                .drop("_pid", "_keep")
            )
        # ... and drop ids absent from the corpus, which could otherwise
        # win a cluster's keep_id and drop every real doc in it
        ids = survivors.select(F.col(args.id_col).alias("_sid"))
        for side in ("a", "b"):
            pairs = pairs.join(ids, pairs[side] == ids["_sid"], "left_semi")
        pairs = (
            pairs.filter(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"),
                    F.greatest("a", "b").alias("b"))
            .distinct()
        )
    else:
        pairs = None

    # 3+4. resolve pairs into clusters, apply, write
    if pairs is not None:
        pairs = pairs.persist()
        n_pairs = pairs.count()
        clusters = dedup.resolve_pair_clusters(pairs).persist()
        n_clustered = clusters.count()
        clusters.write.mode("overwrite").parquet(args.out + "/near_clusters")
        kept = dedup.dedup_keep_rows(survivors, clusters, args.id_col)
    else:
        n_pairs = 0
        n_clustered = 0
        spark.createDataFrame([], "id string, keep_id string").write.mode(
            "overwrite").parquet(args.out + "/near_clusters")
        kept = survivors
    kept.write.mode("overwrite").parquet(args.out + "/kept")
    n_kept = spark.read.parquet(args.out + "/kept").count()

    print(json.dumps({
        "n_docs": n_docs,
        "exact_kept": n_exact_kept,
        "near_pairs": n_pairs,
        "near_clustered_ids": n_clustered,
        "kept": n_kept,
        "method": args.method,
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
