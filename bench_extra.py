#!/usr/bin/env python
"""Round-6 optimization harness (bench.py itself is frozen for
measurement; this file holds the extra instrumentation the
optimization guide §1 asks for).

Two modes:

  python bench_extra.py --plans q1,q2,...   # write .explain("formatted")
                                            # to plans/r06/<q>_<tag>.txt
  python bench_extra.py --time q1,q2,...    # noop-sink isolated timing
                                            # (guide §1.4), N reps each

Query builders RETURN THE DATAFRAME the corresponding bench.py entry
computes (bench entries end in .count()/.collect(); the builder stops
one step earlier so the plan and the noop write see the full
computation).  Inputs, session config and parameters replicate
bench.bench_queries exactly.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

import bench as B  # frozen harness: reuse its session + corpus helpers
from pyspark.sql import functions as F

TAG = os.environ.get("PLAN_TAG", "before")
PLANS_DIR = REPO / "plans" / "r06"


def _inputs(spark):
    sf_dir = B.SF_DIR
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    tdf, _ = B._transcripts(spark, B.CPUS)
    docs_id_part = docs.withColumn("part", (F.col("doc_id") % 7).cast("int"))
    I = {"docs": docs, "li": li, "ev": ev, "tdf": tdf,
         "docs_id_part": docs_id_part, "sf_dir": sf_dir}
    _cache_inputs(I)
    return I


def _cache_inputs(I):
    for k in ("docs", "li", "ev", "tdf"):
        I[k].cache().count()


# ---------------------------------------------------------------------------
# builders: name -> fn(spark, inputs) -> DataFrame (or None-returning
# callable for driver-side entries that have no single output DF)
# ---------------------------------------------------------------------------


def b_triangle_counts(spark, I):
    from btl_bloomfilter_spark.operators.triangles import (
        cooccurrence_edges, triangle_counts)
    edges = cooccurrence_edges(I["li"], "l_orderkey", "l_partkey")
    return triangle_counts(edges, broadcast_adj=True)


def b_kcore(spark, I):
    from btl_bloomfilter_spark.operators.kcore import k_core
    from btl_bloomfilter_spark.operators.triangles import cooccurrence_edges
    return k_core(cooccurrence_edges(I["li"], "l_orderkey", "l_partkey"), k=80)


def b_label_propagation(spark, I):
    from btl_bloomfilter_spark.operators.labelprop import label_propagation
    from btl_bloomfilter_spark.operators.triangles import cooccurrence_edges
    edges = cooccurrence_edges(I["li"], "l_orderkey", "l_partkey")
    return label_propagation(edges, rounds=3)


def b_deterministic_walks(spark, I):
    from btl_bloomfilter_spark.operators.triangles import cooccurrence_edges
    from btl_bloomfilter_spark.operators.walks import deterministic_walks
    edges = cooccurrence_edges(I["li"], "l_orderkey", "l_partkey")
    return deterministic_walks(edges, n_walks=32, steps=6, seed=9)


def b_link_prediction(spark, I):
    from btl_bloomfilter_spark.operators.linkpred import link_prediction_scores
    from btl_bloomfilter_spark.operators.triangles import cooccurrence_edges
    edges = cooccurrence_edges(I["li"], "l_orderkey", "l_partkey", min_support=2)
    return link_prediction_scores(edges)


def b_pagerank(spark, I):
    from btl_bloomfilter_spark.operators.pagerank import pagerank_int
    edges = I["li"].select(
        (F.col("l_suppkey") + 1000000).alias("src"), F.col("l_partkey").alias("dst")
    ).distinct()
    out = pagerank_int(edges, iters=6)
    out.unpersist()
    return out


def b_prefix_simjoin(spark, I):
    from btl_bloomfilter_spark.operators.setjoin import (
        ordered_token_sets, prefix_similarity_join)
    d = I["docs_id_part"]
    sets = ordered_token_sets(d, "text", "doc_id").persist()
    return prefix_similarity_join(d, "text", "doc_id", threshold=0.8,
                                  token_sets=sets)


def b_edit_distance_join(spark, I):
    from btl_bloomfilter_spark.operators.editjoin import (
        edit_distance_join, qgram_profile)
    base = I["docs_id_part"].select(
        F.col("doc_id").alias("id"),
        F.base64(F.unhex(F.md5(F.col("doc_id").cast("string")))).alias("s"),
    )
    corpus = base.unionByName(
        base.where(F.col("id") % 5 == 0).select(
            (F.col("id") + 1000000).alias("id"),
            F.expr("substring(s, 1, 6) || 'z' || substring(s, 8)").alias("s"),
        )
    )
    prof = qgram_profile(corpus, "s", "id", q=3, max_dist=2).persist()
    return edit_distance_join(corpus, "s", "id", max_dist=2, q=3, profile=prof)


def b_weighted_minhash(spark, I):
    from btl_bloomfilter_spark.operators.wminhash import weighted_minhash_pairs
    return weighted_minhash_pairs(
        I["docs"], "text", "doc_id",
        num_perm=16, cap=4, min_matches=4, seed=20, hot_bucket_limit=50,
    )


def b_novelty_scores(spark, I):
    from btl_bloomfilter_spark.operators.novelty import novelty_scores
    docs = I["docs"]
    new = docs.where(F.col("doc_id") % 3 == 0)
    ref = docs.where(F.col("doc_id") % 3 != 0)
    return novelty_scores(new, ref, "text", "doc_id", fpr=0.01)


def b_conv_near_dup(spark, I):
    from btl_bloomfilter_spark.operators.dialog import near_dup_conversations
    return near_dup_conversations(I["tdf"], w=2, threshold=0.4, max_conv_freq=50)


def b_record_linkage(spark, I):
    import __spark_entry__ as em
    from btl_bloomfilter_spark.operators.linkage import fellegi_sunter_link
    cust = spark.read.parquet(f"{I['sf_dir']}/customer.parquet")
    comps, thr = em._q112_spec()
    a = cust.selectExpr(*em._Q112_A_COLS)
    b = cust.where(em._Q112_B_WHERE).selectExpr(*em._Q112_B_COLS)
    return fellegi_sunter_link(a, b, id_a="id", id_b="id",
                               block=em._Q112_BLOCK, comparators=comps,
                               threshold_milli=thr).where(F.col("is_match"))


def b_kmer_spectrum(spark, I):
    from btl_bloomfilter_spark.operators.spectrum import kmer_spectrum
    return kmer_spectrum(I["docs"], "text", 12)


def b_span_dedup(spark, I):
    from btl_bloomfilter_spark.operators.dedup import duplicate_spans
    return duplicate_spans(I["docs"], "text", "doc_id", k=16, w=16, min_len=64)


def b_contamination_screen(spark, I):
    from btl_bloomfilter_spark.operators.decontam import contamination_screen
    bench_docs = I["docs"].where(F.col("doc_id") % 10 == 0).select("text")
    screened, _ = contamination_screen(I["docs"], bench_docs, "text", k=25)
    return screened.agg(F.avg("contamination_frac"))


def b_bm25(spark, I):
    from btl_bloomfilter_spark.operators.bm25 import bm25_scores
    return bm25_scores(I["docs"], "text", "doc_id",
                       ["hash", "spark", "scan"], top_n=100)


def b_phrase_search(spark, I):
    from btl_bloomfilter_spark.operators.postings import (
        build_postings, phrase_search)
    idx = build_postings(I["docs"], "text", "doc_id")
    return phrase_search(idx, ["table", "value"])


def b_incremental_minhash(spark, I):
    from btl_bloomfilter_spark.operators.dedup import (
        incremental_minhash_dedup, minhash_signatures)
    d = I["docs"].select("doc_id", "text").repartition(B.CPUS).cache()
    d.count()
    sigs = minhash_signatures(d, "text", "doc_id", num_perm=64).persist()
    sigs.count()
    shard = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    return incremental_minhash_dedup(shard, "text", "doc_id", sigs,
                                     num_perm=64, bands=16, threshold=0.3)


BUILDERS = {
    "triangle_counts_parts": b_triangle_counts,
    "kcore_parts": b_kcore,
    "label_propagation_parts": b_label_propagation,
    "deterministic_walks": b_deterministic_walks,
    "link_prediction_parts": b_link_prediction,
    "pagerank_supplier_part": b_pagerank,
    "prefix_simjoin_docs": b_prefix_simjoin,
    "edit_distance_join": b_edit_distance_join,
    "weighted_minhash_docs": b_weighted_minhash,
    "novelty_scores": b_novelty_scores,
    "conv_near_dup": b_conv_near_dup,
    "record_linkage": b_record_linkage,
    "kmer_spectrum_docs": b_kmer_spectrum,
    "span_dedup_docs": b_span_dedup,
    "contamination_screen": b_contamination_screen,
    "bm25_retrieval": b_bm25,
    "phrase_search_docs": b_phrase_search,
    "incremental_minhash": b_incremental_minhash,
}


def run_corpus_prep_e2e(sf_dir: str) -> dict:
    """One COMPOSED corpus-prep pipeline, timed end to end (r5 verdict
    worklist #7): hygiene (C4 rewrite + Gopher + repetition + PII)
    -> exact + near dedup -> split  via jobs/clean_corpus.py, then
    benchmark decontamination of the cleaned corpus via
    jobs/decontaminate.py, then sequence packing of the survivors —
    the persist-once seams composed as a real job chain (fresh
    subprocess sessions for the two spark-submit-style jobs, exactly
    as a cluster would run them)."""
    import shutil
    import subprocess

    work = Path(tempfile.gettempdir()) / f"btl_e2e_{Path(sf_dir).name}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out: dict = {"sf_dir": sf_dir}
    t0 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "clean_corpus.py"),
         "--input", f"{sf_dir}/documents.parquet", "-o", str(work / "clean"),
         "--c4-rewrite", "--gopher", "--repetition", "--redact-pii",
         "--exact-dedup", "--near-dedup", "--min-words", "20",
         "--split", "train=0.98,val=0.01,test=0.01", "--no-stats"],
        capture_output=True, text=True, cwd=str(REPO),
    )
    if r.returncode != 0:
        raise RuntimeError(f"clean_corpus failed:\n{r.stderr[-2000:]}")
    out["clean_sec"] = round(time.perf_counter() - t0, 3)
    out["clean_stats"] = json.loads(
        [l for l in r.stdout.splitlines() if l.startswith("{")][-1]
    )
    t1 = time.perf_counter()
    r = subprocess.run(
        [sys.executable, str(REPO / "jobs" / "decontaminate.py"),
         "--corpus", str(work / "clean"), "--bench", f"{sf_dir}/documents.parquet",
         "-o", str(work / "screened"), "--k", "25"],
        capture_output=True, text=True, cwd=str(REPO),
    )
    if r.returncode != 0:
        raise RuntimeError(f"decontaminate failed:\n{r.stderr[-2000:]}")
    out["decontam_sec"] = round(time.perf_counter() - t1, 3)
    t2 = time.perf_counter()
    spark = B._spark(B.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F  # noqa: F811
    from btl_bloomfilter_spark.operators.packing import pack_documents

    screened = spark.read.parquet(str(work / "screened"))
    docs = screened.select(
        "doc_id", F.greatest(F.length("text"), F.lit(1)).alias("n_tok")
    )
    packed = pack_documents(docs, "doc_id", "n_tok", capacity=4096)
    out["n_packed"] = packed.count()
    out["pack_sec"] = round(time.perf_counter() - t2, 3)
    spark.stop()
    out["total_sec"] = round(out["clean_sec"] + out["decontam_sec"] + out["pack_sec"], 3)
    shutil.rmtree(work, ignore_errors=True)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans", type=str, default=None)
    ap.add_argument("--time", type=str, default=None)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--e2e", action="store_true")
    args = ap.parse_args()
    if args.e2e:
        print(json.dumps({"corpus_prep_e2e": run_corpus_prep_e2e(B.SF_DIR)}))
        return
    names = (args.plans or args.time).split(",")
    unknown = [n for n in names if n not in BUILDERS]
    if unknown:
        raise SystemExit(f"unknown: {unknown}; known: {sorted(BUILDERS)}")
    spark = B._spark(B.CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    I = _inputs(spark)
    if args.plans:
        PLANS_DIR.mkdir(parents=True, exist_ok=True)
        for n in names:
            df = BUILDERS[n](spark, I)
            p = PLANS_DIR / f"{n}_{TAG}.txt"
            p.write_text(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            print(f"wrote {p}")
    if args.time:
        out = {}
        for n in names:
            spark.sparkContext.setJobDescription(f"r06 timing: {n}")
            reps = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                df = BUILDERS[n](spark, I)
                df.write.format("noop").mode("overwrite").save()
                reps.append(round(time.perf_counter() - t0, 3))
                # drop what the builder cached or persisted
                # (b_incremental_minhash) so storage blocks do not pile up
                # over reps, then re-cache the shared inputs it also drops
                spark.catalog.clearCache()
                _cache_inputs(I)
            out[n] = {"best": min(reps), "reps": reps}
            print(json.dumps({n: out[n]}))
        print("TOTAL_BEST", round(sum(v["best"] for v in out.values()), 3))
    spark.stop()


if __name__ == "__main__":
    main()
