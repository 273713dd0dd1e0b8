"""Extra benchmarks for optimization work (guide §1.4): per-query noop-sink
isolation and per-stage breakdowns for the composite queries.

Usage:
  python bench_extra.py noop [names...]        # noop-sink timing per query
  python bench_extra.py freeze                 # corpus_freeze stage breakdown
  python bench_extra.py dupspan                # dup_span_dedup stage breakdown
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from bench import CPUS, HEADLINE, SF_DIR, _session


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, df, sink="collect"):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    if sink == "noop":
        noop(df)
    else:
        df.collect()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    print(f"{label:44s} {dt:7.3f}s")
    return dt


def cmd_noop():
    spark = _session(CPUS)
    qs = entrymod.queries()
    names = sys.argv[2:] or HEADLINE
    # warm (codegen, python workers, parquet footers)
    qs["zonal_stats_sortmerge"](spark, SF_DIR).collect()
    qs["pip_poly"](spark, SF_DIR).collect()
    for name in names:
        timed(spark, name, qs[name](spark, SF_DIR))


def cmd_freeze():
    """Stage isolation for the r6-restructured corpus_freeze (dedup +
    sample first, decontamination last over survivors)."""
    from scidbgeo_spark.operators import curation, dedup

    spark = _session(CPUS)
    entrymod._ensure_pyfiles(spark)
    docs = entrymod._docs(spark, SF_DIR)
    timed(spark, "docs scan", docs, "noop")
    is_eval = (F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM) & (
        F.col("doc_id") < 100000
    )
    eval_docs = docs.filter(
        F.col("doc_id") % curation.EVAL_MOD == curation.EVAL_REM
    ).select("doc_id", "text")
    corp = dedup.dup_corpus(docs, extra_cols=("lang",)).filter(~is_eval)
    timed(spark, "corp scan", corp, "noop")
    keep = dedup.dedup_exact(corp).select(F.col("keep_id").alias("doc_id"))
    timed(spark, "dedup_exact", keep, "noop")
    kept = corp.join(keep, "doc_id").withColumn(
        "lang", F.coalesce("lang", F.lit("unk"))
    )
    pre = curation.sample_keep(kept).select("doc_id", "text")
    timed(spark, "kept+sampled (cumulative)", pre, "noop")
    contam = curation.contamination_check(pre, eval_docs).select(
        "doc_id", "n_hits"
    )
    timed(spark, "contamination over survivors (cum.)", contam, "noop")
    sampled = (
        pre.join(contam, "doc_id", "left")
        .filter(F.col("n_hits").isNull())
        .select("doc_id", "text")
    )
    out = curation.pack_sequences(sampled)
    timed(spark, "full corpus_freeze (cumulative)", out)


def cmd_dupspan():
    from scidbgeo_spark.operators import dedup

    spark = _session(CPUS)
    entrymod._ensure_pyfiles(spark)
    docs = entrymod._docs(spark, SF_DIR)
    corp = dedup.dup_corpus(docs)
    n = dedup.DUPSPAN_N
    toks = F.split(F.col("text"), " ")
    t = corp.select("doc_id", toks.alias("toks"), F.size(toks).alias("n_tokens"))
    timed(spark, "tokenize", t.select("doc_id", "n_tokens"), "noop")

    def _gram(s):
        return F.struct(
            s.alias("s"),
            dedup.md5_int(F.array_join(F.slice(F.col("toks"), s, n), " ")).alias("h"),
        )

    grams = (
        t.filter(F.col("n_tokens") >= n)
        .select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(1), F.col("n_tokens") - n + 1), _gram)
            ).alias("g"),
        )
        .select("doc_id", F.col("g.s").alias("s"), F.col("g.h").alias("h"))
    )
    timed(spark, "grams (hash+explode)", grams, "noop")
    dup_h = (
        grams.groupBy("h").agg(F.count("*").alias("cnt")).filter(F.col("cnt") > 1)
    ).select("h")
    timed(spark, "dup_h (cumulative)", dup_h, "noop")
    starts = (
        grams.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("starts"))
    )
    timed(spark, "starts (cumulative)", starts, "noop")
    timed(spark, "full dup_span_dedup", dedup.dup_span_dedup(corp))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "noop"
    if cmd == "freeze":
        cmd_freeze()
    elif cmd == "dupspan":
        cmd_dupspan()
    else:
        cmd_noop()
