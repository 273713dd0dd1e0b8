"""Large-scale single-box smoke: the two headline pipelines at sizes two
orders of magnitude above the test fixtures, with exact-sum checks.

Reproduces BENCH.md's "Scale smoke" table:

  1. zonal stats end-to-end on a 16384^2 (268M px) raster — pack ->
     rasterize a 670,761-zone polygon grid -> chunk-key join + agg;
     check: sum(count_value) == 16384^2 exactly.
  2. PIP join on 20M points x 18 n-gon zones -> per-zone counts;
     check: sum(n_points) == 20,000,000 exactly (the synthetic layer
     tiles the world, so every point falls in exactly one zone).

Run:  python tools/scale_smoke.py [cores]   (default 16)
Prints one JSON line per workload and a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from scidbgeo_spark.session import get_spark  # noqa: E402


def zonal_smoke(spark, h: int = 16384, chunk: int = 512, span: int = 20) -> dict:
    from scidbgeo_spark import tiling
    from scidbgeo_spark.kernels import PolyPack
    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.operators import zonal

    w = h
    t0 = time.time()
    coo = spark.range(h * w).select(
        F.expr(f"id DIV {w}").alias("y"),
        (F.col("id") % w).alias("x"),
        ((F.col("id") * VALUE_MULT) % VALUE_MOD).alias("value"),
    )
    tiles = tiling.pack_tiles(coo, chunk, h, w)
    pack = PolyPack.rect_grid(h, w, span, span)
    zt = zonal.rasterize_polygons(spark, pack, h, w, chunk)
    rows = zonal.zonal_stats_tiles(tiles, zt).collect()
    wall = time.time() - t0
    total = sum(r.count_value for r in rows)
    return {
        "workload": "zonal_16384",
        "pixels": h * w,
        "zones": (h // span) * (w // span),
        "wall_sec": round(wall, 1),
        "sum_count": total,
        "exact": total == h * w,
        "n_zone_rows": len(rows),
    }


def pip_smoke(spark, n_pts: int = 20_000_000) -> dict:
    # rectangle world tiling (18 zones, 60x60 deg) so every point lands
    # in EXACTLY one zone and the total is checkable exactly
    import numpy as np

    from scidbgeo_spark.operators import pip

    polys = []
    zid = 0
    for cy in range(3):
        for cx in range(6):
            x0, y0 = -180.0 + 60 * cx, -90.0 + 60 * cy
            ring = np.array(
                [[x0, y0], [x0 + 60, y0], [x0 + 60, y0 + 60], [x0, y0 + 60]]
            )
            polys.append((zid, ring))
            zid += 1
    t0 = time.time()
    pts = spark.range(n_pts).select(
        F.col("id").alias("doc_id"),
        (F.lit(-180.0) + ((F.col("id") * 9973) % 360000) / F.lit(1000.0)).alias("lon"),
        (F.lit(-90.0) + ((F.col("id") * 7919) % 180000) / F.lit(1000.0)).alias("lat"),
    )
    layer = pip.prepare_layer(spark, polys)
    rows = (
        pip.pip_join_prepared(pts, layer)
        .groupBy("zone_id")
        .agg(F.count("*").alias("n_points"))
        .collect()
    )
    wall = time.time() - t0
    total = sum(r.n_points for r in rows)
    return {
        "workload": "pip_20m",
        "points": n_pts,
        "zones": len(polys),
        "wall_sec": round(wall, 1),
        "sum_points": total,
        "exact": total == n_pts,
    }


def curation_smoke(spark, n_docs: int = 10_000_000) -> dict:
    """10M synthetic 8-token docs through decontamination + packing +
    stratified sampling, with EXACT structural checks: every shingle of
    a doc embeds its doc_id, so each of the ~n/1009 planted eval docs
    hits exactly its own corpus twin with exactly 4 shared 5-gram
    shingles; every doc is exactly 8 tokens, so packing conserves
    8*n tokens and fills chunks with exactly budget/8 docs."""
    from scidbgeo_spark.operators import curation

    eval_mod = 1009
    t0 = time.time()
    i = F.col("id")
    text = F.concat_ws(
        " ",
        F.concat(F.lit("d"), i.cast("string")),
        F.concat(F.lit("a"), (i % 7).cast("string")),
        F.concat(F.lit("b"), (i % 11).cast("string")),
        F.concat(F.lit("c"), (i % 13).cast("string")),
        F.concat(F.lit("e"), i.cast("string")),
        F.concat(F.lit("f"), (i % 17).cast("string")),
        F.concat(F.lit("g"), (i % 19).cast("string")),
        F.concat(F.lit("h"), i.cast("string")),
    )
    lang = F.element_at(
        F.array(*[F.lit(lg) for lg in ["en", "de", "zh", "fr", "es"]]),
        (i % 5 + 1).cast("int"),
    )
    docs = spark.range(n_docs).select(
        i.alias("doc_id"), text.alias("text"), lang.alias("lang")
    )
    eval_docs = docs.filter(F.col("doc_id") % eval_mod == 5).select("doc_id", "text")
    n_eval = (n_docs - 5 + eval_mod - 1) // eval_mod  # |{x < n : x % mod == 5}|
    hits = curation.contamination_check(docs, eval_docs).agg(
        F.count("*").alias("rows"), F.sum("n_hits").alias("hits")
    ).collect()[0]
    packed = curation.pack_sequences(docs).agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_tokens").alias("toks"),
        F.sum(F.when(F.col("n_docs") == curation.PACK_BUDGET // 8, 0).otherwise(1)).alias(
            "ragged"
        ),
    ).collect()[0]
    kept = {
        r.lang: r.n
        for r in curation.stratified_sample(docs)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    wall = time.time() - t0
    per_stratum = n_docs // 5
    rate_ok = all(
        abs(kept[lg] / per_stratum - curation.SAMPLE_RATES[lg] / 1000) < 0.01
        for lg in kept
    )
    exact = (
        hits.rows == n_eval
        and hits.hits == 4 * n_eval
        and packed.docs == n_docs
        and packed.toks == 8 * n_docs
        # only a shard's final partial chunk may deviate from budget/8 docs
        and packed.ragged <= curation.PACK_SHARDS
        and rate_ok
    )
    return {
        "workload": "curation_10m",
        "docs": n_docs,
        "wall_sec": round(wall, 1),
        "contam_rows": hits.rows,
        "n_eval": n_eval,
        "exact": bool(exact),
    }


def dedup_smoke(spark, n_docs: int = 10_000_000, n_batch: int = 2_000_000) -> dict:
    """10M-doc frozen corpus vs a 2M-doc crawl batch through
    incremental_dedup + a right-sized bloom_prefilter, with EXACT
    structural checks: the first half of the batch re-crawls frozen doc
    2j (dropped by the anti-join), the second half is 500k distinct
    novel texts each captured exactly twice (kept once, lower id wins).
    The Bloom run uses 2^20 words (66M bits ~ 6.6 bits/key at 10M keys;
    the default 1024-word gauge geometry would saturate) and pins the
    sketch's two contracts: zero false negatives, bounded FP rate."""
    from scidbgeo_spark.operators import dedup

    t0 = time.time()
    i = F.col("id")

    def text_of(ident):
        return F.concat_ws(
            " ",
            F.concat(F.lit("w"), ident.cast("string")),
            F.concat(F.lit("x"), (ident % 7).cast("string")),
            F.concat(F.lit("y"), (ident % 11).cast("string")),
            F.concat(F.lit("z"), ident.cast("string")),
        )

    frozen = spark.range(n_docs).select(i.alias("doc_id"), text_of(i).alias("text"))
    half = n_batch // 2
    quarter = n_batch // 4
    recrawl = spark.range(half).select(
        (i + n_docs).alias("doc_id"), text_of(i * 2).alias("text")
    )
    novel_text = F.concat(F.lit("novel "), text_of((i % quarter) + n_docs))
    novel = spark.range(half).select(
        (i + n_docs + half).alias("doc_id"), novel_text.alias("text")
    )
    batch = recrawl.unionAll(novel)

    kept = dedup.incremental_dedup(frozen, batch).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("n_batch_copies") == 2, 0).otherwise(1)).alias("badcopies"),
        F.max("keep_id").alias("max_keep"),
    ).collect()[0]
    # exactly `quarter` novel texts survive; every one captured twice;
    # lower ids win, so no kept id reaches the second novel tranche
    inc_exact = (
        kept.n == quarter
        and kept.badcopies == 0
        and kept.max_keep < n_docs + half + quarter
    )

    bl = dedup.bloom_prefilter(frozen, batch, words=1 << 20).agg(
        F.sum(F.when(F.col("seen") & ~F.col("maybe_seen"), 1).otherwise(0)).alias("fn"),
        F.sum(F.when(F.col("maybe_seen") & ~F.col("seen"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(F.col("seen"), 1).otherwise(0)).alias("seen"),
        F.count("*").alias("n"),
    ).collect()[0]
    fp_rate = bl.fp / (bl.n - bl.seen)
    bloom_exact = bl.fn == 0 and bl.seen == half and bl.n == n_batch and fp_rate < 0.15
    wall = time.time() - t0
    return {
        "workload": "incremental_dedup_10m",
        "frozen": n_docs,
        "batch": n_batch,
        "wall_sec": round(wall, 1),
        "kept": kept.n,
        "bloom_fp_rate": round(fp_rate, 4),
        "exact": bool(inc_exact and bloom_exact),
    }


def temporal_smoke(spark, bands: int = 8, h: int = 2048, chunk: int = 256) -> dict:
    """3-D temporal analytics at 33.5M cells: per-(zone, band) zonal
    stats over an 8-slice series + per-zone change detection.  Exact
    checks: the (zone, band) counts partition every cell; slice-vs-self
    change is all-zero."""
    from scidbgeo_spark import tiling
    from scidbgeo_spark.kernels import PolyPack
    from scidbgeo_spark.model import VALUE_MOD, VALUE_MULT
    from scidbgeo_spark.operators import zonal

    w = h
    t0 = time.time()
    coo3 = spark.range(bands * h * w).select(
        (F.col("id") % bands).alias("band"),
        F.expr(f"(id DIV {bands}) DIV {w}").alias("y"),
        (F.expr(f"id DIV {bands}") % w).alias("x"),
        ((F.col("id") * VALUE_MULT) % VALUE_MOD).alias("value"),
    )
    tiles3 = tiling.pack_tiles_3d(coo3, chunk, h, w)
    pack = PolyPack.rect_grid(h, w, 64, 64)
    zt = zonal.rasterize_polygons(spark, pack, h, w, chunk)
    rows = zonal.zonal_stats_time(zonal.zone_cells(tiles3, zt)).collect()
    total = sum(r.count_value for r in rows)
    n_bands_seen = len({r.band for r in rows})
    # change detection: band 3 minus itself must be all-zero per zone
    from scidbgeo_spark.operators import pixel

    a = pixel.slice_band(coo3, 3)
    same = a.alias("p").join(a.alias("q"), ["y", "x"]).select(
        "y", "x", (F.col("q.value") - F.col("p.value")).alias("value")
    )
    dt = tiling.pack_tiles(same, chunk, h, w)
    zeros = zonal.zonal_stats_tiles(dt, zt).collect()
    all_zero = all(r.min_value == 0 and r.max_value == 0 for r in zeros)
    wall = time.time() - t0
    return {
        "workload": "temporal_zonal+change",
        "cells": bands * h * w,
        "zones_x_bands": len(rows),
        "wall_sec": round(wall, 1),
        "exact": total == bands * h * w and n_bands_seen == bands and all_zero,
    }


def lm_deciles_smoke(spark, n_docs: int = 2_000_000) -> dict:
    """LM scoring + exact decile bucketing at 2M synthetic docs.  Exact
    checks: every doc lands in exactly one decile 0..9; bucket
    boundaries are monotone in the score key (value-based semantics)."""
    from scidbgeo_spark.operators import curation

    t0 = time.time()
    # score spread: doc i carries (i % 17) copies of the ubiquitous
    # token plus one medium and one rare token, so mean corpus
    # frequency varies smoothly and the deciles are non-degenerate
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.array_join(
                F.array_repeat(F.lit("the"), (F.col("id") % 17).cast("int") + 1), " "
            ),
            F.concat(F.lit("w"), (F.col("id") % 50_000).cast("string")),
            F.concat(F.lit("v"), (F.col("id") % 997).cast("string")),
        ).alias("text"),
    )
    out = curation.quality_deciles(docs)
    agg = (
        out.groupBy("decile")
        .agg(
            F.count("*").alias("n"),
            F.min("score_key").alias("lo"),
            F.max("score_key").alias("hi"),
        )
        .orderBy("decile")
        .collect()
    )
    wall = time.time() - t0
    total = sum(r.n for r in agg)
    decs = [r.decile for r in agg]
    monotone = all(
        agg[i].hi <= agg[i + 1].lo for i in range(len(agg) - 1)
    )
    return {
        "workload": "lm_quality_deciles",
        "docs": n_docs,
        "buckets": len(agg),
        "wall_sec": round(wall, 1),
        "exact": total == n_docs and monotone
        and all(0 <= d <= 9 for d in decs),
    }


def main() -> None:
    cores = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    spark = get_spark("scale-smoke", cores=cores, shuffle_partitions=2 * cores)
    results = []
    for fn in (
        zonal_smoke,
        pip_smoke,
        curation_smoke,
        dedup_smoke,
        temporal_smoke,
        lm_deciles_smoke,
    ):
        r = fn(spark)
        results.append(r)
        print(json.dumps(r), flush=True)
    print(
        json.dumps(
            {
                "cores": cores,
                "all_exact": all(r["exact"] for r in results),
                "walls": {r["workload"]: r["wall_sec"] for r in results},
            }
        )
    )


if __name__ == "__main__":
    main()
