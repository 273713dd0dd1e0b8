"""Skew-salting invariance + checkpoint/resume tests (north rule:
results and assignments identical across parallelism levels and
resume-from-checkpoint replays)."""

import json
import os
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from scidbgeo_spark import model
from scidbgeo_spark.operators import pip
from scidbgeo_spark.plans import fanout, lineage, skew


def test_salted_counts_equal_plain_counts(spark, sf_correct):
    pts = model.points(spark, sf_correct).withColumn("cell", pip.cell_col())
    plain = {r.cell: r["count"] for r in pts.groupBy("cell").count().collect()}
    for cap in (10, 37, 1000):
        salted = {
            r.cell: r["count"]
            for r in skew.salted_counts(pts, "cell", "doc_id", cap=cap).collect()
        }
        assert salted == plain


def test_hot_cell_actually_split(spark, sf_correct):
    pts = model.points(spark, sf_correct).withColumn("cell", pip.cell_col())
    hot = skew.hot_keys(pts, "cell", cap=20).collect()
    assert len(hot) >= 1  # the fixture's dense cell
    salted = skew.with_adaptive_salt(pts, "cell", "doc_id", cap=20)
    hot_cell = hot[0].cell
    n_buckets = salted.filter(F.col("cell") == hot_cell).select("salt").distinct().count()
    assert n_buckets > 1


def test_salt_deterministic_across_repartition(spark, sf_correct):
    """Same row -> same salt bucket regardless of physical partitioning
    (resume + N-vs-4N invariance)."""
    pts = model.points(spark, sf_correct).withColumn("cell", pip.cell_col())
    a = skew.with_adaptive_salt(pts.repartition(4), "cell", "doc_id", cap=20)
    b = skew.with_adaptive_salt(pts.repartition(64), "cell", "doc_id", cap=20)
    am = {r.doc_id: r.salt for r in a.collect()}
    bm = {r.doc_id: r.salt for r in b.collect()}
    assert am == bm


def test_split_oversized_groups_bounded(spark, sf_correct):
    pts = model.points(spark, sf_correct).withColumn("cell", pip.cell_col())
    sub = skew.split_oversized_groups(pts, ["cell"], "doc_id", cap=15)
    sizes = sub.groupBy("cell", "sub").count().collect()
    # deterministic hashing can't guarantee a hard cap, but every hot
    # group must shrink well below its unsplit size
    n = pts.count()
    assert max(r["count"] for r in sizes) < n // 10


def test_results_invariant_across_parallelism(spark, sf_correct):
    """North rule: join row sets / zone assignments / stats identical
    across parallelism levels.  Within one session the controllable
    parallelism axes are input partitioning and shuffle width — results
    must be bitwise equal across them (core-count equality is checked by
    hand with ``tools/scale_smoke.py <cores>``)."""
    from scidbgeo_spark import fixtures, tiling
    from scidbgeo_spark.operators import zonal as z

    base = model.points(spark, sf_correct)
    outs = []
    for nparts in (2, 37):
        counts = pip.pip_counts(spark, base.repartition(nparts), fixtures.geo_grid_polygons())
        outs.append(sorted((r.zone_id, r.n_points) for r in counts.collect()))
    assert outs[0] == outs[1]

    coo = model.raster_coo(spark, sf_correct)
    h, w = model.raster_dims(spark, sf_correct)
    zouts = []
    for nparts in (3, 41):
        tiles = tiling.pack_tiles(coo.repartition(nparts), 50, h, w)
        zt = z.rasterize_polygons(spark, fixtures.MIXED_POLYGONS, h, w, 50)
        zouts.append(
            sorted(
                (r.id, r.min_value, r.max_value, r.avg_value, r.count_value)
                for r in z.zonal_stats_tiles(tiles, zt).collect()
            )
        )
    assert zouts[0] == zouts[1]  # avg included: bitwise (exact int sums)


def test_zonal_pipeline_checkpoint_and_resume(spark, sf_smoke, tmp_path):
    wd = str(tmp_path / "ckpt")
    stats1, pipe1 = lineage.zonal_pipeline(spark, sf_smoke, wd)
    r1 = {r.id: (r.min_value, r.max_value, r.count_value) for r in stats1.collect()}
    c1 = pipe1.counters()
    assert not any(v["skipped"] for v in c1.values())
    assert os.path.exists(os.path.join(wd, "redimension_LINEAGE.json"))

    # resume: everything skips, result identical
    stats2, pipe2 = lineage.zonal_pipeline(spark, sf_smoke, wd)
    r2 = {r.id: (r.min_value, r.max_value, r.count_value) for r in stats2.collect()}
    assert r1 == r2
    assert all(v["skipped"] for v in pipe2.counters().values())

    # simulate a crash mid-stage-2: kill rasterize's success marker
    os.remove(os.path.join(wd, "rasterize", "_SUCCESS"))
    stats3, pipe3 = lineage.zonal_pipeline(spark, sf_smoke, wd)
    c3 = pipe3.counters()
    assert c3["redimension"]["skipped"]
    assert not c3["rasterize"]["skipped"]  # recomputed
    r3 = {r.id: (r.min_value, r.max_value, r.count_value) for r in stats3.collect()}
    assert r1 == r3

    # lineage manifest carries per-partition rows
    with open(os.path.join(wd, "zonal_join_LINEAGE.json")) as f:
        m = json.load(f)
    assert m["rows"] == len(r1)
    assert sum(m["partitions"].values()) == m["rows"]


def test_stale_fingerprint_recomputes(spark, sf_smoke, tmp_path):
    wd = str(tmp_path / "ckpt2")
    _, p1 = lineage.zonal_pipeline(spark, sf_smoke, wd, chunk=50)
    _, p2 = lineage.zonal_pipeline(spark, sf_smoke, wd, chunk=25)  # new config
    assert not any(v["skipped"] for v in p2.counters().values())


@pytest.mark.parametrize(
    "raw, want",
    [
        ("134217728", 134217728),
        ("134217728b", 134217728),
        ("128k", 128 << 10),
        ("128M", 128 << 20),
        ("64mb", 64 << 20),
        ("2g", 2 << 30),
        ("1t", 1 << 40),
        ("1tb", 1 << 40),
        ("2p", 2 << 50),
        ("3pb", 3 << 50),
        ("lots", 7),
    ],
)
def test_fan_out_parses_every_spark_size_suffix(raw, want):
    spark = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default: raw))
    assert fanout._bytes_conf(spark, "spark.sql.files.maxPartitionBytes", 7) == want
