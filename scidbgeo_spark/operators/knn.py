"""kNN join via grid-cell ring expansion with certified fallback.

No reference analog (north rule addition).  For a small query set Q and a
huge point table P, the engine:

1. computes each point's coarse grid cell (pure column arithmetic —
   pushdown-friendly);
2. iteratively filters P to cells within Chebyshev ring radius r of any
   query cell (broadcast cell set -> partition-prunable IN filter), joins
   the broadcast query table, and takes exact top-k per query;
3. **certifies** the result: any point outside radius-r rings is at
   Euclidean distance >= r*cell, so if every query's k-th candidate
   distance is < r*cell the top-k is globally exact; otherwise r doubles
   (sort-merge-free full scan is the final fallback).

Distances are squared-Euclidean on a flat lon/lat plane (matching the
oracle); ties break on doc_id so ranking is total and deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

CELL = 15.0  # ring-expansion cell size in degrees
NX = int(360 / CELL)
NY = int(180 / CELL)


def _point_cell_col(cell: float, ny: int, nx: int):
    """Point-side grid cell id, CLAMPED to the valid grid: a coordinate
    at exactly lat=90 / lon=180 floors to row ny / col nx — one past the
    edge — and an unclamped id can never match the (clamped) ring or
    replication side, silently dropping the point from every result.
    Clamping maps the boundary into the adjacent valid band, where the
    exact distance filters decide."""
    cy = F.greatest(
        F.least(F.floor((F.col("lat") + 90.0) / cell), F.lit(ny - 1)), F.lit(0)
    )
    cx = F.greatest(
        F.least(F.floor((F.col("lon") + 180.0) / cell), F.lit(nx - 1)), F.lit(0)
    )
    return (cy * nx + cx).cast("long")


def _cells_in_ring(qcy: int, qcx: int, r: int) -> set[int]:
    cells = set()
    for cy in range(max(0, qcy - r), min(NY - 1, qcy + r) + 1):
        for cx in range(max(0, qcx - r), min(NX - 1, qcx + r) + 1):
            cells.add(cy * NX + cx)
    return cells


BULK_ROUTE_THRESHOLD = 64  # above this many queries, use the bulk join path


def knn(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """queries: small DataFrame (q_id, qlon, qlat) — collected to the
    driver (bounded by design: the query side of a kNN join is the small
    side; the reference's analog is the broadcast-right equi_join).
    Query sets above BULK_ROUTE_THRESHOLD are routed to
    :func:`knn_join_bulk` automatically — the broadcast/IN-list plan is
    only ever built for genuinely small query sides.

    Returns (q_id, doc_id, rank) with rank 1..k.
    """
    qrows = queries.limit(BULK_ROUTE_THRESHOLD + 1).collect()
    if len(qrows) > BULK_ROUTE_THRESHOLD:
        return knn_join_bulk(spark, points, queries, k=k)
    qcells = [
        (
            max(0, min(int((r.qlat + 90) // CELL), NY - 1)),
            max(0, min(int((r.qlon + 180) // CELL), NX - 1)),
        )
        for r in qrows
    ]
    max_r = max(NX, NY)

    pts = points.withColumn("cell", _point_cell_col(CELL, NY, NX))
    d2 = (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon")) + (
        F.col("lat") - F.col("qlat")
    ) * (F.col("lat") - F.col("qlat"))
    w = Window.partitionBy("q_id").orderBy(F.col("d2"), F.col("doc_id"))

    r = 1
    while True:
        exact = r >= max_r  # full scan: no pruning filter, always certified
        if exact:
            cand_pts = pts
        else:
            allowed = set()
            for qcy, qcx in qcells:
                allowed |= _cells_in_ring(qcy, qcx, r)
            cand_pts = pts.filter(F.col("cell").isin([int(c) for c in allowed]))
        topk = (
            cand_pts.join(F.broadcast(queries))
            .withColumn("d2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "doc_id", "rank", "d2")
        )
        if exact:
            break
        # certification: per-query k-th distance must beat the pruning
        # bound — reduced to ONE driver-side row (count of certified
        # queries), never a per-query list.  r6: the check counts
        # candidates with d2 < bound per query instead of re-running the
        # top-k WINDOW — "at least k candidates inside the bound" is
        # exactly "n == k AND dk < bound" (the k nearest are all <= dk),
        # so the certification action now costs the candidate join + one
        # codegen aggregate, no per-query sort (guide §1.2: don't
        # compute things you throw away).
        bound = (r * CELL) ** 2
        kth = (
            cand_pts.join(F.broadcast(queries))
            .withColumn("d2", d2)
            .groupBy("q_id")
            .agg(
                F.sum(F.when(F.col("d2") < bound, 1).otherwise(0)).alias(
                    "n_in"
                )
            )
        )
        n_certified = (
            kth.filter(F.col("n_in") >= k)
            .agg(F.count("*").alias("c"))
            .collect()[0][0]
        )
        if n_certified == len(qrows):
            break
        r *= 2
        r = min(r, max_r)
    return topk.select("q_id", "doc_id", "rank")


def _ring_cells_col(r: int, cell: float = CELL):
    """All cells within Chebyshev radius r of the query's cell, as a JVM
    array expression (no driver-side enumeration — queries stay
    distributed)."""
    nx, ny = int(360 / cell), int(180 / cell)
    qcy = F.floor((F.col("qlat") + 90.0) / cell).cast("long")
    qcx = F.floor((F.col("qlon") + 180.0) / cell).cast("long")
    dy = F.sequence(F.lit(-r), F.lit(r))
    return F.flatten(
        F.transform(
            dy,
            lambda oy: F.filter(
                F.transform(
                    F.sequence(F.lit(-r), F.lit(r)),
                    lambda ox: F.when(
                        (qcy + oy >= 0)
                        & (qcy + oy < ny)
                        & (qcx + ox >= 0)
                        & (qcx + ox < nx),
                        (qcy + oy) * nx + (qcx + ox),
                    ),
                ),
                lambda c: c.isNotNull(),
            ),
        )
    )


def knn_join_bulk(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    k: int = 10,
    max_rounds: int = 6,
    cell: float = CELL,
) -> DataFrame:
    """Many-query kNN join — the sort-merge path for query sets too large
    to broadcast or driver-loop:

    each round, every *uncertified* query explodes its radius-r ring cells
    into (cell, query) rows; a plain equi-join on ``cell`` co-locates
    candidates (sort-merge/shuffle-hash — Catalyst's pick), a window takes
    exact per-query top-k, and queries whose k-th distance is certified
    (< (r*CELL)^2 with a full count) leave the loop via a DISTRIBUTED
    semi-join; uncertified ones continue via a left-anti join.  Remaining
    queries double r; after max_rounds the fallback joins them against the
    full point table.  NOTHING per-query returns to the driver — the only
    driver-side signal is one emptiness boolean per round, so the plan
    holds at millions of queries.  The certified-id frame is
    localCheckpoint'd each round to keep plan depth bounded.

    Deterministic: ordering ties break on doc_id; results equal the
    brute-force cross join (pinned by tests).
    """
    if cell <= 0 or 360.0 % cell != 0.0 or 180.0 % cell != 0.0:
        # a non-dividing cell truncates the grid: edge coordinates land
        # on cell ids that collide with the next row (same failure
        # distance_join guarded) — refuse rather than silently miss
        raise ValueError(f"cell size {cell} must divide 360 and 180 evenly")
    nx, ny = int(360 / cell), int(180 / cell)
    pts = points.withColumn("cell", _point_cell_col(cell, ny, nx))
    d2 = (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon")) + (
        F.col("lat") - F.col("qlat")
    ) * (F.col("lat") - F.col("qlat"))
    w = Window.partitionBy("q_id").orderBy(F.col("d2"), F.col("doc_id"))

    remaining = queries.select("q_id", "qlon", "qlat")
    results = []
    r = 1
    for _ in range(max_rounds):
        ring = remaining.select(
            "q_id", "qlon", "qlat", F.explode(_ring_cells_col(r, cell)).alias("cell")
        )
        cand = ring.join(pts, "cell")  # co-located equi-join on cell
        topk = (
            cand.withColumn("d2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "doc_id", "rank", "d2")
        )
        bound = float((r * cell) ** 2)
        cert = topk.groupBy("q_id").agg(F.max("d2").alias("dk"), F.count("*").alias("n"))
        done = (
            cert.filter((F.col("n") == k) & (F.col("dk") < bound))
            .select("q_id")
            .localCheckpoint()
        )
        results.append(
            topk.join(done, "q_id", "left_semi").select("q_id", "doc_id", "rank")
        )
        remaining = remaining.join(done, "q_id", "left_anti")
        if remaining.isEmpty():
            break
        r *= 2
    else:
        # sort-merge fallback: full scan for the stragglers
        full = remaining.crossJoin(pts.drop("cell"))
        topk = (
            full.withColumn("d2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("q_id", "doc_id", "rank")
        )
        results.append(topk)
    out = results[0]
    for extra in results[1:]:
        out = out.unionByName(extra)
    return out


def distance_join(
    points: DataFrame, pois: DataFrame, radius: float, cell: float = CELL
) -> DataFrame:
    """RANGE (within-distance) join — the second custom spatial join
    Spark lacks natively: one row per (point, POI) pair with squared
    flat-plane distance <= radius^2.

    Scale shape: each POI replicates to its grid cell's 3x3
    neighborhood (requires radius <= cell, asserted — the disc then
    cannot escape the neighborhood), points compute one cell id, and
    the pair space collapses from |P| x |Q| to an equi-join on the cell
    followed by the exact distance filter.  Replication is a constant
    x9 on the POI side only; both sides stay fully distributed — no
    driver loop, no cross join.  The exact filter makes candidate
    over-coverage semantically invisible, so cell clamping at the world
    edge needs no wraparound cases (flat-plane semantics, same as knn
    and the oracle)."""
    if radius > cell:
        raise ValueError(f"distance_join requires radius <= cell ({radius} > {cell})")
    # grid dims derive from THIS call's cell size — the module-level
    # NY/NX belong to CELL and using them for a finer cell would let
    # floor((coord+90)/cell) exceed ny-1, inverting the clamp bounds
    # (descending sequence) and colliding cell ids across rows
    if cell <= 0 or 360.0 % cell != 0.0 or 180.0 % cell != 0.0:
        raise ValueError(f"cell size {cell} must divide 360 and 180 evenly")
    ny, nx = int(round(180.0 / cell)), int(round(360.0 / cell))
    p = pois.select(
        "q_id",
        "qlon",
        "qlat",
        F.floor((F.col("qlat") + 90.0) / cell).alias("cy"),
        F.floor((F.col("qlon") + 180.0) / cell).alias("cx"),
    )
    p = p.select(
        "q_id",
        "qlon",
        "qlat",
        F.explode(
            F.sequence(
                F.greatest(F.col("cy") - 1, F.lit(0)),
                F.least(F.col("cy") + 1, F.lit(ny - 1)),
            )
        ).alias("ncy"),
        "cx",
    ).select(
        "q_id",
        "qlon",
        "qlat",
        "ncy",
        F.explode(
            F.sequence(
                F.greatest(F.col("cx") - 1, F.lit(0)),
                F.least(F.col("cx") + 1, F.lit(nx - 1)),
            )
        ).alias("ncx"),
    )
    cand = p.select(
        "q_id", "qlon", "qlat", (F.col("ncy") * nx + F.col("ncx")).cast("long").alias("cell")
    )
    pts = points.withColumn("cell", _point_cell_col(cell, ny, nx))
    d2 = (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon")) + (
        F.col("lat") - F.col("qlat")
    ) * (F.col("lat") - F.col("qlat"))
    return (
        pts.join(F.broadcast(cand), "cell")
        .filter(d2 <= radius * radius)
        .select("doc_id", "q_id", d2.alias("dist2"))
    )


def knn_queries_from_nation(spark: SparkSession, sf_dir: str, limit: int = 5) -> DataFrame:
    """Deterministic query points derived from the nation table (oracle.py
    'knn' uses the identical arithmetic)."""
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return nation.filter(F.col("n_nationkey") < limit).select(
        F.col("n_nationkey").alias("q_id"),
        (F.lit(-180.0) + ((F.col("n_nationkey") * 77777) % 360000) / F.lit(1000.0)).alias("qlon"),
        (F.lit(-90.0) + ((F.col("n_nationkey") * 33333) % 180000) / F.lit(1000.0)).alias("qlat"),
    )


def knn_classify(
    spark: SparkSession,
    points: DataFrame,
    queries: DataFrame,
    labels: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Majority-vote kNN classification: each query point takes the most
    common label among its k nearest neighbors (ties break to the
    lexicographically smallest label — deterministic on any cluster).
    The geo use: predict a region's dominant language from the nearest
    geotagged pages.

    Scale shape: rides knn_join_bulk's certified ring-expansion
    sort-merge path (no cross join, no driver loop), then ONE label
    join + per-query vote aggregate; the vote table is k rows per query
    — the window input is bounded by k x |queries|."""
    nn = knn_join_bulk(spark, points, queries, k=k)
    votes = (
        nn.join(labels, "doc_id")
        .groupBy("q_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", "label", "votes")
    )


def _cell_counts(points: DataFrame, cell: float, name: str) -> DataFrame:
    """(cy, cx, <name>): the point count of every occupied
    ``cell``-degree grid cell — one map-side-combinable aggregate, at
    most (180 / cell) x (360 / cell) rows whatever the corpus size."""
    return (
        points.select(
            F.floor((F.col("lat") + 90.0) / cell).cast("long").alias("cy"),
            F.floor((F.col("lon") + 180.0) / cell).cast("long").alias("cx"),
        )
        .groupBy("cy", "cx")
        .agg(F.count("*").alias(name))
    )


def _queen_scatter(
    cells: DataFrame, payload: str, name: str, with_self: bool = False
) -> DataFrame:
    """(cy2, cx2, <name>): every (cy, cx) row sends the SQL expression
    ``payload`` to its 8 queen neighbours, and to itself when
    ``with_self`` — a constant x8 (x9) explode of a cell table, so a
    neighbour statistic is one aggregate or equi-join on (cy2, cx2),
    never a self-join on ranges.  Targets off the grid are not dropped:
    they match no occupied cell."""
    msgs = ", ".join(
        f"named_struct('cy2', cy + {dy}, 'cx2', cx + {dx}, '{name}', {payload})"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if with_self or (dy, dx) != (0, 0)
    )
    return cells.select(F.explode(F.expr(f"array({msgs})")).alias("m")).select("m.*")


def point_density(points: DataFrame) -> DataFrame:
    """Smoothed point-density surface (heatmap) on the 1-degree grid:
    per-cell point counts convolved with the 3x3 binomial kernel
    [[1,2,1],[2,4,2],[1,2,1]] — the classic integer small-support
    Gaussian (KDE) approximation, exact by construction.

    No reference analog (north-rule addition: density surfaces are the
    standard first look at any geotagged web corpus).

    Scale shape: the kernel convolves the AGGREGATED cell counts, never
    the points — one map-side-combinable groupBy over the points, then
    a constant x9 scatter of the (tiny, <= 64,800-row) cell table and a
    second cell-keyed agg.  Shuffle volume ~ points-agg + 9 x n_cells;
    there is no point-level self-join at any scale.  Output cells are
    those receiving any kernel mass (sparse world stays sparse)."""
    cells = _cell_counts(points, 1.0, "n")
    msgs = ", ".join(
        f"named_struct('cy2', cy + {dy}, 'cx2', cx + {dx}, "
        f"'wn', n * {(2 - abs(dy)) * (2 - abs(dx))})"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
    )
    return (
        cells.select(F.explode(F.expr(f"array({msgs})")).alias("m"))
        .select("m.*")
        .where("cy2 >= 0 AND cy2 < 180 AND cx2 >= 0 AND cx2 < 360")
        .groupBy("cy2", "cx2")
        .agg(F.sum("wn").alias("density"))
        .select(
            F.col("cy2").alias("cy"), F.col("cx2").alias("cx"), "density"
        )
    )


def moran_i(points: DataFrame, cell: float = 10.0) -> DataFrame:
    """Global Moran's I spatial autocorrelation of point counts on the
    occupied ``cell``-degree grid cells, queen (8-neighbor) adjacency,
    binary weights, no meridian wrap (consistent with every grid
    operator here): I = (n / W) * sum_ij z_i z_j / sum_i z_i^2.
    Default 10 degrees: at 1 degree a sparse corpus leaves almost no
    adjacent occupied pairs and the statistic degenerates (the sf0.01
    fixture yields exactly TWO ordered pairs, both hot-cell/singleton,
    which collapses I to -1 algebraically — pinned by the unit test).

    Exactness: with S = sum of counts, n*z_i = n*x_i - S is an INTEGER,
    and the n^2 factors cancel, so I = (n * num) / (W * den) with num =
    sum_adjacent (n x_i - S)(n x_j - S) and den = sum (n x_i - S)^2
    both exact decimal(38,0) sums — the only floats are the final
    int->double casts and one division, IEEE-identical across engines
    (the zonal_var precedent).

    No reference analog (north-rule addition: hot-spot structure of a
    geotagged web corpus).  Scale shape: one map-side-combinable agg
    points -> cells (<= 64,800 rows forever), then a broadcast
    self-join of the cell table via a constant x8 scatter — shuffle
    volume ~ the points agg; nothing point-level ever joins."""
    dec = "decimal(38,0)"
    cells = _cell_counts(points, cell, "x")
    st = cells.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    z = (
        cells.crossJoin(F.broadcast(st))
        .select(
            "cy",
            "cx",
            "n",
            (F.col("x").cast(dec) * F.col("n") - F.col("s")).alias("z"),
        )
        .cache()
    )
    prs = _queen_scatter(z, "z", "za").join(
        F.broadcast(z.select(F.col("cy").alias("cy2"), F.col("cx").alias("cx2"), F.col("z").alias("zb"))),
        ["cy2", "cx2"],
    ).agg(
        F.count("*").alias("w"),
        F.sum((F.col("za") * F.col("zb")).cast(dec)).alias("num"),
    )
    den = z.agg(F.sum((F.col("z") * F.col("z")).cast(dec)).alias("den"))
    nrow = z.select("n").limit(1)
    return (
        nrow.crossJoin(prs)
        .crossJoin(den)
        .select(
            F.col("n").alias("n_cells"),
            F.col("w").alias("w_pairs"),
            (
                F.col("n").cast("double")
                * F.col("num").cast("double")
                / (F.col("w").cast("double") * F.col("den").cast("double"))
            ).alias("moran_i"),
        )
    )


def local_moran(points: DataFrame, cell: float = 10.0) -> DataFrame:
    """LISA — Anselin's local Moran's I per occupied ``cell``-degree
    grid cell (queen adjacency, binary weights): the hot/cold-spot map
    whose global average is :func:`moran_i`.

    Everything emitted is EXACT integer algebra on nz_i = n*x_i - S
    (the n-scaled deviation): ``lag_nz`` = sum of adjacent nz_j,
    ``local_num`` = nz_i * lag_nz (decimal-38), ``n_nbrs`` = live
    neighbor count.  local_num > 0 with x_i above the mean flags a
    HIGH-HIGH cluster cell, < 0 an outlier — the classifier thresholds
    are the caller's, the engine stays exact.  Scale shape: identical
    to moran_i (one points agg, then a broadcast x8 scatter of the
    <= 64,800-row cell table)."""
    dec = "decimal(38,0)"
    cells = _cell_counts(points, cell, "x")
    st = cells.agg(F.count("*").alias("n"), F.sum("x").alias("s"))
    z = cells.crossJoin(F.broadcast(st)).select(
        "cy",
        "cx",
        (F.col("x").cast(dec) * F.col("n") - F.col("s")).alias("nz"),
    )
    lag = (
        _queen_scatter(z, "nz", "nzn")
        .groupBy(F.col("cy2").alias("cy"), F.col("cx2").alias("cx"))
        .agg(F.sum("nzn").alias("lag_nz"), F.count("*").alias("n_nbrs"))
    )
    return z.join(F.broadcast(lag), ["cy", "cx"]).select(
        "cy",
        "cx",
        F.col("nz").cast("long").alias("nz"),
        F.col("lag_nz").cast("long").alias("lag_nz"),
        "n_nbrs",
        # the product is computed on the exact decimals, then emitted as
        # a double (int->double conversion is IEEE-identical across
        # engines — the moran_i / zonal_var precedent)
        (F.col("nz") * F.col("lag_nz")).cast(dec).cast("double").alias("local_num"),
    )


def gi_star(points: DataFrame, cell: float = 10.0) -> DataFrame:
    """Getis-Ord Gi* hot-spot statistic per occupied ``cell``-degree
    grid cell (queen adjacency INCLUDING self — the star variant),
    binary weights, x = point count per cell.

    Exactness contract: ``x``, ``w_nbrs`` (neighborhood size incl.
    self), ``sum_nbr`` (neighborhood count sum) and the n-scaled
    numerator ``n*sum_nbr - S*w`` are exact integers; the z-score is
    then ONE double expression over those integers —
    num / (sqrt(n*sum_x2 - S^2) * sqrt(w*(n-w)/(n-1))) — and sqrt is
    IEEE correctly rounded, so both engines emit identical bits (the
    moran_i / zonal_var precedent extended by sqrt).  Degenerate
    neighborhoods (w == n, or n == 1, or a constant field) yield NULL
    in both engines rather than an engine-specific inf/NaN.

    No reference analog (north-rule addition: the standard hot-spot
    screen over a geotagged web corpus).  Scale shape: identical to
    local_moran — one map-side-combinable points agg (<= 64,800 rows
    forever), a constant x9 scatter of that cell table, broadcast
    joins only."""
    dec = "decimal(38,0)"
    cells = _cell_counts(points, cell, "x")
    st = cells.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).alias("s2"),
    )
    nbr = (
        _queen_scatter(cells, "x", "xn", with_self=True)
        .groupBy(F.col("cy2").alias("cy"), F.col("cx2").alias("cx"))
        .agg(F.sum("xn").alias("sum_nbr"), F.count("*").alias("w"))
    )
    j = cells.join(F.broadcast(nbr), ["cy", "cx"]).crossJoin(F.broadcast(st))
    num = (F.col("sum_nbr").cast(dec) * F.col("n") - F.col("s") * F.col("w")).cast(
        dec
    )
    a_term = (F.col("s2") - (F.col("s").cast(dec) * F.col("s"))
              + F.col("s2") * (F.col("n") - 1)).cast(dec)
    # a_term == n*s2 - s^2, written to stay inside decimal(38,0) terms
    z = (
        num.cast("double")
        / (
            F.sqrt(a_term.cast("double"))
            * F.sqrt(
                (F.col("w").cast(dec) * (F.col("n") - F.col("w"))).cast("double")
                / (F.col("n") - 1).cast("double")
            )
        )
    )
    return j.select(
        "cy",
        "cx",
        "x",
        F.col("w").alias("w_nbrs"),
        "sum_nbr",
        num.cast("double").alias("gi_num"),
        F.when(
            (F.col("n") > 1) & (F.col("w") < F.col("n")) & (a_term > 0), z
        ).alias("gi_z"),
    )


def idw_interp(
    points: DataFrame,
    pois: DataFrame,
    radius: float = 12.0,
    cell: float = CELL,
    value_col: str = "v",
) -> DataFrame:
    """Distance-decay (IDW-style) interpolation at each POI site from
    the points within ``radius`` degrees: (q_id, n_pts, sum_w,
    idw_value) with weight = R^2 - d^2 (linear decay in squared
    distance, zero at the rim) over the integer MILLI-DEGREE lattice.

    The kernel choice is the exactness contract: classic 1/d^2 weights
    make both sums irrational, so their order-dependent float
    accumulation could never value-hash across engines.  R^2 - d^2 on
    milli-degree integers keeps numerator and denominator EXACT
    decimal(38,0) sums in any aggregation order (the zonal_var
    precedent); the interpolated value is then one double division.
    Coordinates snap to the lattice with round((coord+offset)*1000) —
    the fixture's points are milli-degree-born, so the snap is
    lossless, and both engines round the same doubles.

    Scale shape: the distance_join pattern — POIs replicate x9 to
    their cell neighborhood (requires radius <= cell), points compute
    ONE cell id, candidates come from a broadcast equi-join, and the
    exact integer rim test makes cell over-coverage invisible; one
    map-side-combinable aggregate per POI.  No cross join, no driver
    loop.  No reference analog (north-rule addition: point-sample ->
    site interpolation over the geotagged corpus)."""
    if radius > cell:
        raise ValueError(f"idw_interp requires radius <= cell ({radius} > {cell})")
    if cell <= 0 or 360.0 % cell != 0.0 or 180.0 % cell != 0.0:
        raise ValueError(f"cell size {cell} must divide 360 and 180 evenly")
    ny, nx = int(round(180.0 / cell)), int(round(360.0 / cell))
    rmd = int(round(radius * 1000))
    r2 = rmd * rmd
    dec = "decimal(38,0)"
    p = pois.select(
        "q_id",
        F.round((F.col("qlon") + 180.0) * 1000.0).cast("long").alias("qmx"),
        F.round((F.col("qlat") + 90.0) * 1000.0).cast("long").alias("qmy"),
        F.floor((F.col("qlat") + 90.0) / cell).alias("cy"),
        F.floor((F.col("qlon") + 180.0) / cell).alias("cx"),
    )
    p = p.select(
        "q_id",
        "qmx",
        "qmy",
        F.explode(
            F.sequence(
                F.greatest(F.col("cy") - 1, F.lit(0)),
                F.least(F.col("cy") + 1, F.lit(ny - 1)),
            )
        ).alias("ncy"),
        "cx",
    ).select(
        "q_id",
        "qmx",
        "qmy",
        "ncy",
        F.explode(
            F.sequence(
                F.greatest(F.col("cx") - 1, F.lit(0)),
                F.least(F.col("cx") + 1, F.lit(nx - 1)),
            )
        ).alias("ncx"),
    )
    cand = p.select(
        "q_id",
        "qmx",
        "qmy",
        (F.col("ncy") * nx + F.col("ncx")).cast("long").alias("cell"),
    )
    pts = points.select(
        F.col(value_col).alias("__v"),
        F.round((F.col("lon") + 180.0) * 1000.0).cast("long").alias("mx"),
        F.round((F.col("lat") + 90.0) * 1000.0).cast("long").alias("my"),
        _point_cell_col(cell, ny, nx).alias("cell"),
    )
    dm2 = (F.col("mx") - F.col("qmx")) * (F.col("mx") - F.col("qmx")) + (
        F.col("my") - F.col("qmy")
    ) * (F.col("my") - F.col("qmy"))
    w = (F.lit(r2) - F.col("dm2")).cast(dec)
    return (
        pts.join(F.broadcast(cand), "cell")
        .select("q_id", "__v", dm2.alias("dm2"))
        .filter(F.col("dm2") <= r2)
        .groupBy("q_id")
        .agg(
            F.count("*").alias("n_pts"),
            F.sum(w).cast(dec).alias("__sw"),
            F.sum((F.col("__v").cast(dec) * w)).cast(dec).alias("__swv"),
        )
        .select(
            "q_id",
            "n_pts",
            F.col("__sw").cast("double").alias("sum_w"),
            (
                F.col("__swv").cast("double")
                / F.nullif(F.col("__sw").cast("double"), F.lit(0.0))
            ).alias("idw_value"),
        )
    )


def grid_dbscan(
    points: DataFrame, cell: float = 10.0, minpts: int = 2, max_rounds: int = 128
) -> DataFrame:
    """Grid-DBSCAN density clustering of the point corpus: cells with
    >= ``minpts`` points are CORE; queen-adjacent core cells merge into
    one cluster (labeled by the component's minimum linear cell id);
    non-core cells adjacent to a core cell join its cluster (border
    semantics); the rest are noise (cluster -1 — a NULL would hash as
    engine-specific NaN).  The grid variant of
    DBSCAN every web-scale pipeline actually runs — the eps-ball pair
    join is replaced by cell adjacency, so no point-level self-join
    exists at any scale.

    Scale shape: one map-side-combinable points agg (<= 64,800 rows
    forever), then min-label propagation over the CELL graph — a x8
    scatter + broadcast join per round, rounds bounded by the occupied
    grid's diameter, one emptiness boolean to the driver per round (the
    regions/knn certification-loop shape).  Exact integers; label = min
    reachable cell id, pinned by the oracle's recursive reachability."""
    nx = int(round(360.0 / cell))
    cells = _cell_counts(points, cell, "npts")
    core = cells.filter(F.col("npts") >= minpts).select(
        "cy", "cx", (F.col("cy") * nx + F.col("cx")).alias("lbl")
    )
    cur = core.localCheckpoint()
    for _ in range(max_rounds):
        nbr = (
            _queen_scatter(cur, "lbl", "l")
            .groupBy(F.col("cy2").alias("cy"), F.col("cx2").alias("cx"))
            .agg(F.min("l").alias("nb_min"))
        )
        nxt = (
            cur.join(F.broadcast(nbr), ["cy", "cx"], "left")
            .select(
                "cy",
                "cx",
                F.least(
                    F.col("lbl"), F.coalesce("nb_min", F.col("lbl"))
                ).alias("lbl2"),
                "lbl",
            )
            .localCheckpoint()
        )
        if nxt.filter(F.col("lbl2") != F.col("lbl")).isEmpty():
            break
        cur = nxt.select("cy", "cx", F.col("lbl2").alias("lbl"))
    else:
        raise RuntimeError(f"label propagation did not converge in {max_rounds}")
    lbl = cur.select("cy", "cx", F.col("lbl").alias("core_cluster"))
    # border attachment: min cluster among queen-adjacent core cells
    badj = (
        _queen_scatter(lbl, "core_cluster", "l")
        .groupBy(F.col("cy2").alias("cy"), F.col("cx2").alias("cx"))
        .agg(F.min("l").alias("border_cluster"))
    )
    return (
        cells.join(F.broadcast(lbl), ["cy", "cx"], "left")
        .join(F.broadcast(badj), ["cy", "cx"], "left")
        .select(
            "cy",
            "cx",
            "npts",
            (F.col("npts") >= minpts).alias("is_core"),
            F.coalesce(
                "core_cluster", "border_cluster", F.lit(-1).cast("long")
            ).alias("cluster"),
        )
    )


RIPLEY_RADII = (2000, 6000, 12000)  # milli-degrees; all <= RIPLEY_CELL
RIPLEY_CELL = 12.0  # degrees; divides 360 and 180 evenly


def ripley_k(points: DataFrame, radii=RIPLEY_RADII, cell: float = RIPLEY_CELL) -> DataFrame:
    """Ripley's K point-pattern statistic: for each radius r the count
    of ordered point pairs (i != j) within distance r, plus the K
    estimate ``k_hat = A * n_pairs / (n * (n-1))`` (planar, no edge
    correction) — the clustered-vs-dispersed screen run on the
    geotagged corpus before any density modeling (the hot-cell spike is
    exactly what K detects).

    Exactness: distances are squared integer MILLI-DEGREE lattice
    deltas (the idw_interp contract) so every pair test and count is
    exact; k_hat is one double division of exact integers.

    Scale shape: the distance_join pattern turned self-join — ONE side
    replicates x9 to its cell neighborhood (requires max(r) <= cell),
    the other computes one clamped cell id, candidates come from the
    cell equi-join, and per-radius counts are conditional sums inside
    ONE map-side-combinable aggregate (unpivoted to rows at the end —
    constant-size, len(radii) rows).  The corpus count rides the plan
    as a broadcast one-row aggregate, no driver action.  Never a cross
    join: worst case is the hot cell's own 3x3 neighborhood."""
    rmax = max(radii)
    if rmax > cell * 1000:
        raise ValueError(f"max radius {rmax} milli-deg must be <= cell {cell} deg")
    ny, nx = int(round(180.0 / cell)), int(round(360.0 / cell))
    mx = F.round((F.col("lon") + 180.0) * 1000.0).cast("long")
    my = F.round((F.col("lat") + 90.0) * 1000.0).cast("long")
    base = points.select(
        F.col("doc_id").alias("id"),
        mx.alias("mx"),
        my.alias("my"),
        _point_cell_col(cell, ny, nx).alias("cell"),
        F.floor((F.col("lat") + 90.0) / cell).alias("cy"),
        F.floor((F.col("lon") + 180.0) / cell).alias("cx"),
    )
    rep = (
        base.select(
            F.col("id").alias("jid"),
            F.col("mx").alias("jmx"),
            F.col("my").alias("jmy"),
            F.explode(
                F.sequence(
                    F.greatest(F.col("cy") - 1, F.lit(0)),
                    F.least(F.col("cy") + 1, F.lit(ny - 1)),
                )
            ).alias("ncy"),
            "cx",
        )
        .select(
            "jid",
            "jmx",
            "jmy",
            "ncy",
            F.explode(
                F.sequence(
                    F.greatest(F.col("cx") - 1, F.lit(0)),
                    F.least(F.col("cx") + 1, F.lit(nx - 1)),
                )
            ).alias("ncx"),
        )
        .select(
            "jid", "jmx", "jmy", (F.col("ncy") * nx + F.col("ncx")).cast("long").alias("cell")
        )
    )
    cand = base.select("id", "mx", "my", "cell").join(rep, "cell").filter(
        F.col("id") != F.col("jid")
    )
    d2 = (F.col("mx") - F.col("jmx")) * (F.col("mx") - F.col("jmx")) + (
        F.col("my") - F.col("jmy")
    ) * (F.col("my") - F.col("jmy"))
    sums = cand.agg(
        *[
            F.sum(F.when(d2 <= r * r, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"c{r}")
            for r in radii
        ]
    )
    n = points.agg(F.count("*").alias("n_pts"))
    stacked = sums.crossJoin(F.broadcast(n)).select(
        F.expr(
            "stack({}, {}) AS (r_milli, n_pairs)".format(
                len(radii), ", ".join(f"CAST({r} AS BIGINT), c{r}" for r in radii)
            )
        ),
        "n_pts",
    )
    area = 360000.0 * 180000.0
    return stacked.select(
        "r_milli",
        "n_pairs",
        (
            F.col("n_pairs") * F.lit(area) / (F.col("n_pts") * (F.col("n_pts") - 1))
        ).alias("k_hat"),
    )


def geary_c(points: DataFrame, cell: float = 10.0) -> DataFrame:
    """Global GEARY'S C spatial autocorrelation of point counts on the
    occupied ``cell``-degree grid (queen adjacency, binary weights) —
    Moran's I's difference-based sibling, more sensitive to local
    deviations: C = (n-1) * sum_ij (x_i - x_j)^2 / (2W * sum(x_i - xbar)^2).

    Exactness: the numerator needs NO mean (differences cancel it), and
    n * sum(x_i - xbar)^2 = n*sum(x^2) - S^2 is an exact integer, so
    C = n*(n-1)*num / (2W * (n*sum_x2 - S^2)) is one double division of
    exact decimal(38,0) products (the moran_i contract).

    Scale shape: identical to moran_i — one map-side-combinable
    points->cells agg (<= 64,800 rows forever), a broadcast x8 scatter
    self-join of the CELL table, three one-row aggregates riding the
    plan; nothing point-level ever joins."""
    dec = "decimal(38,0)"
    cells = _cell_counts(points, cell, "x")
    prs = _queen_scatter(cells, "x", "xa").join(
        F.broadcast(
            cells.select(
                F.col("cy").alias("cy2"), F.col("cx").alias("cx2"), F.col("x").alias("xb")
            )
        ),
        ["cy2", "cx2"],
    ).agg(
        F.count("*").alias("w"),
        F.sum(
            ((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).cast(dec)
        ).alias("num"),
    )
    st = cells.agg(
        F.count("*").alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).alias("sx2"),
    )
    return st.crossJoin(prs).select(
        F.col("n").alias("n_cells"),
        F.col("w").alias("w_pairs"),
        (
            (F.col("n").cast("double") * (F.col("n") - 1).cast("double"))
            * F.col("num").cast("double")
            / (
                (F.lit(2.0) * F.col("w").cast("double"))
                * (F.col("n").cast(dec) * F.col("sx2") - F.col("s") * F.col("s")).cast(
                    "double"
                )
            )
        ).alias("geary_c"),
    )


SEMIVAR_LAGS = (2000, 6000, 12000)  # milli-degree lag-bin upper edges


def semivariogram(
    points: DataFrame, lags=SEMIVAR_LAGS, cell: float = RIPLEY_CELL
) -> DataFrame:
    """Empirical SEMIVARIOGRAM of the point attribute v = doc_id % 997
    (the idw_interp value convention): for each distance-lag bin
    (lo, hi] the ordered-pair count and gamma = sum((v_i - v_j)^2) /
    (2 * n_pairs) — the spatial-continuity curve kriging starts from.

    Exactness: squared milli-degree distances pick the bin and squared
    integer value differences sum exactly; gamma is one double division.

    Scale shape: the ripley_k candidate machinery (x9 cell replication
    of one side, never a cross join) with per-bin conditional sums in
    ONE map-side-combinable aggregate; constant-size output."""
    rmax = max(lags)
    if rmax > cell * 1000:
        raise ValueError(f"max lag {rmax} milli-deg must be <= cell {cell} deg")
    ny, nx = int(round(180.0 / cell)), int(round(360.0 / cell))
    mx = F.round((F.col("lon") + 180.0) * 1000.0).cast("long")
    my = F.round((F.col("lat") + 90.0) * 1000.0).cast("long")
    v = (F.col("doc_id") % 997).cast("long")
    base = points.select(
        F.col("doc_id").alias("id"),
        v.alias("v"),
        mx.alias("mx"),
        my.alias("my"),
        _point_cell_col(cell, ny, nx).alias("cell"),
        F.floor((F.col("lat") + 90.0) / cell).alias("cy"),
        F.floor((F.col("lon") + 180.0) / cell).alias("cx"),
    )
    rep = (
        base.select(
            F.col("id").alias("jid"),
            F.col("v").alias("jv"),
            F.col("mx").alias("jmx"),
            F.col("my").alias("jmy"),
            F.explode(
                F.sequence(
                    F.greatest(F.col("cy") - 1, F.lit(0)),
                    F.least(F.col("cy") + 1, F.lit(ny - 1)),
                )
            ).alias("ncy"),
            "cx",
        )
        .select(
            "jid",
            "jv",
            "jmx",
            "jmy",
            "ncy",
            F.explode(
                F.sequence(
                    F.greatest(F.col("cx") - 1, F.lit(0)),
                    F.least(F.col("cx") + 1, F.lit(nx - 1)),
                )
            ).alias("ncx"),
        )
        .select(
            "jid",
            "jv",
            "jmx",
            "jmy",
            (F.col("ncy") * nx + F.col("ncx")).cast("long").alias("cell"),
        )
    )
    cand = base.select("id", "v", "mx", "my", "cell").join(rep, "cell").filter(
        F.col("id") != F.col("jid")
    )
    d2 = (F.col("mx") - F.col("jmx")) * (F.col("mx") - F.col("jmx")) + (
        F.col("my") - F.col("jmy")
    ) * (F.col("my") - F.col("jmy"))
    dv2 = ((F.col("v") - F.col("jv")) * (F.col("v") - F.col("jv"))).cast(
        "decimal(38,0)"
    )
    bounds = [0] + list(lags)
    aggs = []
    for lo, hi in zip(bounds, bounds[1:]):
        inbin = (d2 > lo * lo) & (d2 <= hi * hi)
        aggs.append(
            F.sum(F.when(inbin, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"c{hi}")
        )
        aggs.append(
            F.sum(F.when(inbin, dv2).otherwise(F.lit(0).cast("decimal(38,0)")))
            .alias(f"s{hi}")
        )
    sums = cand.agg(*aggs)
    stacked = sums.select(
        F.expr(
            "stack({}, {}) AS (lag_milli, n_pairs, ssd)".format(
                len(lags),
                ", ".join(
                    f"CAST({hi} AS BIGINT), c{hi}, s{hi}" for hi in lags
                ),
            )
        )
    )
    gamma = F.when(
        F.col("n_pairs") > 0,
        F.col("ssd").cast("double")
        / (F.lit(2.0) * F.col("n_pairs").cast("double")),
    ).otherwise(F.lit(0.0))
    return stacked.select("lag_milli", "n_pairs", gamma.alias("gamma"))


COLOC_CELL = 9000  # milli-degree lattice -> 20 x 40 co-location grid
COLOC_CAP = 15  # cells with more distinct users than this are hub cells


def colocation_pairs(
    events: DataFrame,
    cell: int = COLOC_CELL,
    min_shared: int = 10,
    cell_cap: int = COLOC_CAP,
) -> DataFrame:
    """CO-LOCATION contact graph: pairs of users whose trajectories
    visited at least ``min_shared`` common grid cells — the
    spatial-affinity join behind contact tracing, account-linking and
    bot-ring detection over geotagged page events (no reference analog;
    the reference is single-raster batch).  Positions snap to the same
    integer milli-degree lattice trajectory_stats uses.

    Hub cells — more than ``cell_cap`` distinct visitors — are dropped
    BEFORE pairing (the "everyone visits the city center" cell carries
    no affinity signal and is the quadratic blow-up at scale); the cap
    is mirrored exactly in the DuckDB oracle, same contract as the
    dedup BUCKET_CAP family.

    Scale shape: one distinct (map-side-combinable, keyed by user+cell),
    a grid-bounded cell-count agg whose keep-list BROADCASTS (the cell
    grid is fixed-size regardless of data), then a per-cell self-join
    that is quadratic only WITHIN a cell and bounded by cell_cap^2
    pairs per cell, then a map-side-combinable pair count.  No
    all-pairs stage anywhere."""
    from scidbgeo_spark.operators.temporal import _traj_cells

    uc = _traj_cells(events, cell).select("user_id", "cy", "cx").distinct()
    kept_cells = (
        uc.groupBy("cy", "cx")
        .agg(F.count("*").alias("n_users"))
        .filter(F.col("n_users") <= cell_cap)
        .select("cy", "cx")
    )
    kept = uc.join(F.broadcast(kept_cells), ["cy", "cx"])
    a = kept.select("cy", "cx", F.col("user_id").alias("user_a"))
    b = kept.select("cy", "cx", F.col("user_id").alias("user_b"))
    return (
        a.join(b, ["cy", "cx"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


GEO_KM_PER_DEG = 111.32  # meridian km per degree — shared with the oracle


def geo_row_scales(cell: float = CELL) -> list[float]:
    """Cosine LUT per latitude GRID ROW (band == row, midpoint cosine),
    precomputed ONCE driver-side with Python's math.cos.  Both engines
    consume the SAME literal doubles, so no per-row engine trig exists
    anywhere in the plan — the float compare stays bit-exact AND the
    100 TB plan never pays a transcendental per row."""
    import math

    ny = int(round(180.0 / cell))
    return [
        math.cos(math.radians(-90.0 + cell * (r + 0.5))) for r in range(ny)
    ]


def distance_join_geo(
    points: DataFrame, pois: DataFrame, radius_km: float, cell: float = CELL
) -> DataFrame:
    """GEODESIC-corrected range join: like :func:`distance_join` but in
    kilometres, with the longitude degree shrinking by the latitude
    cosine — the correct "pages within R km of a POI" join away from
    the equator, where the flat-plane version over-matches by up to 8x
    at 82 degrees.  Metric (documented, oracle-identical): banded
    equirectangular —

        d_km^2 = ((lat-qlat)*111.32)^2
               + ((lon-qlon)*111.32*scale[point_row])^2

    with scale = midpoint cosine of the point's 15-degree grid row from
    the shared LUT.  Flat lon edges (no antimeridian wrap), same family
    contract as distance_join/knn.

    Scale shape: the POI side replicates to a LATITUDE-ADAPTIVE cell
    fan — constant fan_y rows, and per candidate row a fan_x read from
    a literal per-row array (wider near the poles where cells are
    km-narrower, +-1 cell at the equator) — then ONE equi-join on the
    cell id and the exact metric filter.  Fan bounds are derived
    row-by-row in the driver from the SAME LUT, so candidate coverage
    is provably a superset: a point k rows away is at least
    (k-1)*cell*111.32 km away in latitude alone."""
    if cell <= 0 or 360.0 % cell != 0.0 or 180.0 % cell != 0.0:
        raise ValueError(f"cell size {cell} must divide 360 and 180 evenly")
    ny, nx = int(round(180.0 / cell)), int(round(360.0 / cell))
    # fold the km-per-degree constant INTO the LUT driver-side: each
    # engine then performs exactly ONE multiply per term — a triple
    # product lets DuckDB's optimizer reassociate the constant through
    # the array extract and drift the last ulp off Spark's left-assoc
    # evaluation (observed: 2-ulp dist_km2 mismatches)
    lonkm = [GEO_KM_PER_DEG * s for s in geo_row_scales(cell)]
    deg_per_cell_km = GEO_KM_PER_DEG * cell
    fan_y = int(radius_km / deg_per_cell_km) + 1
    fan_x = [min(int(radius_km / (cell * v)) + 1, nx) for v in lonkm]
    fanx_lit = F.array(*[F.lit(v) for v in fan_x])
    lonkm_lit = F.array(*[F.lit(v) for v in lonkm])

    p = pois.select(
        "q_id",
        "qlon",
        "qlat",
        F.least(F.floor((F.col("qlat") + 90.0) / cell), F.lit(ny - 1)).alias("cy"),
        F.least(F.floor((F.col("qlon") + 180.0) / cell), F.lit(nx - 1)).alias("cx"),
    )
    p = p.select(
        "q_id",
        "qlon",
        "qlat",
        "cx",
        F.explode(
            F.sequence(
                F.greatest(F.col("cy") - fan_y, F.lit(0)),
                F.least(F.col("cy") + fan_y, F.lit(ny - 1)),
            )
        ).alias("ncy"),
    )
    fan = F.element_at(fanx_lit, (F.col("ncy") + 1).cast("int"))
    cand = p.select(
        "q_id",
        "qlon",
        "qlat",
        "ncy",
        F.explode(
            F.sequence(
                F.greatest(F.col("cx") - fan, F.lit(0)),
                F.least(F.col("cx") + fan, F.lit(nx - 1)),
            )
        ).alias("ncx"),
    ).select(
        "q_id",
        "qlon",
        "qlat",
        (F.col("ncy") * nx + F.col("ncx")).cast("long").alias("cell"),
    )

    py = F.least(F.floor((F.col("lat") + 90.0) / cell), F.lit(ny - 1))
    px = F.least(F.floor((F.col("lon") + 180.0) / cell), F.lit(nx - 1))
    pts = points.withColumn("cell", (py * nx + px).cast("long"))
    lonkm_pt = F.element_at(
        lonkm_lit,
        (F.least(F.floor((F.col("lat") + 90.0) / cell), F.lit(ny - 1)) + 1).cast(
            "int"
        ),
    )
    dlat_km = (F.col("lat") - F.col("qlat")) * GEO_KM_PER_DEG
    dlon_km = (F.col("lon") - F.col("qlon")) * lonkm_pt
    d2 = dlat_km * dlat_km + dlon_km * dlon_km
    return (
        pts.join(F.broadcast(cand), "cell")
        .filter(d2 <= radius_km * radius_km)
        .select("doc_id", "q_id", d2.alias("dist_km2"))
    )


RECT_CELL = 10_000  # milli-degree grid for the rect-overlap join
RECT_MAX_EXTENT = 20_000  # rect edge cap (milli-deg): bounds the cell fan


def rect_join(a: DataFrame, b: DataFrame, cell: int = RECT_CELL) -> DataFrame:
    """RECTANGLE-OVERLAP JOIN with RESPONSIBLE-CELL deduplication — the
    R-tree-style spatial join (bbox intersection of two rect sets:
    viewport x ad-region, tile x AOI) as pure relational algebra.
    Inputs: (a_id|b_id, x0, y0, x1, y1) integer milli-degrees with
    x0 <= x1, y0 <= y1 and edges capped at RECT_MAX_EXTENT (asserted by
    the fan bound).  Output one row per OVERLAPPING pair, exactly once.

    The classic partition-join problem is DUPLICATES: two rects sharing
    k grid cells would report the pair k times, and a global distinct
    is a second full shuffle.  The standard fix (the reporting-cell /
    reference-point rule of the partition-based spatial-join
    literature) assigns each pair to the single cell containing the
    overlap region's min corner (max(ax0,bx0), max(ay0,by0)) — each
    side emits its covered cells (fan bounded by extent/cell + 1 per
    axis), the equi-join meets in every shared cell, and the filter
    keeps the pair ONLY in its responsible cell: exactly-once output
    with ZERO dedup shuffle.

    Scale shape: constant-fan explodes, ONE equi-join on the cell id,
    column-algebra filters; skewed hot cells salt like any equi-join
    (AQE skew-join handles them)."""

    def cover(df, pref):
        return df.select(
            *df.columns,
            F.explode(
                F.sequence(
                    F.expr(f"{pref}y0 DIV {cell}"), F.expr(f"{pref}y1 DIV {cell}")
                )
            ).alias("cy"),
        ).select(
            *df.columns,
            "cy",
            F.explode(
                F.sequence(
                    F.expr(f"{pref}x0 DIV {cell}"), F.expr(f"{pref}x1 DIV {cell}")
                )
            ).alias("cx"),
        )

    ca = cover(a, "a")
    cb = cover(b, "b")
    j = ca.join(cb, ["cy", "cx"])
    overlap = (
        (F.col("ax0") <= F.col("bx1"))
        & (F.col("bx0") <= F.col("ax1"))
        & (F.col("ay0") <= F.col("by1"))
        & (F.col("by0") <= F.col("ay1"))
    )
    responsible = (
        (F.expr(f"greatest(ay0, by0) DIV {cell}") == F.col("cy"))
        & (F.expr(f"greatest(ax0, bx0) DIV {cell}") == F.col("cx"))
    )
    return j.filter(overlap & responsible).select("a_id", "b_id")
