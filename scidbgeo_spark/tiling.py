"""COO <-> tile conversion: the Spark analog of SciDB's chunked storage.

The reference redimensions a 1-D COO load array into a chunked 2-D array
(``insert(redimension(...))`` — SciDBParallel.py:346-348,
GDALtoSciDB_multiprocessing.py:504-513).  Here a "chunk" is one DataFrame
row: ``(tile_y, tile_x, y0, x0, h, w, px)`` with ``px`` the row-major
flattened payload.  Both directions stay JVM-side (whole-stage codegen):

- pack: groupBy tile keys + ``array_sort(collect_list(struct(y,x,v)))`` —
  lexicographic struct sort == row-major order for dense tiles.
- unpack: ``posexplode(px)`` + integer div/mod coordinate math.

The only shuffle is the pack's groupBy on the tile keys — exactly the
shuffle SciDB's redimension performs cluster-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TILE_KEYS = ["tile_y", "tile_x"]


def with_tile_keys(coo: DataFrame, chunk: int) -> DataFrame:
    """Add (tile_y, tile_x) chunk coordinates to a COO frame."""
    return coo.withColumn(
        "tile_y", F.expr(f"CAST(y DIV {chunk} AS INT)")
    ).withColumn("tile_x", F.expr(f"CAST(x DIV {chunk} AS INT)"))


def pack_tiles(
    coo: DataFrame,
    chunk: int,
    height: int,
    width: int,
    value_col: str = "value",
    int_values: bool = True,
) -> DataFrame:
    """Redimension dense COO rows into one row per chunk (JVM-side).

    Semantics of ``insert(redimension(load_array, A), A)`` for a fully
    dense array (SciDBParallel.py:653-673): every (y,x) cell inside the
    tile must be present exactly once.  Edge tiles are ragged
    (h,w < chunk), matching SciDB's bounded dimensions.

    Fast path (``int_values``, requires -2^31 <= value < 2^31): each cell
    is encoded as one long ``(row_major_offset << 32) | (value + 2^31)``
    so the per-chunk ordering is a primitive-long ``array_sort`` — far
    cheaper than sorting structs at 100 TB.  Fallback sorts (y,x,v)
    structs.
    """
    t = with_tile_keys(coo, chunk)
    w_t = F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk).cast("long")
    if int_values:
        bias = 2147483648  # sign bias keeps the low 32 bits non-negative
        off = (F.col("y") % chunk) * w_t + (F.col("x") % chunk)
        enc = (
            off * F.lit(4294967296).cast("long")
            + (F.col(value_col).cast("long") + bias)
        ).alias("enc")
        g = t.select("tile_y", "tile_x", enc).groupBy(*TILE_KEYS).agg(
            F.array_sort(F.collect_list("enc")).alias("cells")
        )
        # store the payload as array<int>: the int_values contract bounds
        # every cell to int32, so the narrow type is lossless and HALVES
        # the bytes every downstream cache/shuffle/parquet moves — at
        # 100 TB the px payload dominates all storage and network
        px = F.transform(F.col("cells"), lambda e: e % 4294967296 - bias).cast(
            "array<int>"
        )
    else:
        cell = F.struct(F.col("y"), F.col("x"), F.col(value_col).alias("v"))
        g = t.groupBy(*TILE_KEYS).agg(
            F.array_sort(F.collect_list(cell)).alias("cells")
        )
        px = F.transform(F.col("cells"), lambda c: c["v"])
    y0 = (F.col("tile_y").cast("long") * chunk).alias("y0")
    x0 = (F.col("tile_x").cast("long") * chunk).alias("x0")
    return g.select(
        "tile_y",
        "tile_x",
        y0,
        x0,
        F.least(F.lit(chunk), F.lit(height) - F.col("tile_y") * chunk)
        .cast("int")
        .alias("h"),
        F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk)
        .cast("int")
        .alias("w"),
        px.alias("px"),
    )


def tiles_to_coo(tiles: DataFrame, value_name: str = "value") -> DataFrame:
    """Vectorize: explode chunk payloads back to COO rows (JVM-side).

    Inverse of :func:`pack_tiles`; used by the export path
    (``save(sort(...))`` — SciDBParallel.py:750-754) and by oracles.
    """
    e = tiles.select(
        "y0", "x0", "w", F.posexplode("px").alias("pos", value_name)
    )
    # integral payloads surface as BIGINT regardless of the narrow
    # array<int> storage type, keeping the public COO schema stable
    elem = tiles.schema["px"].dataType.elementType.simpleString()
    val = (
        F.col(value_name).cast("long").alias(value_name)
        if elem in ("tinyint", "smallint", "int", "bigint")
        else F.col(value_name)
    )
    return e.select(
        (F.col("y0") + F.expr("pos DIV w")).alias("y"),
        (F.col("x0") + (F.col("pos") % F.col("w"))).alias("x"),
        val,
    )


def pack_tiles_multi(
    coo: DataFrame,
    chunk: int,
    height: int,
    width: int,
    value_cols: list[str],
) -> DataFrame:
    """Multi-attribute redimension (reference arrayType == 2,
    SciDBParallel.py:55-83): one chunk row carries one payload array PER
    attribute (``px_<name>``), all in the same row-major cell order.  One
    struct sort per chunk orders every attribute at once — still a single
    groupBy shuffle on the tile keys."""

    def _field(name: str):
        return lambda c: c[name]

    t = with_tile_keys(coo, chunk)
    w_t = F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk).cast("long")
    off = ((F.col("y") % chunk) * w_t + (F.col("x") % chunk)).alias("off")
    cell = F.struct(off, *[F.col(c).alias(c) for c in value_cols])
    g = t.groupBy(*TILE_KEYS).agg(F.array_sort(F.collect_list(cell)).alias("cells"))
    return g.select(
        "tile_y",
        "tile_x",
        (F.col("tile_y").cast("long") * chunk).alias("y0"),
        (F.col("tile_x").cast("long") * chunk).alias("x0"),
        F.least(F.lit(chunk), F.lit(height) - F.col("tile_y") * chunk)
        .cast("int")
        .alias("h"),
        F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk)
        .cast("int")
        .alias("w"),
        *[
            F.transform(F.col("cells"), _field(c)).alias(f"px_{c}")
            for c in value_cols
        ],
    )


def tiles_multi_to_coo(tiles: DataFrame, value_cols: list[str]) -> DataFrame:
    """Vectorize a multi-attribute chunk table back to COO rows, one
    column per attribute."""
    zipped = F.arrays_zip(*[F.col(f"px_{c}").alias(c) for c in value_cols])
    e = tiles.select("y0", "x0", "w", F.posexplode(zipped).alias("pos", "cell"))
    return e.select(
        (F.col("y0") + F.expr("pos DIV w")).alias("y"),
        (F.col("x0") + (F.col("pos") % F.col("w"))).alias("x"),
        *[F.col("cell").getField(c).alias(c) for c in value_cols],
    )


def pack_tiles_3d(
    coo3: DataFrame, chunk: int, height: int, width: int, value_col: str = "value"
) -> DataFrame:
    """3-D redimension: band is a *dimension* (SciDB ``[band;y;x]`` with
    band chunk size 1 — SciDBParallel.py:188-192), so chunks are keyed by
    (band, tile_y, tile_x) — one distributed groupBy, band folded into the
    shuffle key."""
    bias = 2147483648
    t = with_tile_keys(coo3, chunk)
    w_t = F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk).cast("long")
    off = (F.col("y") % chunk) * w_t + (F.col("x") % chunk)
    enc = (off * F.lit(4294967296).cast("long") + (F.col(value_col).cast("long") + bias)).alias(
        "enc"
    )
    g = t.select("band", "tile_y", "tile_x", enc).groupBy("band", *TILE_KEYS).agg(
        F.array_sort(F.collect_list("enc")).alias("cells")
    )
    return g.select(
        "band",
        "tile_y",
        "tile_x",
        (F.col("tile_y").cast("long") * chunk).alias("y0"),
        (F.col("tile_x").cast("long") * chunk).alias("x0"),
        F.least(F.lit(chunk), F.lit(height) - F.col("tile_y") * chunk).cast("int").alias("h"),
        F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk).cast("int").alias("w"),
        F.transform(F.col("cells"), lambda e: e % 4294967296 - bias)
        .cast("array<int>")
        .alias("px"),
    )


def merge_into_tiles(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """insert(redimension(...), A) merge semantics (SciDBParallel.py:346-348):
    an insert into a SciDB array *upserts* whole chunks — updated chunks
    replace existing ones, untouched chunks survive.  Expressed as an
    anti-join + union (MERGE INTO once an Iceberg catalog is wired)."""
    keep = existing.join(updates.select(*TILE_KEYS), TILE_KEYS, "left_anti")
    return keep.unionByName(updates)


def tile_grid(spark, height: int, width: int, chunk: int) -> DataFrame:
    """All chunk coordinates of an H×W raster — the tiling plan
    (RasterReader.CreateArrayMetadata, GDALtoSciDB_multiprocessing.py:161-216).
    Built distributed via ``spark.range`` (no driver-side loops)."""
    nty = -(-height // chunk)
    ntx = -(-width // chunk)
    return (
        spark.range(nty * ntx)
        .select(
            F.expr(f"CAST(id DIV {ntx} AS INT)").alias("tile_y"),
            (F.col("id") % ntx).cast("int").alias("tile_x"),
        )
        .withColumn("y0", F.col("tile_y").cast("long") * chunk)
        .withColumn("x0", F.col("tile_x").cast("long") * chunk)
        .withColumn(
            "h",
            F.least(F.lit(chunk), F.lit(height) - F.col("tile_y") * chunk).cast("int"),
        )
        .withColumn(
            "w",
            F.least(F.lit(chunk), F.lit(width) - F.col("tile_x") * chunk).cast("int"),
        )
    )
