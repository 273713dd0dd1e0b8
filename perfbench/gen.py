"""Seeded input generator for the benchmark.

Writes the parquet tables the engine's queries read (``events``,
``documents``, ``embeddings``, ``nation``) with DuckDB, from nothing but
the seed and the sizes.  The same (sizes, seed) always gives the same
files, byte for byte.

What the seed changes:

- row order of every table (rows are written in seeded-hash order), and
  so which rows share a parquet row group; no query result may depend on
  either;
- which ``doc_id`` values exist (a seeded sample), the document texts
  and the embedding values; the oracle twins see the same data.

Shapes the engine relies on are kept for every seed:

- ``event_id`` is dense ``0..N-1`` with N a multiple of 100, so the
  derived raster has whole rows (``model.raster_dims``);
- ``doc_id`` stays below ``doc_id_space``;
- ``nation`` has keys ``0..24``, the kNN query points.
"""

from __future__ import annotations

import os
import shutil

import duckdb

# the word list of the engine's sf0.1 test documents; texts are seeded word
# sequences over it, so the text operators see the same token alphabet
VOCAB = (
    "dup join a value fast column sort scan small customer merge hash line "
    "spark part batch slow group row filter query key big window table "
    "stream order data vector agg the"
).split()
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
# distinct texts per table; larger tables cycle through them, which keeps
# the documents file small at millions of rows
TEXT_POOL = 5000
EMBED_DIM = 64
RASTER_W = 100
# One row-group size for every seed.  Spark assigns whole row groups to
# input splits (a few MB each here), so a seeded size would change how
# evenly the scan tasks are loaded, and speed would depend on the seed.
# The seed still changes which rows each row group holds.
ROW_GROUP = 50_000


def _list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _copy(con: duckdb.DuckDBPyConnection, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE {ROW_GROUP})")


def generate(out_dir: str, seed: int, events: int, documents: int,
             doc_id_space: int, embeddings: int) -> None:
    """Write the four tables into ``out_dir`` (created; must not exist)."""
    if events % RASTER_W:
        raise ValueError(f"events={events} is not a multiple of {RASTER_W}")
    if documents > doc_id_space:
        raise ValueError("documents exceeds doc_id_space")
    s = int(seed)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        con.execute("SET preserve_insertion_order TO true")
        _copy(con, f"""
            SELECT event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(
                       (hash(event_id, {s}, 1) % 2592000000000)::BIGINT) AS ts,
                   (hash(event_id, {s}, 2) % 1500)::BIGINT AS user_id,
                   {_list(EVENT_TYPES)}[1 + (hash(event_id, {s}, 3) % 5)::INT] AS event_type,
                   (hash(event_id, {s}, 4) % 56022)::DOUBLE / 100 AS value,
                   '{{"k": ' || (hash(event_id, {s}, 5) % 100)::VARCHAR || '}}' AS props
            FROM range({events}) r(event_id)
            ORDER BY hash(event_id, {s})""", f"{tmp}/events.parquet")
        _copy(con, f"""
            WITH ids AS (
                SELECT i AS doc_id FROM range({doc_id_space}) r(i)
                ORDER BY hash(i, {s}, 6) LIMIT {documents}
            ), texts AS (
                SELECT t AS k,
                       array_to_string(list_transform(
                           range(8 + (hash(t, {s}, 7) % 80)::INT),
                           i -> {_list(VOCAB)}[1 + (hash(t, i, {s}) % {len(VOCAB)})::INT]),
                           ' ') AS text
                FROM range({TEXT_POOL}) r(t)
            ), docs AS (
                SELECT doc_id, (row_number() OVER (ORDER BY doc_id) - 1) % {TEXT_POOL} AS k
                FROM ids
            )
            SELECT doc_id, text,
                   {_list(LANGS)}[1 + (hash(doc_id, {s}, 8) % {len(LANGS)})::INT] AS lang,
                   'src' || (doc_id % 20)::VARCHAR AS source,
                   length(text)::BIGINT AS n_chars
            FROM docs JOIN texts USING (k)
            ORDER BY hash(doc_id, {s})""", f"{tmp}/documents.parquet")
        _copy(con, f"""
            SELECT vec_id,
                   list_transform(range({EMBED_DIM}),
                       j -> ((hash(vec_id, j, {s}) % 40001)::DOUBLE / 100000 - 0.2)::FLOAT
                   ) AS embedding,
                   (hash(vec_id, {s}, 9) % 10)::INTEGER AS label
            FROM range({embeddings}) r(vec_id)
            ORDER BY hash(vec_id, {s})""", f"{tmp}/embeddings.parquet")
        _copy(con, f"""
            SELECT k::INTEGER AS n_nationkey, 'NATION_' || k::VARCHAR AS n_name,
                   (k % 5)::INTEGER AS n_regionkey
            FROM range(25) r(k)
            ORDER BY hash(k, {s})""", f"{tmp}/nation.parquet")
    finally:
        con.close()
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    import sys

    out, seed, *sizes = sys.argv[1:]
    generate(out, int(seed), *map(int, sizes))
