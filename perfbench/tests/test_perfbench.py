"""Tests for the benchmark's own code (no Spark session needed).

Run from the root of the repo: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import duckdb
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
TINY = (1_000, 200, 1_000, 50)


def digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


def test_generator_is_deterministic_per_seed(tmp_path):
    gen.generate(str(tmp_path / "a"), 3, *TINY)
    gen.generate(str(tmp_path / "b"), 3, *TINY)
    gen.generate(str(tmp_path / "c"), 4, *TINY)
    assert digests(tmp_path / "a") == digests(tmp_path / "b")
    assert digests(tmp_path / "a")["events.parquet"] != digests(tmp_path / "c")["events.parquet"]
    con = duckdb.connect()
    for d in ("a", "c"):
        ids = con.execute(
            f"SELECT list(event_id ORDER BY event_id) FROM '{tmp_path / d}/events.parquet'"
        ).fetchone()[0]
        assert ids == list(range(TINY[0]))
        docs = con.execute(
            f"SELECT count(DISTINCT doc_id), max(doc_id) FROM '{tmp_path / d}/documents.parquet'"
        ).fetchone()
        assert docs[0] == TINY[1] and docs[1] < TINY[2]


def test_generator_rejects_ragged_raster(tmp_path):
    with pytest.raises(ValueError):
        gen.generate(str(tmp_path / "x"), 1, 1_050, 10, 100, 10)


def test_every_emitted_name_is_well_formed():
    names = [name for name, _unit, _better in layers.METRICS]
    names += list(run.E2E_UNITS) + list(run.WORKLOADS)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.fullmatch(name), name


def test_benchmark_json_lists_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        tuple(m) for m in layers.METRICS
    ]


@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("in") / "tiny")
    gen.generate(d, 7, *TINY)
    return d


def write_result(con, sql: str, out: str) -> None:
    os.makedirs(out)
    con.execute(f"COPY ({sql}) TO '{out}/part-0.parquet' (FORMAT parquet)")


@pytest.mark.parametrize("query", ["zonal_stats_rect", "pip_grid"])
def test_oracle_gate_passes_exact_and_fails_perturbed(tiny_inputs, tmp_path, query):
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry

    sql = entry.oracle_sql()[query]
    con = run.duck(tiny_inputs)
    cols = [c[0] for c in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]
    write_result(con, sql, str(tmp_path / "exact"))
    assert run.check_result(con, str(tmp_path / "exact"), sql) == []

    # one value off by one in one row
    last = cols[-1]
    perturbed = (
        f"SELECT * EXCLUDE (rn) REPLACE ({last} + (rn = 1)::INT AS {last}) "
        f"FROM (SELECT *, row_number() OVER () AS rn FROM ({sql}))"
    )
    write_result(con, perturbed, str(tmp_path / "perturbed"))
    assert run.check_result(con, str(tmp_path / "perturbed"), sql)

    # one row missing
    write_result(con, f"SELECT * FROM ({sql}) LIMIT (SELECT count(*) - 1 FROM ({sql}))",
                 str(tmp_path / "short"))
    assert run.check_result(con, str(tmp_path / "short"), sql)
