"""Engine benchmark: one closed-loop client over the registry queries.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload raster --seed 1 --seconds 30 --trace 0

One process, one client, ``local[<cores>]`` with a task slot per CPU.
The workload's inputs are generated from ``--seed`` (perfbench/gen.py,
cached under ``.perfbench_work/``).  Then the workload's queries from
``__spark_entry__.queries()`` run once, in order.  Each result is saved
as parquet for the oracle gate, except that of a query the gate checks on
the small companion input, which runs into Spark's ``noop`` sink.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: the median, over at least MIN_SETUPS fresh sessions
  started one after another until ``--seconds`` have passed, of the time
  until ``session.get_spark`` returns a ready session (JVM launch,
  context, Python worker warm-up); input generation is excluded;
- ``peak_rss_mb``: Python ``ru_maxrss`` plus the JVM's VmHWM, read after
  the pass over the queries;
- ``ok_share``: query executions that neither raised nor missed the
  oracle, over executions attempted.

Pass times are not end-to-end metrics: on a shared host their run-to-run
spread was wider than any bound the benchmark may set
(perfbench/WORKLOADS.md).  Each query's first and warm time is measured
by the traced run, and the first pass's times are printed to stderr.

Every query's result is checked once per run against its
``oracle_sql()`` twin on DuckDB; the comparison runs after Spark stops.  ``--trace 1``
runs perfbench/layers.py instead and prints the per-layer metrics.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# everything one run writes besides the cached inputs; removed at exit
RUN = os.path.join(WORK, f"run-{os.getpid()}")

RASTER_QUERIES = [
    "zonal_stats_rect", "zonal_stats_poly", "focal_mean_sum", "raster_add",
    "count_pixels",
]
VECTOR_QUERIES = ["pip_grid", "pip_grid_salted", "pip_poly_df", "knn"]

# sizes: (events, documents, doc_id_space, embeddings).  As large as lets
# a whole run (set-up, cold pass, warm window, oracle gate) stay under a
# minute on 4 cores; fixed per-query costs are still most of a warm pass
# (perfbench/WORKLOADS.md).  Each workload keeps the other side's tables
# small: the traced run measures every layer on every workload.
WORKLOADS = {
    "raster": dict(queries=RASTER_QUERIES, sizes=(400_000, 5_000, 100_000, 2_000)),
    "vector": dict(queries=VECTOR_QUERIES, sizes=(10_000, 250_000, 500_000, 2_000)),
}
# Oracle twins whose DuckDB cost grows faster than the input: the
# focal_mean_sum twin is a range self-join (56 s at 100k pixels on 4
# cores).  These queries are checked on SMALL_SIZES inputs of the same
# seed, in the same session, instead of on the measured inputs.
SLOW_ORACLES = {"focal_mean_sum"}
SMALL_SIZES = (10_000, 5_000, 100_000, 2_000)
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "ok_share": "ratio"}
DRIVER_MEM = "3g"
NEW_GEN = "512m"
MIN_SETUPS = 3
# inputs of this many other seeds stay cached per input set
KEEP_INPUTS = 10


def cores() -> int:
    """Spark task slots: one per CPU this process may run on.  Two slots
    on four CPUs were no faster, and the JVM's resident high-water mark
    then swung 1.45-1.73 GB between runs instead of 1.30-1.32 GB."""
    return len(os.sched_getaffinity(0))


def deploy_env() -> None:
    """Deployment settings: keep every file Spark, its JVM and its Python
    workers write inside the checkout, and give the Spark driver 3g
    (``get_spark`` defaults to 48g, more than a 15 GB machine has)."""
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # one thread per native library in each Python worker: the task slots
    # are the parallelism
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # A fixed young generation and a fixed heap size.  With G1's adaptive
    # eden the JVM's resident high-water mark swung 1.4-2.2 GB between
    # runs; with a growing heap it sat at 1.10 or 1.20 GB, depending on
    # whether G1 had grown the heap by the end of the pass.  Fixed, it
    # follows the data the engine keeps alive.
    java = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:NewSize={NEW_GEN} "
            f"-XX:MaxNewSize={NEW_GEN} -Xms{DRIVER_MEM}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{java}" pyspark-shell'


def load_program():
    """Import the engine from the checkout; exit non-zero when it is not
    there."""
    if not os.path.exists(os.path.join(ROOT, "__spark_entry__.py")):
        sys.exit(f"perfbench: no __spark_entry__.py under {ROOT}")
    deploy_env()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import __spark_entry__ as entry

    keep_pyfiles_in(entry, RUN)
    return entry


def keep_pyfiles_in(entry, work: str) -> None:
    """``__spark_entry__._ensure_pyfiles`` zips the package to /tmp; the
    benchmark writes only inside its checkout, so the same zip goes to
    ``work`` instead."""

    def ensure_pyfiles(spark) -> None:
        sc = spark.sparkContext
        if getattr(sc, "_scidbgeo_pyfiles", False):
            return
        zpath = os.path.join(work, f"scidbgeo_spark_pyfiles_{os.getpid()}.zip")
        pkg = os.path.join(ROOT, "scidbgeo_spark")
        with zipfile.ZipFile(zpath, "w") as z:
            for root, _dirs, files in os.walk(pkg):
                for f in sorted(files):
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        z.write(full, os.path.relpath(full, ROOT))
        sc.addPyFile(zpath)
        sc._scidbgeo_pyfiles = True

    entry._ensure_pyfiles = ensure_pyfiles


def inputs(name: str, seed: int, sizes: tuple[int, int, int, int]) -> str:
    """Generate (or reuse) the inputs ``(events, documents, doc_id_space,
    embeddings)`` for ``seed``.  The generator runs in a child process so
    its memory stays out of this process's peak RSS."""
    base = os.path.join(WORK, "inputs")
    key = f"{name}-{'-'.join(map(str, sizes))}-seed{seed}"
    out = os.path.join(base, key)
    if not os.path.exists(out):
        os.makedirs(base, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), out, str(seed), *map(str, sizes)],
            check=True,
        )
        old = sorted(
            (d for d in os.listdir(base)
             if d.startswith(f"{name}-") and d != key and not d.endswith(".tmp")),
            key=lambda d: os.path.getmtime(os.path.join(base, d)),
        )
        for d in old[:-KEEP_INPUTS]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def noop_sink(_name: str, df) -> None:
    noop(df)


def persisted(spark) -> int:
    """RDDs plus cached DataFrames still held by the session."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    cm = spark._jsparkSession.sharedState().cacheManager()
    return n + (0 if cm.isEmpty() else 1)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM child."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._gateway.proc.pid
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def duck(in_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(in_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{in_dir}/{f}')"
            )
    return con


def check_result(con, result_dir: str, sql: str) -> list[str]:
    """Exact compare of a written result against its oracle, by the rule
    of tools/check_oracle.py: same columns, same row count, same sorted
    values.  Returns the problems found (empty when it matches)."""
    from check_oracle import compare

    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").df()
    want = con.execute(sql).df()
    return [p for p in compare("", got, want) if not p.startswith("NOTE")]


class Gate:
    """Per-run oracle gate.  Results are saved as parquet: by the timed
    cold pass itself (``sink``), or by ``write`` for queries checked on
    other inputs.  ``check`` then compares each saved result with its
    ``oracle_sql()`` twin on DuckDB over the same input dir, after Spark
    is done."""

    def __init__(self, entry, dirs: dict[str, str]):
        self.entry, self.dirs = entry, dirs
        self.out = os.path.join(RUN, "results")
        self.bad: dict[str, list[str]] = {}

    def save(self, name: str, df) -> None:
        df.write.mode("overwrite").parquet(f"{self.out}/{name}")

    def sink(self, in_dir: str):
        """Sink for a pass over ``in_dir``: saves the results checked on
        ``in_dir``, runs the others into ``noop``."""
        return lambda name, df: (self.save if self.dirs[name] == in_dir else noop_sink)(name, df)

    def write(self, spark, names) -> None:
        qs = self.entry.queries()
        for name in names:
            try:
                self.save(name, qs[name](spark, self.dirs[name]))
            except Exception as e:  # noqa: BLE001 — one failing query is a result, not a crash
                self.bad[name] = [f"error: {type(e).__name__}: {str(e)[:300]}"]

    def check(self) -> dict[str, list[str]]:
        """Returns ``{query: problems}`` for the queries that failed."""
        sqls = self.entry.oracle_sql()
        cons = {d: duck(d) for d in set(self.dirs.values())}
        try:
            for name, in_dir in self.dirs.items():
                # a result is missing only where its execution raised,
                # which is already counted as failed
                if name not in self.bad and os.path.isdir(f"{self.out}/{name}"):
                    problems = check_result(cons[in_dir], f"{self.out}/{name}", sqls[name])
                    if problems:
                        self.bad[name] = problems
        finally:
            for con in cons.values():
                con.close()
            shutil.rmtree(self.out, ignore_errors=True)
        for name, problems in self.bad.items():
            print(f"perfbench: oracle mismatch {name}: {'; '.join(problems)}", file=sys.stderr)
        return self.bad


def gate_dirs(workload: str, seed: int, in_dir: str) -> dict[str, str]:
    """The input dir each of the workload's queries is checked on."""
    dirs = {}
    for name in WORKLOADS[workload]["queries"]:
        dirs[name] = inputs("small", seed, SMALL_SIZES) if name in SLOW_ORACLES else in_dir
    return dirs


def run_pass(spark, qs, names, in_dir, failures: list, sink=noop_sink) -> list[float]:
    """One pass over ``names``, each result into ``sink(name, df)``;
    returns each query's seconds."""
    times = []
    for name in names:
        t0 = time.perf_counter()
        try:
            sink(name, qs[name](spark, in_dir))
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
        times.append(time.perf_counter() - t0)
    return times


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_untraced(entry, workload: str, seed: int, seconds: float) -> dict:
    from scidbgeo_spark.session import get_spark

    names = WORKLOADS[workload]["queries"]
    in_dir = inputs(workload, seed, WORKLOADS[workload]["sizes"])
    gate = Gate(entry, gate_dirs(workload, seed, in_dir))
    qs = entry.queries()
    failures: list[str] = []
    setups: list[float] = []
    t_end = time.perf_counter() + seconds
    while len(setups) < MIN_SETUPS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores())
        setups.append(time.perf_counter() - t0)
        try:
            if len(setups) == 1:
                # the first session runs the queries once and saves the
                # results the oracle gate checks; later ones only set up
                first = run_pass(spark, qs, names, in_dir, failures, gate.sink(in_dir))
                leaks = persisted(spark)
                rss = peak_rss_mb(spark)
                gate.write(spark, [n for n, d in gate.dirs.items() if d != in_dir])
        finally:
            shutdown(spark)
    bad = gate.check()
    for msg in failures:
        print(f"perfbench: query failed: {msg}", file=sys.stderr)
    if leaks:
        print(f"perfbench: {leaks} persisted RDD/DataFrame(s) left after the pass",
              file=sys.stderr)
    attempted = len(names) + sum(d != in_dir for d in gate.dirs.values())
    failed = len(failures) + len(bad)
    print(f"perfbench: setups {[round(t, 3) for t in setups]} first pass "
          f"{[round(t, 3) for t in first]} rss {rss:.0f}", file=sys.stderr)
    values = {
        "setup_s": statistics.median(setups),
        "peak_rss_mb": rss,
        "ok_share": (attempted - failed) / attempted,
    }
    return {
        "correct": failed == 0 and leaks == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    entry = load_program()
    try:
        if args.trace:
            import layers

            result = layers.run_traced(entry, args.workload, args.seed)
        else:
            result = run_untraced(entry, args.workload, args.seed, args.seconds)
    finally:
        shutil.rmtree(RUN, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
