"""Session set-up: the driver-memory default, a new session runs no job, and
the spark-submit --py-files launch runs a registered query."""

import json
import os
import subprocess
import sys

from scidbgeo_spark.session import _driver_memory


def test_driver_memory_is_40_percent_of_ram_in_whole_gib():
    assert _driver_memory(16_851_337_216) == "6g"  # a 15.7 GiB host
    assert _driver_memory(2 * 2**30) == "1g"  # 0.8 GiB, raised to the floor
    assert _driver_memory(512 * 2**30) == "48g"


def test_new_session_runs_no_job():
    # a second SparkContext cannot share the test session's process
    code = ("from scidbgeo_spark.session import get_spark; s = get_spark(cores=2); "
            "print(s.sparkContext.statusTracker().getJobIdsForGroup()); s.stop()")
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=600,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert r.stdout.splitlines()[-1] == "[]"


def test_spark_submit_pyfiles_launch(tmp_path):
    """North-rule launch shape: spark-submit --py-files runs a registered
    query end-to-end in a SEPARATE driver, with workers importing the
    package from the built zip (pip_poly exercises the pandas-UDF path,
    so a missing worker-side package would fail loudly)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zf = str(tmp_path / "scidbgeo_spark.zip")
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "make_pyfiles.py"), zf],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert out.returncode == 0, out.stderr[-1000:]
    submit = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit")
    proc = subprocess.run(
        [
            submit,
            "--master",
            "local[4]",
            "--py-files",
            zf,
            os.path.join(repo, "tools", "submit_job.py"),
            "--query",
            "pip_poly",
            "--sf-dir",
            "/root/testdata/sf0.001",
        ],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert res["rows"] > 0 and res["query"] == "pip_poly"
