"""Session set-up: the driver-memory default, and a new session runs no job."""

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
