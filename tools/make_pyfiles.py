"""Build the --py-files zip for spark-submit (dist/scidbgeo_spark.zip).

Writes the zip ``__spark_entry__._ensure_pyfiles`` ships at runtime via
addPyFile (both call ``session.zip_package``) to disk, for explicit
spark-submit launches:

    python tools/make_pyfiles.py [out.zip]
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from scidbgeo_spark.session import zip_package  # noqa: E402


def build(out: str | None = None) -> str:
    out = out or os.path.join(_REPO, "dist", "scidbgeo_spark.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    return zip_package(out)


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else None))
