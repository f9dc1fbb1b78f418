"""P10 packaging: build dist/logparse_spark.zip for
``spark-submit --py-files dist/logparse_spark.zip logparse_spark/main.py ...``.

The package is pure-Python and driver-state-free: a task pickles its
function by reference to a package module, and each Python worker
compiles the rulebook from the package itself — so the zip is the
whole deploy artifact.
"""

from __future__ import annotations

import os
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(out: str = "dist/logparse_spark.zip") -> str:
    out_path = os.path.join(ROOT, out)
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(os.path.join(ROOT, "logparse_spark")):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, ROOT))
    return out_path


if __name__ == "__main__":
    print(build())
