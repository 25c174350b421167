"""Build the spark-submit artifact: dist/elektra_spark.zip + dist/main.py.

    python tools/make_pyfiles.py
    spark-submit --py-files dist/elektra_spark.zip dist/main.py cc --synth-convs 1000

``dist/`` is a build output and is not tracked; ``main(dist)`` builds into
another directory.
"""

from __future__ import annotations

import os
import shutil
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(dist: str = os.path.join(ROOT, "dist")) -> str:
    os.makedirs(dist, exist_ok=True)
    zpath = os.path.join(dist, "elektra_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(ROOT, "elektra_spark")
        for dirpath, _dirnames, filenames in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, ROOT))
    # thin driver script: importable with --py-files only
    shutil.copyfile(os.path.join(ROOT, "elektra_spark", "cli.py"), os.path.join(dist, "main.py"))
    print(zpath)
    return zpath


if __name__ == "__main__":
    main()
