"""Build dist/naer_spark.zip for spark-submit --py-files, and
dist/nofork-fs.jar (the local filesystem the package's writers name)
for --jars.

Usage: python tools/package.py
"""

from __future__ import annotations

import shutil
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "named_architecture_entity_recognition_spark"


def main():
    sys.path.insert(0, str(REPO))
    from named_architecture_entity_recognition_spark.session import nofork_fs_jar

    dist = REPO / "dist"
    dist.mkdir(exist_ok=True)
    out = dist / "naer_spark.zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted((REPO / PKG).rglob("*.py")):
            zf.write(py, py.relative_to(REPO))
    print(out)
    print(shutil.copy(nofork_fs_jar(), dist / "nofork-fs.jar"))


if __name__ == "__main__":
    main()
