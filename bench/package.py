#!/usr/bin/env python
"""Build dist/engine.zip for ``spark-submit --py-files`` deployment
(north_rule: pure-Python deployability — no jars, no native code).

    python bench/package.py
    spark-submit --py-files dist/engine.zip your_job.py  # imports simplecrawler_spark
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    os.makedirs(os.path.join(REPO, "dist"), exist_ok=True)
    out = os.path.join(REPO, "dist", "engine.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "simplecrawler_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    print(out)


if __name__ == "__main__":
    main()
