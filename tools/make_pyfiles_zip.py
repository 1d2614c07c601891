"""Package the engine for ``spark-submit --py-files``.

Builds dist/ifeatureomega_cli_spark.zip containing the package (code +
resources) and copies cli.py next to it:

    python tools/make_pyfiles_zip.py
    spark-submit --master <...> \\
        --py-files dist/ifeatureomega_cli_spark.zip \\
        dist/cli.py extract --input ... --descriptor protein:AAC --output ...
"""

from __future__ import annotations

import os
import shutil
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DIST = os.path.join(REPO, "dist")


def main() -> str:
    os.makedirs(DIST, exist_ok=True)
    zpath = os.path.join(DIST, "ifeatureomega_cli_spark.zip")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(os.path.join(REPO, "ifeatureomega_cli_spark")):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    shutil.copy(os.path.join(REPO, "ifeatureomega_cli_spark", "cli.py"),
                os.path.join(DIST, "cli.py"))
    print(zpath)
    return zpath


if __name__ == "__main__":
    main()
