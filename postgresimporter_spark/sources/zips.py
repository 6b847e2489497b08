"""Zip-archive extraction (reference S1/S2, main.py:144-169, 474-489).

The reference shells out to ``unzip -o src -d dest``. Driver-side
``zipfile`` extraction keeps those semantics (including ``-o`` overwrite).

For archives living on distributed storage at scale, a distributed
variant reads them with the ``binaryFile`` source and extracts members
through the shared per-row mapper (``rowmap.map_rows``, Arrow-batched
``mapInPandas`` with bounded output chunks), so no single node must
see every archive.
"""

from __future__ import annotations

import io
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..discovery import ZipJob
from ..rowmap import map_rows


def extract_zips(jobs: list[ZipJob]) -> list[Path]:
    """Extract each archive into its destination dir (overwrite), driver-side.

    Returns the destination directories. Failures are logged per archive
    and do not abort the batch (reference failure semantics,
    main.py:376-404: log-and-continue).
    """
    import logging

    done = []
    for job in jobs:
        try:
            job.dest.mkdir(parents=True, exist_ok=True)
            with zipfile.ZipFile(job.src) as zf:
                zf.extractall(job.dest)
            done.append(job.dest)
        except Exception:  # noqa: BLE001 - reference logs and continues
            logging.getLogger(__name__).exception("unzip failed: %s", job.src)
    return done


def extract_zips_distributed(
    spark: SparkSession, zip_glob: str
) -> DataFrame:
    """Distributed extraction: archive bytes ->
    (archive, member, content, error).

    Each executor extracts the archives in its partition; member contents
    come back as a ``binary`` column for downstream parsing. Scales to
    archive sets that do not fit on one node.

    Failure parity with the driver path: a corrupt archive must not
    throw from the Python worker and abort the whole job, since
    ``extract_zips`` logs and continues (reference main.py:376-404).
    Extraction errors are per-archive: the bad archive emits one
    marker row (``member``/``content`` NULL, ``error`` holding the
    exception text — never a silent drop; members already emitted
    before a mid-archive corruption stay, the marker flags the archive
    as partial) and healthy archives are unaffected. Filter
    ``error IS NULL`` for content, ``error IS NOT NULL`` for the
    failure report.

    Memory posture: each archive is a generator of member rows fed to
    the shared row mapper (``rowmap.map_rows``), which flushes ~64MB
    chunks (or 100,000 rows, so corrupt or empty members cannot grow
    the buffer either), so peak worker memory tracks the chunk size
    plus one member, not the full extracted size of every archive in
    the batch (a 1000:1 zip bomb inflates a ~1MB archive to GBs).
    """

    def members(r):
        try:
            with zipfile.ZipFile(io.BytesIO(r["content"])) as zf:
                for name in zf.namelist():
                    if not name.endswith("/"):
                        yield r["path"], name, zf.read(name), None
        except Exception as e:  # noqa: BLE001 — per-archive parity
            yield r["path"], None, None, f"{type(e).__name__}: {e}"[:500]

    archives = spark.read.format("binaryFile").load(zip_glob)
    return map_rows(
        archives.select("path", "content"),
        members,
        "archive string, member string, content binary, error string",
    )
