"""Ingestion: URL → ZIP → UTF-8-lossy text → DataFrame (SURVEY.md OP-1..OP-4).

Reference semantics being re-expressed (citations into /root/reference):
  - OP-1 HTTP source: streaming GET in 1 MiB chunks, 600 s timeout, idempotent
    skip when the extracted ``.txt`` already exists
    (coordinator/coordinator.py:17-55).
  - OP-2 ZIP extraction: iterate members, stream-extract, skip directories
    (coordinator/coordinator.py:37-50).  ZIP is not splittable, so the
    distributed path gets one task per archive; many small archives
    parallelize, one huge archive does not.
  - OP-3 UTF-8 lossy transcode: ``bytes.decode("utf-8", "ignore")`` — invalid
    byte sequences are silently DROPPED, not replaced
    (coordinator/coordinator.py:45-49, worker/worker.py:16).  Spark's own text
    reader replaces them, so byte-level parity requires decoding in Python:
    ``transcode_lossy`` here, or the ``ziptext`` source.
  - OP-4 size-based line-aligned split (coordinator/coordinator.py:57-89):
    subsumed by Hadoop input splitting; ``split_bytes`` just sets
    ``maxPartitionBytes``.

100 TB posture: this module is an EDGE LOADER.  At scale the right design is
text/Parquet pre-staged in object storage read by ``spark.read``; a single ZIP
over HTTP is inherently a one-node bottleneck (the reference has the same
constraint — one coordinator downloads everything).  The distributed path
is the ``ziptext`` data source (``sources/zip_datasource.py``): MANY archives
(the realistic 100 TB layout: thousands of multi-GB archives) extract in
parallel, one task each.
"""

from __future__ import annotations

import os
import shutil
import urllib.request
import zipfile
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

DOWNLOAD_CHUNK_BYTES = 1024 * 1024  # reference coordinator/coordinator.py:29
DOWNLOAD_TIMEOUT_SECS = 600  # reference coordinator/coordinator.py:27
SPLIT_BYTES = 32 * 1024 * 1024  # reference coordinator/coordinator.py:57


def download(url: str, data_dir: str) -> list[str]:
    """OP-1: fetch ``url`` (http/https/file) into ``data_dir``; return local
    file paths.  Idempotent: if ``data_dir`` already holds ``.txt`` files the
    fetch is skipped (reference coordinator/coordinator.py:19-22).
    """
    os.makedirs(data_dir, exist_ok=True)
    existing = sorted(
        os.path.join(data_dir, f) for f in os.listdir(data_dir) if f.endswith(".txt")
    )
    if existing:
        return existing

    name = os.path.basename(urlparse(url).path) or "dataset"
    local = os.path.join(data_dir, name)
    if urlparse(url).scheme in ("", "file"):
        shutil.copyfile(urlparse(url).path or url, local)
    else:
        with urllib.request.urlopen(url, timeout=DOWNLOAD_TIMEOUT_SECS) as resp, open(
            local, "wb"
        ) as out:
            while chunk := resp.read(DOWNLOAD_CHUNK_BYTES):
                out.write(chunk)

    if local.endswith(".zip"):
        paths = extract_zip(local, data_dir)
        os.remove(local)
        return paths
    return [transcode_lossy(local)]


def extract_zip(zip_path: str, out_dir: str) -> list[str]:
    """OP-2+OP-3 driver-side: stream-extract every non-directory member and
    lossy-transcode it to UTF-8 ``.txt``.  Unlike the reference (which then
    processes only ``files[0]``, coordinator/coordinator.py:137-138 — a
    bug-shaped limitation), all members are returned.

    Each output is named after the member's path below the members' common
    directory, flattened by escaping ``%``, ``/`` and ``\\`` — so
    ``a/x.txt`` and ``b/x.txt`` stay distinct files, and no name can
    escape ``out_dir``.  Two members that still map to one file (``x`` and
    ``x.txt``) are rejected instead of overwriting each other.
    """
    out: list[str] = []
    with zipfile.ZipFile(zip_path) as zf:
        members = [m for m in zf.infolist() if not m.is_dir()]
        parts = [m.filename.split("/") for m in members]
        depth = len(os.path.commonprefix([p[:-1] for p in parts]))
        for member, p in zip(members, parts):
            base = "/".join(p[depth:])
            base = base.replace("%", "%25").replace("/", "%2F").replace("\\", "%5C")
            raw = os.path.join(out_dir, base + ".raw")
            with zf.open(member) as src, open(raw, "wb") as dst:
                shutil.copyfileobj(src, dst, DOWNLOAD_CHUNK_BYTES)
            txt = os.path.join(out_dir, base if base.endswith(".txt") else base + ".txt")
            if txt in out:
                raise ValueError(f"ZIP members collide on output file {txt!r}")
            out.append(transcode_lossy(raw, txt))
    return sorted(out)


def transcode_lossy(path: str, txt: str | None = None) -> str:
    """OP-3: rewrite ``path`` as UTF-8 ``txt`` with invalid sequences dropped
    (``errors="ignore"`` — reference coordinator/coordinator.py:45-49)."""
    txt = txt or (path if path.endswith(".txt") else path + ".txt")
    with open(path, "rb") as f:
        data = f.read().decode("utf-8", "ignore")
    tmp = txt + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(data)
    if path != txt:
        os.remove(path)
    os.replace(tmp, txt)
    return txt


def read_lines(spark: SparkSession, path: str, split_bytes: int | None = None) -> DataFrame:
    """OP-4: clean-input text scan; Hadoop TextInputFormat gives line-aligned
    splits for free, only the split size is a knob (reference-parity 32 MB:
    pass ``split_bytes=SPLIT_BYTES``, reference coordinator/coordinator.py:57).
    The knob is a session conf (like the reference's single global
    ``target_bytes``) and is only touched when explicitly requested, since it
    affects every scan planned afterwards.
    """
    if split_bytes is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    return spark.read.text(path)


def ingest(spark: SparkSession, url: str, staging_dir: str) -> DataFrame:
    """Full OP-1..4 pipeline: fetch → (extract+transcode if ZIP) → lines
    DataFrame[value: string].  The reference pipes this straight into the
    word-count job (SURVEY.md §3.1 stages 1-2).
    """
    paths = download(url, staging_dir)
    if not paths:  # empty archive -> zero lines, not IndexError
        return spark.createDataFrame([], "value string")
    return read_lines(spark, paths if len(paths) > 1 else paths[0])
