"""M2 ingestion tests (SURVEY.md OP-1..OP-4).

Golden semantics checked against pure-Python equivalents of the reference's
download/extract/transcode path (reference coordinator/coordinator.py:17-89):
idempotent skip, all-members extraction, and the load-bearing
``decode("utf-8", "ignore")`` drop-not-replace behavior.
"""

from __future__ import annotations

import collections
import os
import zipfile

import pytest

from distributed_mapreduce_in_docker_rpyc_spark.functions.text import tokenize_line
from distributed_mapreduce_in_docker_rpyc_spark.operators.wordcount import word_counts
from distributed_mapreduce_in_docker_rpyc_spark.sources import ingest

# \xff\xfe is invalid UTF-8 (dropped by errors="ignore"); \xc3\xa9 is é (kept).
DIRTY = b"the caf\xc3\xa9 door\nthe \xff\xfe the end\n"
CLEAN = b"to be or not to be\nthat is the question\n"


@pytest.fixture
def sample_zip(tmp_path) -> str:
    path = tmp_path / "corpus.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("docs/", "")  # directory entry — must be skipped
        zf.writestr("docs/a.txt", CLEAN)
        zf.writestr("docs/b.txt", DIRTY)
    return str(path)


def test_transcode_drops_invalid_bytes(tmp_path):
    raw = tmp_path / "dirty.bin"
    raw.write_bytes(DIRTY)
    out = ingest.transcode_lossy(str(raw))
    assert out.endswith(".txt") and not raw.exists()
    assert open(out, encoding="utf-8").read() == DIRTY.decode("utf-8", "ignore")


def test_download_local_and_idempotent_skip(tmp_path, sample_zip):
    staging = str(tmp_path / "staging")
    paths = ingest.download(f"file://{sample_zip}", staging)
    assert [os.path.basename(p) for p in paths] == ["a.txt", "b.txt"]
    # Second call must not re-fetch: poison the source, expect same answer.
    os.remove(sample_zip)
    assert ingest.download(f"file://{sample_zip}", staging) == paths


def test_download_over_http_loopback(tmp_path, sample_zip):
    """OP-1's actual transport: the reference streams an HTTP GET in 1 MiB
    chunks (coordinator/coordinator.py:27-32).  Serve the sample zip from a
    loopback ``http.server`` and run the full download→extract→transcode
    path over ``http://`` — byte parity with the ``file://`` path."""
    import functools
    import http.server
    import threading

    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=os.path.dirname(sample_zip)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/{os.path.basename(sample_zip)}"
        http_paths = ingest.download(url, str(tmp_path / "via_http"))
        file_paths = ingest.download(f"file://{sample_zip}", str(tmp_path / "via_file"))
    finally:
        srv.shutdown()
    assert [os.path.basename(p) for p in http_paths] == ["a.txt", "b.txt"]
    got = [open(p, "rb").read() for p in http_paths]
    want = [open(p, "rb").read() for p in file_paths]
    assert got == want


def _ziptext(spark, path):
    from distributed_mapreduce_in_docker_rpyc_spark.sources.zip_datasource import register_ziptext

    register_ziptext(spark)
    return spark.read.format("ziptext").load(path)


def test_zip_lines_distributed_matches_lossy_decode(spark, sample_zip):
    """The format('ziptext') data source (the distributed ZIP path) yields
    every non-directory member, lines decoded with invalid UTF-8 dropped,
    one input partition per (non-splittable) archive."""
    ds = _ziptext(spark, sample_zip)
    rows = ds.collect()
    assert {r.member for r in rows} == {"docs/a.txt", "docs/b.txt"}
    assert {r.archive for r in rows} == {sample_zip}
    got = [r.value for r in rows if r.member == "docs/b.txt"]
    assert got == DIRTY.decode("utf-8", "ignore").split("\n")
    assert ds.rdd.getNumPartitions() == 1


def test_ingest_to_wordcount_matches_counter_oracle(spark, tmp_path, sample_zip):
    """End-to-end M2→M1: URL → extract → transcode → word counts, against a
    pure-Python Counter oracle (the reference's own aggregation semantics)."""
    df = ingest.ingest(spark, f"file://{sample_zip}", str(tmp_path / "staging"))
    got = {r.word: r.cnt for r in word_counts(df, "value").collect()}

    oracle: collections.Counter[str] = collections.Counter()
    for blob in (CLEAN, DIRTY):
        for line in blob.decode("utf-8", "ignore").split("\n"):
            oracle.update(tokenize_line(line))
    assert got == dict(oracle)


def test_read_lines_split_conf(spark, tmp_path):
    f = tmp_path / "clean.txt"
    f.write_bytes(CLEAN * 1000)
    df = ingest.read_lines(spark, str(f), split_bytes=8 * 1024)
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == str(8 * 1024)
    # ~51 KB at 8 KB splits → multiple input partitions, counts unaffected.
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == 2000  # newline-terminated lines; no trailing empty record
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")


def test_ziptext_datasource_matches_mapinpandas_path(spark, sample_zip):
    """The format('ziptext') Python DataSource must produce exactly the rows
    of an independent binaryFile+mapInPandas decode, one partition per
    archive."""
    import io

    def explode_archives(batches):
        import pandas as pd

        for pdf in batches:
            for arc_path, content in zip(pdf["path"], pdf["content"]):
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for member in zf.infolist():
                        if member.is_dir():
                            continue
                        lines = zf.read(member).decode("utf-8", "ignore").split("\n")
                        yield pd.DataFrame({"member": member.filename, "value": lines})

    binary = spark.read.format("binaryFile").load(sample_zip).select("path", "content")
    via_mp = {
        (r.member, r.value)
        for r in binary.mapInPandas(explode_archives, "member string, value string").collect()
    }
    ds = _ziptext(spark, sample_zip)
    via_ds = {(r.member, r.value) for r in ds.collect()}
    assert via_ds == via_mp and via_ds
    assert ds.rdd.getNumPartitions() == 1  # one task per (non-splittable) archive


def test_ingest_keeps_members_with_the_same_file_name(spark, tmp_path):
    """Members ``a/x.txt`` and ``b/x.txt`` share a file name; extraction
    must stage both, not let one overwrite the other.  Word counts equal
    the Counter oracle and the ziptext path over the same archive."""
    blobs = {"a/x.txt": b"alpha alpha\n", "b/x.txt": b"beta\n"}
    path = tmp_path / "dup.zip"
    with zipfile.ZipFile(path, "w") as zf:
        for name, blob in blobs.items():
            zf.writestr(name, blob)

    staging = str(tmp_path / "staging")
    assert len(set(ingest.download(f"file://{path}", staging))) == 2
    df = ingest.ingest(spark, f"file://{path}", staging)
    got = {r.word: r.cnt for r in word_counts(df, "value").collect()}

    oracle: collections.Counter[str] = collections.Counter()
    for blob in blobs.values():
        for line in blob.decode("utf-8", "ignore").split("\n"):
            oracle.update(tokenize_line(line))
    via_ziptext = {
        r.word: r.cnt for r in word_counts(_ziptext(spark, str(path)), "value").collect()
    }
    assert got == dict(oracle) == via_ziptext == {"alpha": 2, "beta": 1}


def test_extract_zip_rejects_members_that_map_to_one_file(tmp_path):
    """``x`` is staged as ``x.txt``, so a member literally named ``x.txt``
    would overwrite it; extraction refuses instead of losing one."""
    path = tmp_path / "clash.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("x", b"one\n")
        zf.writestr("x.txt", b"two\n")
    with pytest.raises(ValueError, match="collide"):
        ingest.extract_zip(str(path), str(tmp_path))
