"""ZIP-text as a first-class Spark data source (Python DataSource API).

Packages the reference's download→extract→lossy-transcode pipeline
(reference coordinator/coordinator.py:17-55 — see ``sources/ingest.py`` for
the function form) as ``spark.read.format("ziptext").load(glob)``: schema
``(archive, member, value)``, one row per text line, invalid UTF-8 dropped
(``errors="ignore"``, reference coordinator/coordinator.py:45-49).

Partitioning: one input partition per archive — ZIP is not splittable, so
per-archive tasks are the only parallel axis (SURVEY.md §7 "ZIP
non-splittability"); a glob over many archives scales out naturally while a
single huge archive is one task by construction.

Usage::

    from distributed_mapreduce_in_docker_rpyc_spark.sources.zip_datasource import register_ziptext
    register_ziptext(spark)
    df = spark.read.format("ziptext").load("/data/archives/*.zip")
"""

from __future__ import annotations

import glob as _glob
import zipfile
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StringType, StructField, StructType

ZIPTEXT_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("member", StringType()),
        StructField("value", StringType()),
    ]
)


def _archive_lines(*paths: str) -> Iterator[tuple]:
    """``(archive, member, line)`` for every line of every non-directory
    member of each archive, decoded UTF-8 with invalid bytes dropped."""
    for path in paths:
        with zipfile.ZipFile(path) as zf:
            for member in zf.infolist():
                if member.is_dir():
                    continue
                text = zf.read(member).decode("utf-8", "ignore")
                for line in text.split("\n"):
                    yield (path, member.filename, line)


class _ArchivePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class ZipTextReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ziptext requires a path: .load('/dir/*.zip')")

    def partitions(self) -> list[InputPartition]:
        paths = sorted(_glob.glob(self.path)) or [self.path]
        return [_ArchivePartition(p) for p in paths]

    def read(self, partition: _ArchivePartition) -> Iterator[tuple]:
        return _archive_lines(partition.path)


class ZipTextDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ziptext"

    def schema(self) -> StructType:
        return ZIPTEXT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return ZipTextReader(self.options)

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return ZipTextStreamReader(self.options)


def register_ziptext(spark) -> None:
    spark.dataSource.register(ZipTextDataSource)


class ZipTextStreamReader(SimpleDataSourceStreamReader):
    """Incremental form of the same contract: each microbatch picks up
    archives that appeared since the last committed offset.

    Offset = the sorted list of archives already ingested (JSON-serializable,
    replayable: ``readBetweenOffsets`` re-derives a batch from the two file
    lists alone, so recovery needs no side state).  The per-batch unit of
    parallelism is still the whole archive — ZIP stays non-splittable
    whether batch or streaming.

    As with Spark's file sources, an archive must appear atomically (written
    elsewhere, then renamed to a name the glob matches): the stream lists
    the glob while it runs and would open a half-written archive.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ziptext requires a path: .load('/dir/*.zip')")

    def initialOffset(self) -> dict:
        return {"files": []}

    def read(self, start: dict):
        seen = set(start["files"])
        now = sorted(set(_glob.glob(self.path)))
        new = [p for p in now if p not in seen]
        end = {"files": sorted(seen | set(new))}
        # iter(list), not a generator: the runner caches the prefetched
        # batch and pickles it (generators can't pickle), but also calls
        # next() on it (bare lists aren't iterators).
        return iter(list(_archive_lines(*new))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        new = sorted(set(end["files"]) - set(start["files"]))
        return iter(list(_archive_lines(*new)))


