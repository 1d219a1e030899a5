"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference MapReduce system
(Haardhik3981/distributed-mapreduce-in-docker-RPYC).

Architecture (SURVEY.md §7):
  - ``core``       — generic RDD map/reduce surface (the reference's paradigm,
                     expressed as mapPartitions/reduceByKey — reference
                     coordinator/coordinator.py:145-244 collapses to one call).
  - ``operators``  — DataFrame/Catalyst operator library: word count (flagship),
                     relational (joins/aggs/windows/setops), dedup, similarity,
                     text analysis, multimodal.
  - ``sources``    — ingestion: HTTP download, ZIP extraction, lossy-UTF-8
                     transcode (reference coordinator/coordinator.py:17-55),
                     parquet star-schema loaders.
  - ``functions``  — scalar/expression helpers (tokenizer, hashing, vectors).
  - ``streaming``  — Structured Streaming slice over the events table.
  - ``plans``      — scale posture: partitioning/AQE/broadcast conventions.

Everything is built for a real cluster at 100 TB: declarative plans so Catalyst
pushes filters into scans, broadcast hints for dimension tables, map-side
partial aggregation everywhere (the reference's one real optimization,
worker/worker.py:15-18), and no driver-side collection except final top-k.

Importing the package installs ``_zipcache`` (Python < 3.12), which stops
every Python task from re-reading ``pyspark.zip``'s directory.
"""

from distributed_mapreduce_in_docker_rpyc_spark import _zipcache

_zipcache.install()

__version__ = "0.1.0"
