"""Tuned SparkSession builder for sketch workloads.

Encodes the settings this repo measured to matter (BENCH/BASELINE.md):

* ``maxPartitionBytes`` 32 MB — large enough to amortize the fixed cost
  of a Python-worker task (mapInArrow, pandas UDF), small enough to keep
  all cores busy at bench scale.  That cost measured ~0.25 s per task,
  almost all of it PySpark's per-task ``importlib.invalidate_caches()``
  re-parsing the zip archives on the worker's ``sys.path``, the 5k-member
  spark-core jar among them; ``sketchlib._worker`` prunes them when
  sketchlib is imported in a worker.  Since then Spark's "time to
  initialize Python workers" is 0.11-0.13 s per task, down from
  0.35-0.45 s (median, 10-row ``pandas_udf``, ``local[4]`` on 4 vCPUs);
* Arrow ``maxRecordsPerBatch`` 200k — fewer, larger IPC batches;
* AQE on — coalesces the sketch-blob shuffle and splits stragglers;
* ``spark.rdd.compress`` on — DISK_ONLY stage boundaries (corpus job)
  store serialized blocks; uncompressed, a text corpus persisted at a
  boundary is ~4-5x its parquet size and can exhaust local disk (measured:
  the 24M-row e2e bench ran out of /tmp without it).  LZ4 block compression
  costs ~nothing against the IO it saves.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def build_session(app: str, local_cpus: str | int | None = None,
                  shuffle_partitions: int | None = None,
                  extra_conf: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if local_cpus:
        b = b.master(f"local[{local_cpus}]")
        shuffle_partitions = shuffle_partitions or int(local_cpus)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (b.config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "200000")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.rdd.compress", "true"))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
