"""Storage-layout maintenance operators — the file-level hygiene a
100-TB lakehouse table needs alongside the query operators:

- ``table_file_stats``: file count / byte totals for a parquet table
  (the signal that schedules compaction);
- ``compact_parquet``: rewrite a small-files table into
  ~``target_bytes`` files (streaming sinks, incremental appends and
  the per-round component checkpoints all accrete small files whose
  per-file open/footer cost eventually dominates scans);
- ``zorder_write``: multi-column z-order clustering (interleaved
  quantile-bucket bits) so range predicates on ANY clustered column
  map to a contiguous slice of the file range — parquet min/max
  stats then skip the rest. This is the layout half of partition
  pruning: partitioning prunes on the partition key, z-order prunes
  WITHIN partitions on the remaining hot columns.

Production framing: on an Iceberg/Delta table these are
``rewrite_data_files`` / ``OPTIMIZE ZORDER BY``; this module is the
same algorithm expressed over raw parquet directories, which is what
this sandbox has. The swap in ``compact_parquet`` is two FS renames —
atomic on HDFS/POSIX, NOT on object stores (there you'd commit via
the table format's snapshot swap instead); single-writer assumed,
like every maintenance job.

These are filesystem operators, so their verification is pytest
(content equality, file counts, files-touched locality), not a SQL
oracle — the driver records the weaker rows-only check for such ops
by design.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath, jvm


def table_file_stats(spark: SparkSession, path: str) -> dict:
    """(n_files, total_bytes, max/min file bytes) over the table's
    data files — one recursive FS listing, no data read."""
    fs, hpath, _ = _fs(spark, path)
    it = fs.listFiles(hpath, True)
    sizes = []
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet") and not name.startswith("_"):
            sizes.append(st.getLen())
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "max_file_bytes": max(sizes) if sizes else 0,
        "min_file_bytes": min(sizes) if sizes else 0,
    }


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    partition_cols: tuple[str, ...] = (),
) -> dict:
    """Rewrite ``path`` into ~``target_bytes`` files (content
    byte-identical up to row order). Unpartitioned: one round-robin
    ``repartition(ceil(total/target))`` — no key, no skew. With
    ``partition_cols`` (e.g. the materialized ANN indexes' bucket/cid
    dirs): rows are hash-clustered on the partition key first so each
    key's directory collapses to ONE file while the layout that makes
    probes prune stays intact. The rewrite lands in a sibling temp
    dir and is swapped in via two renames; the pre-compaction data is
    never modified in place, so a crash before the first rename loses
    nothing. Returns before/after file stats."""
    before = table_file_stats(spark, path)
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    old = path.rstrip("/") + "__compact_old"
    if partition_cols:
        (
            df.repartition(*[F.col(c) for c in partition_cols])
            .write.partitionBy(*partition_cols)
            .mode("overwrite")
            .parquet(tmp)
        )
    else:
        n_out = max(1, math.ceil(before["total_bytes"] / target_bytes))
        df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    fs, hpath, jvm = _fs(spark, path)
    jpath = jvm.org.apache.hadoop.fs.Path
    if not fs.rename(hpath, jpath(old)):
        raise IOError(f"compact swap failed: could not move {path} aside")
    if not fs.rename(jpath(tmp), hpath):
        fs.rename(jpath(old), hpath)  # roll back
        raise IOError(f"compact swap failed: could not move {tmp} into place")
    fs.delete(jpath(old), True)
    after = table_file_stats(spark, path)
    return {"before": before, "after": after}


def zorder_write(
    df: DataFrame,
    cols: tuple[str, ...],
    path: str,
    bits: int = 4,
    n_files: int = 16,
) -> None:
    """Write ``df`` to ``path`` clustered by the z-order (Morton
    curve) of ``cols``: each column is quantile-bucketed into
    ``2**bits`` ranks (boundaries from ``approxQuantile`` at relative
    error 0.01 — a Greenwald-Khanna pass per column, O(2^bits) rows to
    the driver),
    rank bits are interleaved into one z-value, and the frame is
    range-partitioned + sorted on it. A range predicate on any single
    clustered column then touches ~``n_files / 2**(bits/len(cols))``
    files and a box predicate on all of them ~1 — parquet footer
    min/max stats skip the untouched files at plan time.

    Quantile bucketing (not fixed-width) makes the curve skew-proof:
    heavy values occupy proportionally many ranks instead of
    collapsing into one cell. The z column is internal and dropped
    before write."""
    if not cols:
        raise ValueError("zorder_write needs at least one column")
    nb = 2**bits
    zval = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        bounds = df.approxQuantile(c, [i / nb for i in range(1, nb)], 0.01)
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.when(F.col(c) > F.lit(b), 1).otherwise(0)
        for j in range(bits):
            bit = F.shiftright(bucket, j).bitwiseAND(F.lit(1)).cast("long")
            zval = zval.bitwiseOR(
                F.shiftleft(bit, j * len(cols) + ci)
            )
    (
        df.withColumn("_z", zval)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    buckets: int = 32,
    key: str = "doc_id",
) -> None:
    """Materialize a frame as a Hive-bucketed managed table:
    ``bucketBy(buckets, key)`` + ``sortBy(key)``, so every future
    equi-join or aggregation on ``key`` between tables bucketed the
    same way runs EXCHANGE-FREE — the co-location is paid once at
    write time instead of once per query. This is the standing-table
    answer for the joins a curation stack repeats every run (docs ⋈
    components, docs ⋈ quality verdicts, docs ⋈ split assignments):
    at 10^12 docs the corpus-side shuffle is the single largest cost
    in each of those, and bucketing deletes it from all of them.

    Bucketed tables must go through the catalog (``saveAsTable`` —
    plain ``parquet(path)`` silently drops bucket metadata, which is
    why this lives behind an operator instead of a call-site
    convention). Pair with ``session.py``'s warehouse dir; the bucket
    count should divide evenly into the cluster's parallelism at the
    target scale.

    The write replaces the table outright: a session-scoped in-memory
    catalog cannot see tables written by earlier sessions, but their
    managed location under a local warehouse survives and blocks
    ``saveAsTable``, so it is cleared first (an HMS/Iceberg catalog
    tracks this itself)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "")
    if warehouse.startswith("file:"):
        warehouse = warehouse[len("file:"):]
    loc = os.path.join(warehouse, table.split(".")[-1].lower())
    if warehouse and os.path.isdir(loc):
        shutil.rmtree(loc)
    (
        df.write.bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
