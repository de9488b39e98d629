"""Sinks (SURVEY §2.1 S5).

The engine's results are DataFrames; these writers exist for parity with the
reference's ``key \\t value`` text output (``Program/Delay.java:204``) and
for materializing pipeline outputs at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_tsv(df: DataFrame, path: str) -> None:
    """Tab-separated text output — the reference's output shape
    (one ``part-*`` file per reducer ≙ one per Spark task)."""
    df.write.mode("overwrite").option("sep", "\t").option("header", "false").csv(path)


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Columnar sink. ``partition_by`` yields hive-style directory
    partitioning so downstream scans prune (the 100 TB default)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC columnar sink — same contract as :func:`write_parquet` for
    stacks standardized on ORC (Hive/Trino interop). Spark-native format:
    predicate pushdown, column pruning, and hive partitioning all apply.
    """
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 16,
    splits: dict[str, int] | None = None,
) -> None:
    """Materialize a training corpus as split/shard-partitioned parquet.

    Layout: ``path/split=train/shard=3/part-*.parquet``. The split comes
    from the deterministic md5 bucket (``operators.text.hash_split`` — id
    hash, never ``rand()``, so re-runs land every row in the same split)
    and the shard from a second independent md5 window. ``repartition``
    on (split, shard) makes each output directory a small number of
    whole files (trainers stream shards sequentially; thousands of tiny
    files per shard would defeat that), and hive partitioning lets any
    downstream reader prune to one split without listing the rest.
    """
    from pyspark.sql import functions as F

    from ..operators.text import hash_split

    out = hash_split(df, id_col, splits, out="split")
    shard = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 9, 8), 16, 10)
        .cast("long")
        % n_shards
    ).alias("shard")
    out = out.select("*", shard)
    (
        out.repartition(F.col("split"), F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(path)
    )


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
) -> None:
    """Idempotent incremental write: replace exactly the hive partitions
    present in ``df``, leave every other partition untouched.

    The standard daily-increment pattern for an append-mostly lake table
    without a table format: the writer's ``partitionOverwriteMode=dynamic``
    option scopes the overwrite to partitions the batch actually
    contains, so re-running a failed day is safe (same data → same
    partition replaced, no dupes) and backfills never touch neighboring
    days. The option outranks the session conf, which other queries on
    the session keep seeing unchanged. At 100 TB this is the
    difference between rewriting one day and rewriting the table. (A real
    deployment layering ACID/concurrent writers swaps in a table format —
    Delta/Iceberg MERGE — behind this same call shape.)
    """
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> int:
    """Compact a small-files parquet directory toward ``target_file_bytes``
    per output file; returns the new file count.

    The lake-maintenance counterpart of the streaming/upsert sinks: micro-
    batch and per-partition writers accumulate thousands of tiny files,
    and at 100 TB the scan's task-scheduling and footer-read overhead
    (one open + footer parse per file) comes to dominate I/O. Sizing is
    computed from the existing footers via the Hadoop FileSystem API (a
    driver-side metadata listing — no data read), then a
    ``repartition(n)`` round-robin rewrite lands uniform ~target-size
    files. Hive-partitioned directories are compacted one partition leaf
    at a time (each leaf read directly, so partition columns never
    flatten into the data files and pruning survives); already-compact
    leaves are skipped, making re-runs cheap and idempotent. Each leaf's
    rewrite goes to a sibling temp dir first and swaps in via rename, so
    a failed compaction leaves the original leaf intact (rename is
    atomic per entry on HDFS/local; object stores need a manifest/table
    format for the same guarantee, which layers behind this same call
    shape). A stale temp dir from a crashed run is deleted and redone; a
    stale backup dir (original data mid-swap) makes the call fail with a
    recovery message rather than risk nesting it.
    """
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    # Group data files by their parent directory: a hive-partitioned table
    # has one leaf dir per partition (``.../date=2020-01-01``), a flat one
    # has a single leaf (the root). Each leaf is compacted independently,
    # reading the leaf directly — so partition columns never flatten into
    # the data files and the hive layout (and its pruning) is preserved.
    leaves: dict[str, tuple[int, int]] = {}  # leaf uri -> (bytes, n_files)
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            parent = str(f.getPath().getParent().toUri())
            b, c = leaves.get(parent, (0, 0))
            leaves[parent] = (b + f.getLen(), c + 1)

    new_total = 0
    for leaf, (total, count) in sorted(leaves.items()):
        n = max(min_files, -(-total // target_file_bytes))  # ceil
        if count <= n:  # already compact: idempotent re-runs skip it
            new_total += count
            continue
        tmp = jvm.org.apache.hadoop.fs.Path(leaf.rstrip("/") + "__compact_tmp")
        bak = jvm.org.apache.hadoop.fs.Path(leaf.rstrip("/") + "__compact_old")
        # Stale-run guards (Hadoop rename-into-existing-directory NESTS the
        # source, so a leftover dir from a crashed run would corrupt the
        # swap): a stale tmp is a partial rewrite of ours — delete and
        # redo; a stale bak holds ORIGINAL data from a run that died
        # mid-swap — never delete it, make the operator recover first.
        if fs.exists(bak):
            raise IOError(
                f"compact_parquet: stale {bak} holds data from a crashed "
                "compaction — restore or remove it manually before re-running"
            )
        if fs.exists(tmp):
            fs.delete(tmp, True)
        lpath = jvm.org.apache.hadoop.fs.Path(leaf)
        spark.read.parquet(leaf).repartition(int(n)).write.mode(
            "overwrite"
        ).parquet(str(tmp))
        if not fs.rename(lpath, bak):
            raise IOError(f"compact_parquet: could not stage {leaf} aside")
        if not fs.rename(tmp, lpath):
            fs.rename(bak, lpath)  # roll back
            raise IOError(f"compact_parquet: swap failed for {leaf}")
        fs.delete(bak, True)
        new_total += int(n)
    return new_total
