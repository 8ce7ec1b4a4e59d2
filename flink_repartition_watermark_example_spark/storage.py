"""Bucketed-table storage for co-located joins.

At 100 TB the shuffle in a fact⋈fact join dominates; writing both
sides bucketed by the join key (`bucketBy` + `sortBy`) lets Spark join
them with ZERO exchange — each bucket pair joins locally.  This is the
persistent-layout complement to broadcast (small dims) and AQE (runtime
fixes): pay the shuffle once at write time, never at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_repartition_watermark_example_spark import artifacts


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort:
        w = w.sortBy(*bucket_cols)
    w.format("parquet").saveAsTable(table)


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
) -> str:
    """Idempotently materialize an external bucketed (+bucket-sorted)
    copy of a testdata table; returns the catalog table name.

    This is the storage-layout lever for the fact-side join tree: a
    scan of the bucketed copy reports
    ``HashPartitioning(bucket_cols, num_buckets)``, so a groupBy or
    join on the bucket key needs NO exchange — the shuffle was paid
    once at write time.  At 100 TB that converts the dominant
    per-query orderkey exchange of a 600M-row lineitem into a one-time
    layout decision (the sf10→sf100 sweep's one superlinear entry).

    The copy lands under the system temp dir keyed by (sf_dir, table,
    bucket_cols, num_buckets, source-file fingerprint), and its name is
    a session artifact (artifacts.py): re-invocations in the same
    application reuse the registered table, and a new application
    re-registers the files on disk.  The writer REPARTITIONS on the
    bucket columns first: repartition(n, cols) and the bucket-file router use the
    same Murmur3 hash, so each task then owns exactly one bucket —
    one output file per bucket, and the per-task write sort covers one
    bucket's rows instead of the task's whole input slice (the naive
    unpartitioned write sorted every input split across all buckets
    concurrently, which exhausted an 8 g heap on a 600M-row table).

    Bucket count is a LAYOUT CONSTANT that must match across the
    tables of a co-located join — callers joining two bucketed tables
    pass the same ``num_buckets`` for both, sized to the bigger one
    (see suggest_buckets).

    REBUILD TRIGGER: the source fingerprint includes ``st_mtime_ns``,
    so ANY metadata change to the source files — a byte-identical
    copy of the sf_dir, a ``touch``, a backup/restore — invalidates
    the cached layout and forces a full bucketBy rewrite (minutes and
    a sweep-sized heap at sf100).  That is deliberate: serving stale
    buckets after an in-place regeneration would be silently wrong,
    and content-hashing 100 TB to tolerate metadata-only changes costs
    more than the rewrite it avoids.  If you copied/moved a large
    sf_dir, preserve mtimes (``cp -p`` / ``rsync -a``) to keep the
    existing layout valid.
    """
    import hashlib
    import os
    import tempfile

    from flink_repartition_watermark_example_spark.sources.tables import load_table

    # Identity = (table, BUCKET COLS, count, SOURCE FINGERPRINT):
    # omitting bucket_cols would let two callers bucketing the same
    # table on different columns share one physical layout (a silently
    # wrong zero-exchange join once the DDL path re-registers it);
    # omitting the fingerprint would serve stale buckets after the
    # source data is regenerated in place.
    key = artifacts.table_key(
        "bucketed_table", sf_dir, table, tuple(bucket_cols), num_buckets
    )

    def build() -> str:
        # the name digest covers the same identity with per-file base
        # names, so layouts written by earlier versions keep their names
        ident = (
            os.path.abspath(sf_dir),
            table,
            tuple(bucket_cols),
            num_buckets,
            tuple((os.path.basename(p), n, t) for p, n, t in key.sources),
        )
        digest = hashlib.md5(repr(ident).encode()).hexdigest()[:10]
        name = f"{table}_bkt_{digest}"
        if not spark.catalog.tableExists(name):
            path = os.path.join(
                tempfile.gettempdir(), "spark_graft_bucketed", name
            )
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                # A previous SESSION already paid the bucketed write
                # (the layout's entire point): register the existing
                # files with bucket DDL instead of rewriting — Spark's
                # bucketed file names carry the bucket id, so a
                # metadata-only CREATE TABLE restores HashPartitioning
                # to the scan.  At sf100 the rewrite is a 600M-row
                # shuffle+sort+write; the DDL is instant (and the
                # rewrite under 32 concurrent bucket writers once
                # OOMed an 8g sweep heap).
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in load_table(spark, sf_dir, table).schema.fields
                )
                bcols = ", ".join(f"`{c}`" for c in bucket_cols)
                spark.sql(
                    f"CREATE TABLE {name} ({cols}) USING parquet "
                    f"CLUSTERED BY ({bcols}) SORTED BY ({bcols}) "
                    f"INTO {num_buckets} BUCKETS LOCATION '{path}'"
                )
            else:
                (
                    load_table(spark, sf_dir, table)
                    .repartition(num_buckets, *bucket_cols)
                    .write.mode("overwrite")
                    .option("path", path)
                    .bucketBy(num_buckets, *bucket_cols)
                    .sortBy(*bucket_cols)
                    .format("parquet")
                    .saveAsTable(name)
                )
        return name

    return artifacts.get_or_build(spark, key, build)


def suggest_buckets(
    sf_dir: str, table: str, target_mb: int = 128, lo: int = 32, hi: int = 1024
) -> int:
    """Bucket count sized to a table's on-disk bytes (~target_mb per
    bucket, clamped): the layout lever that keeps each bucket's sort
    and each reader task's slice memory-bounded at any SF.  Callers
    co-locating a join compute this ONCE from the bigger table and
    reuse it for every side."""
    import os

    src = os.path.join(sf_dir, f"{table}.parquet")
    paths = (
        [os.path.join(src, p) for p in os.listdir(src)]
        if os.path.isdir(src)
        else [src]
    )
    total = sum(os.path.getsize(p) for p in paths if os.path.isfile(p))
    return max(lo, min(hi, total // (target_mb * 1024 * 1024) or lo))


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on the same keys/bucket-count — the
    plan must contain no Exchange (asserted in tests)."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def zorder_key(c1, c2, bits: int = 16):
    """Morton (Z-order) key interleaving the low ``bits`` of two
    non-negative integer columns — bit i of each input lands at output
    bits 2i / 2i+1.  Pure JVM bit algebra (shiftright/&/|), unrolled in
    Python; no UDF."""
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(c1, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(c2, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """Lay the data down in Z-order on (col1, col2) so parquet
    row-group/file min-max stats prune on BOTH columns.

    A single-column sort clusters only its leading column; the Morton
    curve keeps 2-D neighborhoods contiguous, so a selective predicate
    on either column (or a box on both) touches a small fraction of
    files.  ``repartitionByRange`` on the key both sorts and splits the
    curve into ``num_files`` contiguous segments — one range shuffle,
    then a parallel write; the helper column is dropped before landing.
    """
    from pyspark.sql import functions as F

    keyed = df.withColumn("__z", zorder_key(F.col(col1), F.col(col2), bits))
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    target_file_mb: int = 512,
) -> int:
    """Compact a directory of (typically many small) parquet files into
    ~``target_file_mb``-sized files at ``dst_dir``; returns the output
    file count.

    The small-files problem is the dominant metadata tax of streaming
    and per-batch ingests: a million 1 MB files cost a NameNode/listing
    scan per query and one task per file.  Compaction here is
    partition-count arithmetic, not config guesswork: output files =
    ceil(input_bytes / target), laid down by a round-robin
    ``repartition(n)`` so files are uniformly sized regardless of key
    skew.  Runs as one distributed job; no driver-side data movement.

    Write lands in ``dst_dir`` (not in place): an atomic swap of the
    directory pointer is the caller's move — in-place compaction that
    deletes inputs on success is not crash-safe without a table format
    (Delta/Iceberg rewrite-files), which is out of scope here.
    """
    import math

    from pyspark.sql import functions as F

    files = spark.read.parquet(src_dir)
    # Distributed byte count via the file metadata column — no listing
    # loop on the driver, no full data scan (metadata-only projection).
    total_bytes = (
        files.select(F.col("_metadata.file_size").alias("sz"), F.col("_metadata.file_path").alias("fp"))
        .groupBy("fp")
        .agg(F.first("sz").alias("sz"))
        .agg(F.sum("sz").alias("b"))
        .collect()[0]["b"]
    ) or 0
    n = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    files.repartition(n).write.mode("overwrite").parquet(dst_dir)
    return n
