"""Lake layout: partitioned landing + bucketed tables (the 100 TB layer).

The reference's "lake" is a flat S3 prefix per topic with 10-record files
(reference connect_s3_sink_jovens.config:6,12) — no partitioning, no
clustering, nothing for a reader to prune on. At warehouse scale, layout IS
the query plan: this module owns the two layout contracts the engine's
operators rely on, with the plan-visible guarantees pinned in
tests/test_lake.py:

- **Partitioned landing** (``write_partitioned`` / ``scan with a partition
  predicate``): directory-encoded partition columns; a filter on them shows
  up as ``PartitionFilters`` in the scan and prunes whole directories
  before any IO. A date-partitioned 100 TB events table turns a one-day
  query into a ~0.3 TB scan.
- **Bucketed tables** (``write_bucketed``): pre-shuffled clustering on the
  join/agg key. Two tables bucketed on the same key with the same bucket
  count join with ZERO exchanges — at 100 TB that deletes the single most
  expensive stage of fact-fact joins. (Spark's bucketing needs
  ``saveAsTable``; the files carry bucket ids the planner trusts.)

Both writers are thin on purpose — layout decisions (columns, counts)
belong to the caller; the helpers encode only the mechanics plus the sizing
rules of thumb documented on each function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from kafka_exercise_spark.catalog import memo, rm_parent_dir


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Land a frame with directory-encoded partition columns.

    Sizing: pick partition columns with enough cardinality to prune but few
    enough distinct values that each directory holds ≥ one full parquet
    row group (128 MB-ish); high-cardinality keys belong in bucketing or
    file-level sorting (min/max skipping), never in partitionBy.
    """
    writer = df.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (optionally sorted) table.

    Sizing: n_buckets ≈ table_size / target_partition_size (aim 128-256 MB
    per bucket at the largest consumer); both sides of a co-located join
    must agree on (bucket_col, n_buckets). sort_col pre-sorts within
    buckets so sort-merge joins skip their sort too.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read of a saved (bucketed) table."""
    return spark.table(table)


def swap_side_dir(path: str) -> str:
    """Staging-directory name for an atomic dir replacement of ``path``."""
    return path.rstrip("/") + ".staging"


def recover_swap_state(path: str) -> None:
    """Converge any crashed prior swap of ``path``.

    A writer killed between the two commit renames leaves ``<path>.old``
    holding the live data with ``path`` missing — restore it; stale
    ``.old``/``.staging`` dirs from aborted runs are cleared so the next
    swap starts clean. Call before reading ``path`` for a rewrite.
    """
    import os
    import shutil

    old = path.rstrip("/") + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    shutil.rmtree(swap_side_dir(path), ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)


def commit_dir_swap(path: str) -> None:
    """Atomically replace ``path`` with its written ``.staging`` dir.

    The rename pair is the commit point; crash windows in between are
    healed by ``recover_swap_state`` on the next run. Single-FS rename —
    on object stores the same shape is write-new-prefix + repoint-manifest.
    """
    import os
    import shutil

    old = path.rstrip("/") + ".old"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(swap_side_dir(path), path)
    shutil.rmtree(old, ignore_errors=True)


def compact_landing(
    spark: SparkSession,
    path: str,
    target_records_per_file: int,
    partition_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Rewrite a small-files landing into right-sized files; returns
    (files_before, files_after).

    The reference's sink rolls a file every 10 records (reference
    connect_s3_sink_jovens.config:6 ``flush.size: 10``) — correct for
    latency, catastrophic for readers at scale: a year of 2-rows/s landing
    is ~6M tiny objects, and every scan pays per-file open/footer costs.
    Compaction is the standard second stage: read the landing, rewrite at
    target file size, atomically swap. Here the swap is
    write-to-side-dir + rename (single-FS move); on object stores the same
    shape runs as write-new-prefix + repoint-table/manifest.

    Readers running mid-compaction see the old prefix (the swap is the
    atomic step); streaming consumers of the landing should instead compact
    downstream-of-checkpoint paths only.

    Crash recovery via ``recover_swap_state``/``commit_dir_swap`` —
    re-running after a crash at any point converges.
    """
    import glob
    import os

    recover_swap_state(path)
    before = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    # persist: the frame is read twice (count to size the file count, then
    # the rewrite) — one scan of millions of tiny files is the job's whole
    # cost, so don't pay it twice
    df = spark.read.parquet(path).persist()
    try:
        # file count = ceil(rows / target): repartitioning wider than that
        # would re-create small files, narrower would exceed the target
        n_files = max(1, -(-df.count() // target_records_per_file))
        writer = (
            df.repartition(n_files)
            .write.mode("overwrite")
            .option("maxRecordsPerFile", target_records_per_file)
        )
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(swap_side_dir(path))
    finally:
        df.unpersist()
    commit_dir_swap(path)
    after = len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    return before, after


#: Z-order interleave width per dimension (16 bits) and the tile prefix:
#: top 8 z-bits → ≤256 tiles, the write-granularity of the clustered layout.
ZORDER_BITS = 16
ZORDER_TILE_SHIFT = 24


def zorder_value(d1, d2):
    """Bit-interleave two 16-bit dimensions into one 32-bit Morton (z) key.

    Straight-line integer expression — 32 constant-shift terms unrolled at
    plan-build time, so the whole key stays inside whole-stage codegen. (A
    higher-order ``F.aggregate`` fold was 10× slower: lambda bodies
    evaluate interpreted, outside codegen — the same measurement as the
    Bloom probe in operators/dedup.py.) Every intermediate < 2^32, exact
    in both Spark and the DuckDB oracle.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    one = F.lit(1).cast("long")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(d1, i).bitwiseAND(one), 2 * i)
        z = z + F.shiftleft(F.shiftright(d2, i).bitwiseAND(one), 2 * i + 1)
    return z


def zorder_tiled_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events + (u_bucket, v_bucket, tile): the ONE z-clustering plan both
    the audit (``zorder_events``) and the layout writer
    (``manifest_pruned_scan``) consume — shared so the audited boxes always
    describe the written layout.

    Normalization maps each dimension into the full 16-bit key space (what
    a real z-order writer does with per-column range ids): a tiny min/max
    agg (1 row) broadcast back — without it, a narrow dimension contributes
    only low bits and the interleave degenerates to a 1-D sort. (For a
    SKEWED dimension the production normalizer is the quantile-rank range
    id — same shape, different stats row; user_id and ts are both uniform
    here, so min-max is the right map.) A degenerate constant dimension
    (span 0) is guarded to span 1: it contributes constant bits instead of
    NULLing every z key.
    """
    from pyspark.sql import functions as F

    from kafka_exercise_spark.catalog import load_table

    events = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    stats = events.agg(
        F.min("user_id").alias("umin"),
        F.max("user_id").alias("umax"),
        F.min("ts_us").alias("vmin"),
        F.max("ts_us").alias("vmax"),
    )
    top = float((1 << ZORDER_BITS) - 1)
    scaled = events.crossJoin(F.broadcast(stats))
    one = F.lit(1).cast("long")
    d1 = F.floor(
        (F.col("user_id") - F.col("umin"))
        * top
        / F.greatest(F.col("umax") - F.col("umin"), one)
    ).cast("long")
    d2 = F.floor(
        (F.col("ts_us") - F.col("vmin"))
        * top
        / F.greatest(F.col("vmax") - F.col("vmin"), one)
    ).cast("long")
    z = zorder_value(d1, d2)
    return scaled.select(
        *events.columns,
        d1.alias("u_bucket"),
        d2.alias("v_bucket"),
        F.floor(z / F.lit(1 << ZORDER_TILE_SHIFT)).cast("long").alias("tile"),
    )


def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering audit over events — multi-dimensional
    data skipping, the layout lever single-column sort cannot give.

    A 100 TB events table queried by BOTH user range and time range can
    only prune on one of them if files are sorted by one column. Z-ordering
    interleaves the bits of the two dimensions so that a *prefix* of the z
    key is a quad-tree tile: writing one file per tile
    (``repartitionByRange(zval)`` + ``partitionBy(tile)`` in production)
    gives every file a tight min/max bounding box in BOTH dimensions, and a
    rectangle predicate touches only the files whose box intersects it —
    parquet footer stats do the skipping with no index structure at all.

    This entry emits the per-tile audit (row count + bbox in both dims):
    the exact numbers a reader's skipping decision uses, and what
    tests/test_lake.py measures the pruning win on. Map-only + one tiny
    per-tile aggregate; the z key is a pure function of the row, so layout
    is deterministic and incrementally maintainable (new files get z keys
    without touching old ones).
    """
    from pyspark.sql import functions as F

    tiled = zorder_tiled_events(spark, sf_dir).select(
        "u_bucket", "v_bucket", "tile"
    )
    return tiled.groupBy("tile").agg(
        F.count("*").alias("n_events"),
        F.min("u_bucket").alias("min_u"),
        F.max("u_bucket").alias("max_u"),
        F.min("v_bucket").alias("min_v"),
        F.max("v_bucket").alias("max_v"),
    )


def write_with_manifest(
    df: DataFrame,
    path: str,
    cluster_col: str,
    stat_cols: list[str],
) -> None:
    """Write a table clustered by ``cluster_col`` with a file-statistics
    manifest — the data-skipping contract of a table format (Iceberg/Delta
    manifests), on plain parquet.

    Each cluster value becomes one directory (``partitionBy``); the
    manifest records per-cluster min/max for every ``stat_col`` in a single
    tiny parquet. At 100 TB the manifest is what makes point/range reads
    cheap: the reader consults KBs of stats instead of listing+opening
    millions of footers. The manifest write is one small aggregate of the
    same frame (computed BEFORE the write from the identical plan, so
    stats and data cannot drift within this single-writer call).
    """
    import os

    from pyspark.sql import functions as F

    data_dir = os.path.join(path, "data")
    aggs = []
    for c in stat_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    manifest = df.groupBy(F.col(cluster_col).alias("cluster")).agg(
        *aggs, F.count("*").alias("n_rows")
    )
    df.write.mode("overwrite").partitionBy(cluster_col).parquet(data_dir)
    manifest.write.mode("overwrite").parquet(os.path.join(path, "manifest"))


def manifest_pruned_read(
    spark: SparkSession,
    path: str,
    cluster_col: str,
    predicates: dict[str, tuple],
) -> tuple[DataFrame, int, int]:
    """Range-predicate read that opens ONLY clusters whose manifest stats
    intersect every predicate; returns (frame, clusters_read,
    clusters_total).

    ``predicates`` maps column → (lo, hi), ANDed. The manifest filter is a
    driver-side read of the tiny stats table (the reader-side half of the
    table-format contract); survivors are read by directory path, and the
    row-level predicate is re-applied — stats PRUNE, they never decide
    membership, so the result is exact even with loose boxes.

    A NULL cluster (rows whose cluster column was null land in Spark's
    ``__HIVE_DEFAULT_PARTITION__`` dir) is skipped outright: its path name
    would not resolve via ``<col>=None``, and BETWEEN predicates can never
    match a row whose stat columns are the reason the box is NULL — callers
    clustering on a nullable column should route nulls explicitly.
    """
    import os

    from pyspark.sql import functions as F

    manifest = spark.read.parquet(os.path.join(path, "manifest"))
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        cond = cond & (F.col(f"min_{c}") <= hi) & (F.col(f"max_{c}") >= lo)
    total = manifest.count()
    survivors = [
        r.cluster
        for r in manifest.filter(cond).select("cluster").collect()
        if r.cluster is not None
    ]
    dirs = [
        os.path.join(path, "data", f"{cluster_col}={v}") for v in survivors
    ]
    if not dirs:
        empty = spark.read.parquet(os.path.join(path, "data")).limit(0)
        return empty.drop(cluster_col), 0, total
    frame = spark.read.option("basePath", os.path.join(path, "data")).parquet(*dirs)
    for c, (lo, hi) in predicates.items():
        frame = frame.filter(F.col(c).between(lo, hi))
    return frame.drop(cluster_col), len(dirs), total


def manifest_layout(spark: SparkSession, sf_dir: str) -> str:
    """Path of the z-clustered, manifest-stamped ``events`` layout of
    ``sf_dir``, written once and shared by every pruned read like a served
    lake table; the landing dir is removed when the memo drops it."""
    import os
    import tempfile

    def _build():
        # the SAME z-clustering plan the audit entry aggregates — shared
        # helper, so the audited boxes always describe this layout
        clustered = zorder_tiled_events(spark, sf_dir).select(
            "event_id", "user_id", "event_type", "value", "ts_us", "tile"
        )
        path = os.path.join(tempfile.mkdtemp(prefix="manifest_lake_"), "events")
        write_with_manifest(clustered, path, "tile", ["user_id", "ts_us"])
        return path

    return memo(spark, "manifest_layout", sf_dir, _build, cleanup=rm_parent_dir)


#: The contract query's 2-D range predicate: a user band × one week.
SCAN_USER_RANGE = (30, 60)
SCAN_TS_RANGE = (1704844800000000, 1705449600000000)  # 2024-01-10 .. 01-17 UTC, µs


def manifest_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-format-style pruned read, end to end: events written once as a
    z-clustered layout with a stats manifest, then a (user band × week)
    range query answered by opening ONLY the tile directories whose
    manifest boxes intersect the predicate.

    This is the read-path twin of ``zorder_events`` (which audits the
    boxes): the manifest consult is a driver-side read of a KB-scale stats
    table, survivors are read by path, and the row predicate re-applies —
    exact results, ~6 % of the data touched (pruning ratio pinned in
    tests/test_lake.py). At 100 TB the identical mechanics are why a
    clustered table answers point/range queries without a scan: stats
    first, data second, correctness from the re-applied predicate.
    """
    frame, _read, _total = manifest_pruned_read(
        spark,
        manifest_layout(spark, sf_dir),
        "tile",
        {"user_id": SCAN_USER_RANGE, "ts_us": SCAN_TS_RANGE},
    )
    return frame.select("event_id", "user_id", "event_type", "value")


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion round-trip — the interchange format LLM corpora
    actually ship in (one JSON object per line): write the ``documents``
    table as compressed JSONL, read it back, and prove losslessness by
    emitting a content fingerprint per document.

    The read uses an EXPLICIT schema: ``spark.read.json`` without one
    triggers a full inference pre-pass — at 100 TB that is a second scan
    of the corpus before the first real byte is processed, the classic
    semi-structured-ingest mistake. Gzip per-file keeps the landing
    splittable at the file level (many files × one stream each — the
    layout JSONL corpora ship in).
    """
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from pyspark.sql import functions as F  # noqa: PLC0415

    from kafka_exercise_spark.catalog import load_table  # noqa: PLC0415
    from kafka_exercise_spark.functions.text import md5_hash64  # noqa: PLC0415

    def _build():
        path = os.path.join(tempfile.mkdtemp(prefix="jsonl_lake_"), "documents")
        (
            load_table(spark, sf_dir, "documents")
            .write.option("compression", "gzip")
            .json(path)
        )
        return path

    path = memo(spark, "jsonl_roundtrip", sf_dir, _build, cleanup=rm_parent_dir)
    docs = load_table(spark, sf_dir, "documents")
    back = spark.read.schema(docs.schema).json(path)
    return back.select(
        "doc_id",
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        md5_hash64(F.col("text")).alias("text_fp"),
    )
