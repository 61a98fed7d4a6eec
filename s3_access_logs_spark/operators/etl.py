"""ETL sink + end-to-end job: parsed logs -> hive-partitioned Parquet.

Covers the reference's write path (write_dataset s3access/parquet.py:31-112,
invoked cmd/export.py:142-154):

* hive partition layout ``bucket_name/operation/year/month/day/hour``
  (cmd/export.py:146) via ``partitionBy`` — partition columns are dropped
  from data files automatically, matching s3access/parquet.py:50-61;
* SNAPPY compression (cmd/export.py:145);
* row-group clustering on (requester, remoteip_int, is_assumed_role,
  is_user) (cmd/export.py:148) expressed as ``sortWithinPartitions`` so
  parquet min/max stats give equivalent row-group skipping — the
  reference's literal one-row-group-per-combo would produce pathological
  tiny row groups at 100 TB;
* idempotent rerun via dynamic partition overwrite instead of tracking
  files (cmd/export.py:158-168, :319-324): re-running an hour replaces
  exactly that hour's partitions.

At scale: the write shuffles once on the partition keys (repartition before
sort) so each task writes few partitions; without it, every input task
writes a file into every output partition -> small-file explosion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_access_logs_spark.operators.observed import observe
from s3_access_logs_spark.operators.parse import parse_logs
from s3_access_logs_spark.schema import PARTITION_COLS, ROW_GROUP_COLS
from s3_access_logs_spark.sources.logs import read_logs


def write_logs(
    df: DataFrame,
    dst: str,
    mode: str = "overwrite",
    files_per_partition: int = 1,
    max_records_per_file: int = 5_000_000,
    reference_filenames: bool = False,
    extra_part_cols: tuple[str, ...] = (),
) -> None:
    """Write the parsed table hive-partitioned, clustered, idempotent.

    ``extra_part_cols`` append INNER partition levels after the standard
    bucket/op/time layout — the streaming sink passes ``("batch_id",)``
    so dynamic partition overwrite rewrites exactly one micro-batch's
    leaves on replay instead of clobbering every earlier batch that
    shares an hour (hour pruning is untouched: the outer levels are the
    same).

    Scale knobs:

    * ``files_per_partition`` — a single bucket x op x hour output partition
      is ONE task under plain ``repartition(part_cols)``; for a hot
      partition (one bucket taking most of an hour's traffic) that task is
      the straggler. >1 adds a deterministic salt (hash of the row-group
      cluster columns) to the shuffle key, spreading the partition across N
      writer tasks. Content is unchanged; only file layout varies, and
      dynamic partition overwrite still replaces whole directories on
      rerun, so idempotency is preserved.
    * ``max_records_per_file`` — hard upper bound per output file so a big
      partition can never produce a multi-GB parquet file that downstream
      readers can't split row-group-parallel.
    * ``reference_filenames`` — after the commit, rename each partition's
      data file(s) to the reference's deterministic
      ``<bucket>-<op>-<y>-<m>-<d>-<h>.parquet`` scheme
      (cmd/export.py:147) via :func:`apply_reference_filenames`.
    """
    part_cols = [c for c in PARTITION_COLS if c in df.columns] + [
        c for c in extra_part_cols if c in df.columns
    ]
    sort_cols = [c for c in ROW_GROUP_COLS if c in df.columns]
    out = df
    if part_cols:
        keys = [F.col(c) for c in part_cols]
        if files_per_partition > 1:
            salt_src = sort_cols if sort_cols else df.columns[:1]
            keys.append(
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in salt_src]),
                    F.lit(files_per_partition),
                )
            )
        out = out.repartition(*keys)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    writer = (
        out.write.mode(mode)
        .option("compression", "snappy")
        .option("maxRecordsPerFile", max_records_per_file)
    )
    if part_cols:
        writer = writer.partitionBy(*part_cols)
        if mode == "overwrite":
            # Write-scoped, not session conf: this writer's documented
            # semantics are idempotent partition replacement, and under
            # static mode (plain spark-submit without session.py's
            # factory) a bare overwrite would wipe the whole dst tree.
            # The per-write option overrides the session setting without
            # mutating shared state other writes in the session observe
            # (ADVICE r4).
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(dst)
    if reference_filenames and part_cols:
        apply_reference_filenames(df.sparkSession, dst)


def apply_reference_filenames(spark: SparkSession, root: str) -> int:
    """Rename every committed data file under a hive-layout table to the
    reference's deterministic per-partition name: the partition VALUES
    joined with ``-`` plus ``.parquet`` (cmd/export.py:147
    ``partition_filename_cb=lambda x: "-".join(...) + ".parquet"``), e.g.
    ``mybucket/REST.GET.OBJECT/2019/02/06/0/
    mybucket-REST.GET.OBJECT-2019-02-06-0.parquet`` — closing SURVEY §7
    hard-part 3 (byte-level layout parity) without a custom commit
    protocol.

    Shape and scale:

    * Runs AFTER the parquet commit, so the job's fault tolerance is
      unchanged — a crash mid-rename leaves every file either Spark-named
      or reference-named, all committed data, and a rerun of the hour
      (dynamic partition overwrite) or of this helper converges the names.
    * One ``listFiles`` walk + one ``rename`` per data file, driver-side
      through the Hadoop FileSystem API (file/hdfs/s3a alike). Renames are
      metadata-only on HDFS/local; on S3 a rename is a server-side copy —
      the same per-partition object count the reference itself uploads.
      The walk is O(partition dirs) per hour job (buckets x operations),
      the reference's own driver-side ``groupby`` grain, so this is not a
      data-volume-bound step.
    * When a partition holds several files (``files_per_partition`` > 1 or
      a ``maxRecordsPerFile`` split — cases the reference cannot produce,
      since it buffers the whole partition in RAM), the first file keeps
      the bare reference name and the rest get a stable ``-NNNN`` suffix
      in committed-name order, so reruns are still deterministic.
    * Hive-escaped path values are unescaped for the filename, except the
      two characters a Hadoop path segment cannot carry — ``/`` (the
      separator) and ``:`` (parsed as a URI scheme by ``Path`` and by the
      local ChecksumFileSystem's own ``.crc`` sibling) stay
      percent-encoded. Real S3 access-log partition values (bucket names
      ``[a-z0-9.-]``, operations ``[A-Z._]``, date parts) contain
      neither, so on the reference's actual domain the names are
      byte-identical to its ``str(value)``. NULL partition values keep
      Spark's ``__HIVE_DEFAULT_PARTITION__`` sentinel in the name —
      pandas ``groupby`` silently DROPS null-key rows, so the reference
      never writes such a partition at all; keeping the row under a
      deterministic name is the lossless choice.

    Returns the number of files renamed (already-conforming files are
    left alone, so rerunning is a no-op).
    """
    from urllib.parse import unquote

    from s3_access_logs_spark.sources.fsutil import (
        NULL_PART,
        hadoop_fs,
        iter_data_files,
    )

    fs, jpath = hadoop_fs(spark, root)
    if not fs.exists(jpath):
        return 0
    Path = spark._jvm.org.apache.hadoop.fs.Path

    per_dir: dict[str, list] = {}
    for rel, st in iter_data_files(fs, jpath):
        if not rel or any("=" not in seg for seg in rel.split("/")):
            continue  # root-level files / non-hive layout
        per_dir.setdefault(rel, []).append(st.getPath())

    renamed = 0
    for rel, files in sorted(per_dir.items()):
        values = [
            raw
            if raw == NULL_PART
            else unquote(raw).replace("/", "%2F").replace(":", "%3A")
            for raw in (seg.split("=", 1)[1] for seg in rel.split("/"))
        ]
        stem = "-".join(values)

        def target(i: int) -> str:
            return f"{stem}.parquet" if i == 0 else f"{stem}-{i:04d}.parquet"

        # Never delete: names already in the reference scheme are "taken"
        # and kept (rerun no-op; append-mode commits mix conforming and
        # Spark-named files), every other file takes the next free slot in
        # committed-name order — deterministic given the commit.
        taken = {p.getName() for p in files}
        pending = sorted(
            (p for p in files if p.getName() not in
             {target(i) for i in range(len(files))}),
            key=lambda p: p.getName(),
        )
        i = 0
        for src in pending:
            while target(i) in taken:
                i += 1
            name = target(i)
            taken.add(name)
            # Path(parent, name) would parse a ':' in the value as a URI
            # scheme (java.net.URISyntaxException); building the child
            # from an explicit URI path component keeps such names legal
            # wherever the underlying store allows them (local, s3a).
            parent_uri = src.getParent().toUri()
            dst_path = Path(
                spark._jvm.java.net.URI(
                    parent_uri.getScheme(),
                    parent_uri.getAuthority(),
                    parent_uri.getPath() + "/" + name,
                    None,
                    None,
                )
            )
            if not fs.rename(src, dst_path):
                raise IOError(f"rename failed: {src} -> {dst_path}")
            renamed += 1
    return renamed


def read_parsed(spark: SparkSession, path: str) -> DataFrame:
    """Read the partitioned parsed-log table back (partition pruning on the
    hive columns is automatic). A streaming-written table carries the
    sink's internal ``batch_id`` partition level — dropped here so batch
    and streaming exports read back with one schema."""
    df = spark.read.parquet(path)
    return df.drop("batch_id") if "batch_id" in df.columns else df


def export_hour(
    spark: SparkSession,
    src: str,
    dst: str,
    hour: str | None = None,
    reference_filenames: bool = False,
) -> int:
    """The reference's whole job (cmd/export.py main, :204-397) as one
    Spark plan: scan -> parse -> partitioned write. Returns rows written,
    counted by the write itself. An hour with no input writes no
    partition directory (dynamic overwrite replaces only partitions that
    receive rows)."""
    parsed, written = observe(
        parse_logs(read_logs(spark, src, hour=hour)),
        F.count(F.lit(1)).alias("n"),
    )
    write_logs(parsed, dst, reference_filenames=reference_filenames)
    return written()["n"]


# ---------------------------------------------------------------------------
# Small-file compaction
#
# The streaming ingest path (streaming/pipeline.py) and incremental hourly
# reruns leave each hive partition with one parquet file per micro-batch /
# run. At 100 TB that is the classic small-file problem: a scan pays
# open/footer costs per file, and task scheduling degenerates to
# file-granularity. Plain parquet has no snapshot metadata (that is
# Iceberg/Delta territory), so compaction must STAGE new files and swap
# them in: Spark refuses to overwrite a path it is reading
# ("Cannot overwrite a path that is also being read from"), and even if it
# did not, a mid-job failure would destroy data. The swap renames leaf
# dirs from the driver (sources.fsutil.swap_leaves) — metadata-only on
# HDFS/local; on object stores rename is a copy, which is the same cost
# every compactor (including Iceberg's rewrite action) pays to move bytes.
# ---------------------------------------------------------------------------


def partition_file_stats(spark: SparkSession, root: str) -> list[dict]:
    """Inventory the leaf partition directories of a hive-layout table via
    the Hadoop FileSystem API (works on file://, hdfs:// and s3a:// alike):
    one dict per leaf dir with its data-file count and total bytes.
    Hidden dirs are skipped as Hive readers skip them — this is also what
    keeps a maintenance op's staging/trash out of the victim set."""
    from s3_access_logs_spark.sources.fsutil import hadoop_fs, iter_data_files

    fs, jpath = hadoop_fs(spark, root)
    if not fs.exists(jpath):
        return []
    per_dir: dict[str, dict] = {}
    for rel, st in iter_data_files(fs, jpath):
        d = per_dir.setdefault(
            rel, {"partition": rel, "n_files": 0, "bytes": 0}
        )
        d["n_files"] += 1
        d["bytes"] += st.getLen()
    return sorted(per_dir.values(), key=lambda d: d["partition"])


def compact_partitions(
    spark: SparkSession,
    root: str,
    target_file_bytes: int = 128 << 20,
    max_records_per_file: int = 5_000_000,
    dry_run: bool = False,
) -> list[dict]:
    """Rewrite over-fragmented partitions of a hive-layout parquet table
    down to ``ceil(bytes / target_file_bytes)`` files each.

    Scale shape: victim selection is pure file-listing (no data read); the
    rewrite is ONE Spark job over only the victim partitions' bytes — each
    victim is read, shuffled once on (partition cols, salt) so that every
    output file is produced by exactly one task, and staged under
    ``<root>/_compact_staging``. Untouched partitions are never read,
    never rewritten. The victims are then swapped in by the stage-and-swap
    protocol of ``sources.fsutil`` (move aside, ``_moved_ok`` commit
    marker, install), and every run first converges a crashed swap of any
    maintenance op on the table (``recover_swaps``). Idempotent: a rerun
    finds every partition already at its target count and selects nothing.

    Returns the victim inventory (partition, n_files, bytes,
    target_files); with ``dry_run`` it only returns the plan."""
    import math

    from s3_access_logs_spark.sources.fsutil import (
        COMPACT_DIRS,
        NULL_PART,
        recover_swaps,
        swap_leaves,
    )

    recover_swaps(spark, root)
    stats = partition_file_stats(spark, root)
    victims = []
    for d in stats:
        target = max(1, math.ceil(d["bytes"] / target_file_bytes))
        if d["n_files"] > target:
            victims.append({**d, "target_files": target})
    if not victims or dry_run:
        return victims

    part_cols: list[str] = []
    for seg in victims[0]["partition"].split("/"):
        if "=" not in seg:
            raise ValueError(
                f"not a hive partition dir: {victims[0]['partition']!r}"
            )
        part_cols.append(seg.split("=", 1)[0])

    # (partition-col values as path strings) -> target file count; joined
    # broadcast so one job covers every victim with per-partition fan-out.
    # Matching is done on the EXACT path representation: partition-column
    # type inference is disabled for this read so a zero-padded `hour=01`
    # stays the string "01" (inference would read int 1, whose string cast
    # "1" matches nothing), path values are hive-unescaped before
    # comparison (`ts=00%3A00` stores ':'), and the null-partition
    # sentinel maps to an IS NULL predicate. Values written back re-escape
    # identically, so the staged dirs' names match the victims' names.
    from urllib.parse import unquote

    stats_rows = []
    for v in victims:
        vals = tuple(
            None if raw == NULL_PART else unquote(raw)
            for raw in (
                seg.split("=", 1)[1] for seg in v["partition"].split("/")
            )
        )
        stats_rows.append(vals + (v["target_files"],))
    stats_schema = ", ".join(
        [f"`_pv_{c}` string" for c in part_cols] + ["`_target_files` int"]
    )
    stats_df = spark.createDataFrame(stats_rows, stats_schema)
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_prev = spark.conf.get(infer_key, "true")
    spark.conf.set(infer_key, "false")
    try:
        # partition discovery resolves eagerly at read time, so the conf
        # can be restored as soon as the DataFrame exists
        data = spark.read.option("basePath", root).parquet(
            *[f"{root.rstrip('/')}/{v['partition']}" for v in victims]
        )
    finally:
        spark.conf.set(infer_key, infer_prev)
    cond = None
    for c in part_cols:
        eq = (F.col(c) == F.col(f"_pv_{c}")) | (
            F.col(c).isNull() & F.col(f"_pv_{c}").isNull()
        )
        cond = eq if cond is None else (cond & eq)
    # Deterministic salt: a nondeterministic key (monotonically_increasing_id,
    # rand) under repartition loses/duplicates rows when a task retries after
    # a fetch failure — the exact failure mode a 1000-executor compaction job
    # WILL hit. Hash every hashable column instead (maps are not hashable —
    # even nested inside structs/arrays, xxhash64 rejects them), so a
    # retried task re-derives identical routing.
    from pyspark.sql.types import ArrayType, MapType, StructType

    def _contains_map(dt) -> bool:
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return _contains_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(_contains_map(f.dataType) for f in dt.fields)
        return False

    hashable = [
        f.name
        for f in data.schema.fields
        if f.name not in part_cols and not _contains_map(f.dataType)
    ]
    salt = (
        F.pmod(F.xxhash64(*[F.col(c) for c in hashable]), F.col("_target_files"))
        if hashable
        else F.lit(0)
    )
    salted = (
        data.join(F.broadcast(stats_df), cond)
        .withColumn("_salt", salt)
        .drop(*[f"_pv_{c}" for c in part_cols], "_target_files")
    )
    out = salted.repartition(
        *[F.col(c) for c in part_cols], F.col("_salt")
    ).drop("_salt")
    cluster_cols = [c for c in ROW_GROUP_COLS if c in data.columns]
    if cluster_cols:  # keep the log table's row-group clustering intact
        out = out.sortWithinPartitions(*cluster_cols)
    (
        out.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*part_cols)
        .parquet(f"{root.rstrip('/')}/{COMPACT_DIRS[0]}")
    )
    swap_leaves(spark, root, [v["partition"] for v in victims], COMPACT_DIRS)
    return victims
