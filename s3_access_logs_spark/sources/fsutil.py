"""Shared Hadoop FileSystem access — ONE copy of the py4j plumbing.

Every path the engine touches (file://, hdfs://, s3a://) resolves through
the same FileSystem abstraction Spark's own readers use, so preflight
checks, compaction swaps and store probes all see exactly what a
subsequent job will see. Centralized here because the pattern had grown
independent copies in cli.py, operators/etl.py and streaming/pipeline.py
— each of which had to stay individually correct about configuration
plumbing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for any Hadoop-supported scheme."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path


CURATE_MARKER = "_curate_owned"
# the first marker scheme lived INSIDE the partition dir; stores marked
# by it are still recognized (dual read below), never written anew
LEGACY_CURATE_MARKER = "_curate_batch"


def _marker_jpath(spark, store: str, batch_id: int, marker: str):
    # STORE-ROOT file, not a file inside the partition dir: dynamic
    # partition overwrite deletes the partition's contents, so an
    # in-partition marker vanishes during every curate replay and a
    # crash before the re-stamp would leave committed curate rows
    # unmarked — exactly the unguarded state the marker exists to
    # prevent (review r5). Root-level ``_``-files survive any partition
    # write and stay invisible to parquet readers.
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.Path(
        f"{store.rstrip('/')}/{marker}_{batch_id}"
    )


def partition_has_marker(
    spark: SparkSession, store: str, batch_id: int, marker: str = CURATE_MARKER
) -> bool:
    """True iff ``batch_id=<n>`` carries the named ownership marker (a
    ``_``-prefixed store-root file, invisible to every parquet reader).
    Ownership markers make the shared batch_id store layout safe for
    TWO writers — the streaming ingest (unmarked partitions) and
    ``curate_corpus`` (marked) — by letting each side refuse to
    dynamic-overwrite the other's committed history (review r5). A
    store marked by the first, in-partition scheme is still recognized
    so an existing store's protection survives the relocation."""
    fs, _ = hadoop_fs(spark, store)
    if fs.exists(_marker_jpath(spark, store, batch_id, marker)):
        return True
    jvm = spark._jvm
    return bool(
        fs.exists(
            jvm.org.apache.hadoop.fs.Path(
                f"{store.rstrip('/')}/batch_id={batch_id}/"
                f"{LEGACY_CURATE_MARKER}"
            )
        )
    )


def touch_partition_marker(
    spark: SparkSession, store: str, batch_id: int, marker: str = CURATE_MARKER
) -> None:
    """Stamp the ownership marker. Callers stamp BEFORE writing data
    (claim-first): the marker survives the write and any crash, so
    there is no window in which committed rows sit unmarked."""
    fs, _ = hadoop_fs(spark, store)
    fs.create(_marker_jpath(spark, store, batch_id, marker), True).close()


def remove_partition_marker(
    spark: SparkSession, store: str, batch_id: int, marker: str = CURATE_MARKER
) -> None:
    """Retire an ownership marker (idempotent; absent is fine). One
    module owns the marker path scheme — callers never build paths."""
    fs, _ = hadoop_fs(spark, store)
    fs.delete(_marker_jpath(spark, store, batch_id, marker), False)


def list_partition_markers(
    spark: SparkSession, store: str, marker: str = CURATE_MARKER
) -> set[int]:
    """Batch ids carrying a store-root ownership marker."""
    fs, root = hadoop_fs(spark, store)
    if not fs.exists(root):
        return set()
    out: set[int] = set()
    prefix = f"{marker}_"
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith(prefix):
            try:
                out.add(int(name[len(prefix):]))
            except ValueError:
                continue
    return out


def write_json_sidecar(
    spark: SparkSession, dir_path: str, name: str, obj: dict
) -> None:
    """Write a small ``_``-prefixed JSON sidecar at a store root —
    invisible to every parquet reader (same family as the ownership
    markers), durable across partition appends, resolved through the
    same FileSystem abstraction as the data so it works on any
    Hadoop-supported scheme. Overwrites an existing sidecar of the same
    name. Used for index metadata (e.g. the IVF-PQ residual/dims/m
    contract) that MUST travel with the artifact rather than rely on
    every caller re-passing the build-time flags correctly."""
    import json

    fs, _ = hadoop_fs(spark, dir_path)
    jvm = spark._jvm
    root = dir_path.rstrip("/")
    p = jvm.org.apache.hadoop.fs.Path(f"{root}/{name}")
    # write-to-temp + rename (review r8): fs.create(p, true) truncates
    # in place, so a crash mid-write — or a concurrent reader racing the
    # stamp — would surface as an opaque JSONDecodeError on every later
    # probe instead of the recoverable missing-sidecar path. The rename
    # is atomic on HDFS/local; on S3A it is copy+delete, but the copy
    # only becomes visible complete, which keeps readers safe there too.
    tmp = jvm.org.apache.hadoop.fs.Path(f"{root}/.{name}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps(obj, sort_keys=True).encode("utf-8")))
    finally:
        out.close()
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        raise IOError(
            f"write_json_sidecar: rename {tmp} -> {p} failed"
        )


def read_json_sidecar(
    spark: SparkSession, dir_path: str, name: str
) -> dict | None:
    """Parse a sidecar written by :func:`write_json_sidecar`; ``None``
    if absent (e.g. an index built before the sidecar scheme existed)."""
    import json

    fs, _ = hadoop_fs(spark, dir_path)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{dir_path.rstrip('/')}/{name}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io ships with Hadoop; a py4j bytearray argument would
        # be copied INTO the JVM (readFully's mutation would be lost),
        # so read through a JVM-side helper that RETURNS the bytes
        data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    try:
        return json.loads(bytes(data).decode("utf-8"))
    except (ValueError, UnicodeDecodeError) as e:
        # a truncated/corrupt sidecar (pre-rename-era writer crash, or
        # out-of-band damage) should surface as the documented
        # recoverable contract, not an opaque JSONDecodeError
        raise ValueError(
            f"corrupt JSON sidecar {dir_path.rstrip('/')}/{name} "
            f"({e}); re-stamp it with the store's known contract (its "
            "temp+rename write replaces the damaged file — for a vector "
            "index, which every index op checks, "
            "operators.similarity.stamp_ivfpq_meta with the build-time "
            "flags) or rebuild the store"
        ) from e


def iter_data_files(fs, jpath):
    """Yield ``(rel_dir, FileStatus)`` for every COMMITTED data file under
    ``jpath`` (recursively), ``rel_dir`` being its directory relative to
    ``jpath``. Underscore/dot-prefixed names — _SUCCESS, _temporary,
    .spark-staging, a maintenance op's staging/trash — are skipped, and
    so is everything below such a dir. Only segments BELOW ``jpath``
    are judged: a store whose own path sits under a hidden ancestor
    (``.cache/``, ``_runs/``) is still read like any other."""
    root_uri = fs.makeQualified(jpath).toString().rstrip("/")
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().startswith(("_", ".")):
            continue
        rel = p.getParent().toString()[len(root_uri):].strip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        yield rel, st


def has_data_files(spark: SparkSession, path_str: str) -> bool:
    """True iff the directory holds at least one COMMITTED data file
    (:func:`iter_data_files`).

    The distinction matters for store-probing: a dir can EXIST while
    holding no data (an empty first write leaves only _SUCCESS; a crashed
    first attempt leaves staging debris), and `spark.read.parquet` on such
    a dir throws "Unable to infer schema" — which must read as "empty
    store", not as a permanent failure."""
    fs, jpath = hadoop_fs(spark, path_str)
    if not fs.exists(jpath):
        return False
    return next(iter_data_files(fs, jpath), None) is not None


# ---------------------------------------------------------------------------
# Stage-and-swap: the ONE crash-safe protocol for rewriting committed leaf
# partitions in place (small-file compaction, the ingest/token-store folds,
# purge). The op writes its new leaves under ``<root>/<staging>``, then
# :func:`swap_leaves` moves the old leaves aside to ``<root>/<trash>``,
# stamps ``<staging>/_moved_ok`` — the commit point — installs every staged
# leaf and drops trash + staging. :func:`recover_swaps` heals a crash at any
# point: with the marker it rolls FORWARD (finish the install; trash holds
# superseded copies), without it it rolls BACK (restore trash; the install
# never began). The marker, not directory existence, decides, because on
# object stores (s3a) a directory rename is per-object copy+delete and a
# crash mid-move leaves a leaf split across two dirs; every move is a
# by-basename merge (:func:`_merge_dir`), so split leaves reassemble to
# exactly one copy of every file and a re-crashed recovery converges.
# Each op keeps its own (staging, trash) names so residue says which op
# crashed; recovery and the reader guard cover all of them, so any
# maintenance op heals any other op's crash.
# ---------------------------------------------------------------------------

FOLD_DIRS = ("_fold_staging", "_fold_trash")
PURGE_DIRS = ("_purge_staging", "_purge_trash")
COMPACT_DIRS = ("_compact_staging", "_compact_trash")
_SWAP_DIRS = {
    "fold": FOLD_DIRS, "purge": PURGE_DIRS, "compaction": COMPACT_DIRS,
}
MOVED_OK = "_moved_ok"
NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _hive_leaves(fs, root_path):
    """Yield ``(rel, Path)`` for the LEAF hive dirs under ``root_path``
    at whatever depth the tree has: descend while a dir has hive
    (``col=value`` / null-partition) children, yield when it has none —
    depth-agnostic, so recovery never needs to know (or guess) a
    crashed tree's layout (a fixed depth inferred from the live store
    misclassifies a store whose data sits entirely in staging/trash)."""
    if not fs.exists(root_path):
        return
    frontier = [("", root_path)]
    while frontier:
        rel, p = frontier.pop()
        kids = [
            st
            for st in fs.listStatus(p)
            if st.isDirectory()
            and (
                "=" in st.getPath().getName()
                or st.getPath().getName() == NULL_PART
            )
        ]
        if not kids and rel:
            yield rel, p
            continue
        for st in kids:
            name = st.getPath().getName()
            frontier.append(
                (f"{rel}/{name}" if rel else name, st.getPath())
            )


def _merge_dir(fs, HPath, src_dir, dst_dir) -> None:
    """Move ``src_dir`` to ``dst_dir``: one rename when ``dst_dir`` is
    absent, else every entry moved across, skipping names already
    present. S3 copy is atomic per object and part-file names are
    unique, so a name present on both sides is the same whole object
    (a crashed per-object move caught between copy and delete) —
    union-by-basename reconstructs exactly one copy of every file, and
    re-running after another crash converges."""
    if not fs.exists(src_dir):
        return
    if not fs.exists(dst_dir):
        fs.mkdirs(dst_dir.getParent())
        if not fs.rename(src_dir, dst_dir):
            raise IOError(f"swap: cannot move {src_dir} to {dst_dir}")
        return
    for st in fs.listStatus(src_dir):
        dst = HPath(f"{dst_dir}/{st.getPath().getName()}")
        if fs.exists(dst):
            continue  # same object, already (copied) there
        if not fs.rename(st.getPath(), dst):
            raise IOError(
                f"swap: cannot move {st.getPath()} into {dst_dir}; "
                "store left as-is for manual recovery"
            )
    fs.delete(src_dir, True)


def _merge_tree(fs, HPath, src_root, root: str) -> None:
    # every hive leaf under src_root merged into the same rel under root
    for rel, p in _hive_leaves(fs, src_root):
        _merge_dir(fs, HPath, p, HPath(f"{root}/{rel}"))


def swap_leaves(
    spark: SparkSession, root: str, moved_rels, names: tuple[str, str]
) -> None:
    """Replace leaves of the hive table at ``root`` with the ones the
    caller already wrote under ``<root>/<names[0]>`` (staging): move
    each existing ``<root>/<rel>`` in ``moved_rels`` aside to
    ``<root>/<names[1]>`` (trash), stamp the commit marker, install
    every staged leaf, drop trash and staging. A leaf moved aside with
    no staged replacement is gone afterwards (e.g. a fully purged
    leaf). Callers run :func:`recover_swaps` before staging, so trash
    starts empty."""
    fs, _ = hadoop_fs(spark, root)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    root = root.rstrip("/")
    staging, trash = (HPath(f"{root}/{n}") for n in names)
    for rel in moved_rels:
        _merge_dir(fs, HPath, HPath(f"{root}/{rel}"), HPath(f"{trash}/{rel}"))
    fs.create(HPath(f"{staging}/{MOVED_OK}"), True).close()
    _merge_tree(fs, HPath, staging, root)
    fs.delete(trash, True)
    fs.delete(staging, True)


def recover_swaps(spark: SparkSession, root: str) -> None:
    """Converge a crashed (or interrupted) swap of ANY op at ``root``:
    marker present — roll forward (install staged leaves, drop the
    superseded trash); no marker — roll back (restore trash). Writer
    side only: every maintenance op runs it first. A reader must not
    (racing a live, healthy swap it would undo it) — readers call
    :func:`check_no_swap_residue`."""
    fs, _ = hadoop_fs(spark, root)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    root = root.rstrip("/")
    for staging_name, trash_name in _SWAP_DIRS.values():
        staging = HPath(f"{root}/{staging_name}")
        trash = HPath(f"{root}/{trash_name}")
        if not (fs.exists(staging) or fs.exists(trash)):
            continue
        committed = fs.exists(HPath(f"{staging}/{MOVED_OK}"))
        _merge_tree(fs, HPath, staging if committed else trash, root)
        fs.delete(trash, True)
        fs.delete(staging, True)


def check_no_swap_residue(spark: SparkSession, path: str) -> None:
    """Refuse to read a store that carries a crashed (or in-progress)
    swap's residue. Trash may hold the ONLY copy of moved-aside rows in
    a ``_``-prefixed dir every parquet reader silently SKIPS, so a dedup
    gate reading past it would see a partial store and commit silent
    duplicates. Detect, stop loudly, and let a maintenance op's
    :func:`recover_swaps` converge the store. Cost when healthy: six
    driver-side ``exists`` calls."""
    fs, _ = hadoop_fs(spark, path)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    root = path.rstrip("/")
    for op, dirs in _SWAP_DIRS.items():
        for residue in dirs:
            if fs.exists(HPath(f"{root}/{residue}")):
                raise RuntimeError(
                    f"store at {path!r} has {op} residue ({residue}) "
                    "from a crashed or in-progress maintenance run — "
                    "reading past it would treat moved-aside rows as "
                    "absent (silent duplicate ingestion). Re-run a "
                    "maintenance op on this store (compact_ingest_store, "
                    "compact_token_store, purge_documents or "
                    "compact_partitions: each first completes or rolls "
                    "back the crashed swap), then retry."
                )


# ---------------------------------------------------------------------------
# The ``batch_id=<n>`` store layout: the replay-idempotent append-only stores
# the streaming ingest, curate's incremental mode, the sketch streams and the
# token shard sink grow. Every store append, history read, leaf listing and
# fold goes through the four helpers below. Micro-batch ids count up from 0,
# so a fold's base leaf ``batch_id=-1`` can never collide with a live batch.
# ---------------------------------------------------------------------------

FOLD_BASE_ID = -1


def write_batch_partition(
    df,
    batch_id: int,
    path: str,
    allow_curate: bool = False,
    extra_partition_cols: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = (),
) -> None:
    """The ONE batch_id-partitioned store append every foreachBatch sink
    (and curate_corpus's incremental appends, and the fold's staged base)
    uses: the batch_id column is stamped here and dynamic overwrite is
    scoped to THIS write, so an at-least-once replay rewrites exactly its
    own partition and the shared session's overwrite mode is never
    touched (ADVICE r4). One place owns the store-write contract —
    compression, file-size bounds or commit options change here, not in
    nine inline copies (review r5).

    Ownership guard (review r5, both directions): ``curate_corpus``
    stamps its partitions with a marker so a colliding streaming epoch
    id cannot silently dynamic-overwrite curate-committed history — the
    digests would vanish AND that batch's replay exclusion would hide
    the loss, re-ingesting every curated document downstream. Stream
    sinks therefore fail loudly here on a marked partition; curate's own
    appends pass ``allow_curate=True`` (its entry check already
    validated the id against foreign UNMARKED partitions). The check is
    one driver-side ``exists`` per store write; markers are store-root
    files stamped claim-first, so they survive the partition overwrite
    itself and a writer's own replay always passes."""
    if not allow_curate and partition_has_marker(
        df.sparkSession, path, batch_id
    ):
        raise RuntimeError(
            f"write_batch_partition: batch_id={batch_id} in {path!r} was "
            "committed by curate_corpus (ownership marker present) — a "
            "streaming epoch overwriting it would silently erase curated "
            "history and re-ingest those documents as new. The stream's "
            "checkpoint epoch has collided with a curate store_batch_id; "
            "re-curate into a disjoint id range (e.g. far above the "
            "stream's epoch counter), then fold the store "
            "(compact_ingest_store retires the id's partition AND its "
            f"store-root _curate_owned_{batch_id} marker) before "
            "resuming the stream."
        )
    # extra_partition_cols nest OUTSIDE batch_id (round 10, the shard
    # hand-off: shard=<s>/batch_id=<b> — consumers list shard dirs the
    # way the batch export lays them out, and dynamic overwrite still
    # rewrites exactly the replay's own (cols..., batch_id) leaves,
    # which a deterministic replay reproduces bit-for-bit).
    # sort_cols pin in-FILE row order: the sort must include the
    # partition columns as its prefix, because the parquet writer
    # REQUIRES (partition cols) ordering and inserts its own
    # non-stable sort when the incoming order does not already satisfy
    # it — a caller-side sort missing that prefix would be silently
    # destroyed (found by the shard hand-off's permutation test).
    out = df.withColumn("batch_id", F.lit(batch_id))
    if sort_cols:
        out = out.sortWithinPartitions(
            *extra_partition_cols, "batch_id", *sort_cols
        )
    (
        out.write.mode("overwrite")
        .partitionBy(*extra_partition_cols, "batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(path)
    )


def read_prior_batches(
    spark: SparkSession, path: str, empty_schema: str,
    batch_id: int | None = None,
):
    """The ONE copy of the replay-safe store read every batch_id store
    gate uses: committed history, EXCLUDING ``batch_id`` when given.
    foreachBatch is at-least-once — if an attempt wrote a store
    partition and crashed before the checkpoint committed, the replay
    would otherwise see the batch's OWN rows as history and self-collide
    (for a dedup gate that silently drops the whole batch forever);
    read-only gates pass no id. A store with no COMMITTED data files
    means "no history" (an empty ``empty_schema`` frame); any other
    read failure must surface — swallowing a transient error here would
    re-ingest a batch as if nothing had been seen. The swap-residue
    check runs FIRST: after a crashed maintenance op the trash may hold
    the only copy of the history, and ``has_data_files`` cannot see it."""
    check_no_swap_residue(spark, path)
    if not has_data_files(spark, path):
        return spark.createDataFrame([], empty_schema)
    hist = spark.read.parquet(path)
    if batch_id is None:
        return hist
    return hist.filter(F.col("batch_id") != batch_id)


def batch_leaves(
    spark: SparkSession, store: str, outer_levels: int = 0
) -> dict[int, list[str]]:
    """Batch id → its ``batch_id=<n>`` leaf dirs relative to ``store``,
    found ``outer_levels`` hive levels down: 0 for the digest, band,
    Bloom and sketch stores, 1 for the streaming token store's
    ``shard=<s>/batch_id=<n>``. One listing per dir above the leaves, no
    data read; staging/trash dirs, non-hive strays and non-numeric ids
    are skipped."""
    fs, root = hadoop_fs(spark, store)
    dirs = [("", root)] if fs.exists(root) else []
    for _ in range(outer_levels):
        dirs = [
            (f"{rel}{st.getPath().getName()}/", st.getPath())
            for rel, p in dirs
            for st in fs.listStatus(p)
            if st.isDirectory()
            and (
                "=" in st.getPath().getName()
                or st.getPath().getName() == NULL_PART
            )
        ]
    out: dict[int, list[str]] = {}
    for rel, p in dirs:
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if not (st.isDirectory() and name.startswith("batch_id=")):
                continue
            try:
                b = int(name[len("batch_id="):])
            except ValueError:
                continue
            out.setdefault(b, []).append(rel + name)
    return out


def fold_batch_store(
    spark: SparkSession,
    store: str,
    keep_recent: int,
    outer_cols: tuple[str, ...] = (),
    sort_cols: tuple[str, ...] = (),
) -> tuple[dict[int, list[str]], list[int], list[int]]:
    """The ONE fold of a batch_id store: converge any crashed swap, fold
    every batch except the newest ``keep_recent`` (and any earlier base)
    into the ``batch_id=-1`` base, staged under ``_fold_staging`` and
    swapped in by :func:`swap_leaves`. ``outer_cols`` are the hive
    levels above ``batch_id`` (``("shard",)`` for the token store): the
    staged base is keyed one writer task per outer dir, so each folded
    leaf becomes one file, in ``sort_cols`` order. Returns the leaves as
    listed before the fold, the folded ids and the kept ids.

    ``keep_recent`` (default 1 at every caller) is the replay rule: a
    gate excludes the CURRENT batch_id from its reads so an
    at-least-once replay never self-collides, and only the newest
    micro-batch can be in that uncommitted state (foreachBatch runs
    batches sequentially) — fold it and a replay would find its own rows
    under the base id and silently drop the whole batch. ``0`` is legal
    with the stream stopped."""
    if keep_recent < 0:
        raise ValueError("keep_recent must be >= 0")
    recover_swaps(spark, store)
    leaves = batch_leaves(spark, store, len(outer_cols))
    live = sorted(b for b in leaves if b != FOLD_BASE_ID)
    # max(0, ...): keep_recent larger than the live count folds NOTHING
    folded = live[: max(0, len(live) - keep_recent)]
    if folded:
        ids = [FOLD_BASE_ID, *folded]
        rels = [rel for b in ids for rel in leaves.get(b, ())]
        history = (
            spark.read.parquet(store)
            .filter(F.col("batch_id").isin(ids))
            .drop("batch_id")
        )
        if outer_cols:
            history = history.repartition(
                len({rel.rsplit("/", 1)[0] for rel in rels}), *outer_cols
            )
        write_batch_partition(
            history, FOLD_BASE_ID, f"{store.rstrip('/')}/{FOLD_DIRS[0]}",
            allow_curate=True, extra_partition_cols=outer_cols,
            sort_cols=sort_cols,
        )
        swap_leaves(spark, store, rels, FOLD_DIRS)
    return leaves, folded, live[len(folded):]
