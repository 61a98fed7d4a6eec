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
            f"({e}); delete it and re-stamp (e.g. "
            "operators.similarity.stamp_ivfpq_meta for IVF-PQ stores) "
            "to recover"
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
