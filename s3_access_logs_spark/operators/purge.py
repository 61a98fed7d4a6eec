"""Targeted purge across the persisted store family (round 12, VERDICT
r11 item 4): remove a given document-id set from the token store, the
streaming digest store, the MinHash band store and a materialized IVF
index — the retroactive-decontamination / takedown path. Until now the
only answer to "these ids must disappear" was a full rebuild;
``decontaminate_ngrams`` FINDS contaminated documents but nothing
removed them from what is already on disk.

Rewrite policy (the documented choice): affected leaf partitions are
REWRITTEN via stage-and-swap — not tombstoned. The append-only stores'
consumers (digest probes, band probes, IVF posting scans, repack) are
all joins/scans over the stored rows; a tombstone design would push a
"minus the tombstone set" filter into every one of them forever, while
a rewrite is a one-time cost bounded by the AFFECTED leaves only (the
id set names its leaves via a column-pruned scan; untouched leaves are
never read, never rewritten — the ``compact_partitions`` victim rule).

Crash posture: per store, the affected leaves are staged under
``_purge_staging`` and swapped in by the stage-and-swap protocol of
``sources.fsutil`` (``swap_leaves``: move aside, ``_moved_ok`` commit
marker, install). Every purge first runs that module's
``recover_swaps``, which converges a crashed swap of ANY maintenance op
(purge, the folds, compaction) on the store, and every store reader's
``check_no_swap_residue`` refuses to read past one. Root sidecars
(``_token_store_meta.json``, ``_ivfpq_meta.json``) live outside the
leaf dirs and are never touched.

Replay interaction (the ``keep_recent`` rule's purge twin): a live
stream's NEWEST batch may still replay, and a replay rewrites its
whole partition from source — resurrecting that batch's purged rows.
Purge with the stream stopped, or re-run the purge after the stream
commits (both idempotent). Semantics note: purging a digest FORGETS
the document, so a later re-crawl of the same content re-ingests it —
removal, not a denylist; pair with a decontamination gate upstream if
re-entry must be blocked. The per-batch Bloom partitions are NOT
rewritten: a Bloom filter only over-approximates its set, so a purged
digest in the filter costs one wasted store probe and can never
resurrect a document (false positives are the filter's contract;
false negatives remain impossible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from s3_access_logs_spark.sources.fsutil import (  # noqa: F401 (re-export)
    MOVED_OK as _MOVED_OK,
    NULL_PART as _NULL_PART,
    PURGE_DIRS,
    batch_leaves,
    hadoop_fs,
    has_data_files,
    recover_swaps,
    swap_leaves,
)

#: Driver-side bound on the purge id set (the ``temperature_mixture``
#: max_sources pattern): takedown / decontamination sets are
#: bounded-by-nature; a caller passing a huge frame would silently OOM
#: the driver, so the guard fails loud instead.
MAX_PURGE_IDS = 1_000_000

_STAGING, _TRASH = PURGE_DIRS

#: Spark dtypes the bigint purge-id frame compares against LOSSLESSLY.
#: Anything else (string above all) would semi-join through an implicit
#: cast where non-numeric values become NULL — silently reporting
#: rows_purged=0 for a takedown (ADVICE r12).
_INTEGRAL_DTYPES = {"tinyint", "smallint", "int", "bigint"}


def _ids_frame(spark: SparkSession, ids) -> DataFrame:
    """Normalize the id set to a MATERIALIZED local-rows frame with one
    ``_purge_id`` column: a lazy lineage (e.g. a decontaminate_ngrams
    report) would otherwise re-execute per consulted store."""
    if isinstance(ids, DataFrame):
        if len(ids.columns) != 1:
            raise ValueError(
                "purge_documents: the id set must be a ONE-column "
                f"DataFrame, got columns {ids.columns} — silently "
                "taking the first column could collect the wrong "
                "values and report a vacuous rows_purged=0 for a "
                "takedown that legally had to remove documents; "
                ".select() the id column first (review r12)"
            )
        col = ids.columns[0]
        rows = (
            ids.select(F.col(col).alias("_purge_id"))
            .where(F.col("_purge_id").isNotNull())
            .distinct()
            .limit(MAX_PURGE_IDS + 1)
            .collect()
        )
        if len(rows) > MAX_PURGE_IDS:
            raise ValueError(
                f"purge_documents: more than {MAX_PURGE_IDS} distinct "
                "ids — this operator rewrites the leaves a bounded "
                "takedown set names; a set this large is a rebuild, "
                "not a purge"
            )
        vals = [r["_purge_id"] for r in rows]
    else:
        vals = sorted({v for v in ids if v is not None})
        if len(vals) > MAX_PURGE_IDS:
            raise ValueError(
                f"purge_documents: more than {MAX_PURGE_IDS} ids"
            )
    return spark.createDataFrame(
        [(int(v),) for v in vals], "_purge_id bigint"
    )


def _validate_store(
    spark: SparkSession,
    kind: str,
    store: str,
    row_id_col: str,
    part_cols: list[str],
    recover: bool = True,
) -> DataFrame | None:
    """Schema pre-check for one store: id + partition columns exist and
    the id column's dtype joins losslessly against the bigint purge-id
    frame. Run over EVERY given store BEFORE any store is rewritten
    (ADVICE r12: purge is not transactional across stores — a late
    wrong-store-kind error used to leave earlier stores already
    rewritten with no mention in the exit path). Recovery runs first so
    a crashed store's schema is read from its healed tree
    (``recover=False`` when the caller already recovered — the token
    store's layout detection does). Returns the validated frame for
    reuse (``None`` for an empty store), so the rewrite pass reads no
    second footer (review r13)."""
    if recover:
        recover_swaps(spark, store)
    if not has_data_files(spark, store):
        return None
    df = spark.read.parquet(store)
    for c in [row_id_col] + part_cols:
        if c not in df.columns:
            raise ValueError(
                f"purge: {kind} {store!r} has no {c!r} column — wrong "
                f"store kind for this argument (columns: {df.columns})"
            )
    dt = dict(df.dtypes)[row_id_col]
    if dt not in _INTEGRAL_DTYPES:
        raise ValueError(
            f"purge: {kind} {store!r} keys {row_id_col!r} as {dt}, but "
            "the purge id set is bigint — Spark's implicit cast would "
            "turn unmatched values into NULLs and report a vacuous "
            "rows_purged=0 for a takedown; non-integral id stores are "
            "unsupported (ADVICE r12)"
        )
    return df


def _purge_one(
    spark: SparkSession,
    store: str,
    ids: DataFrame,
    row_id_col: str,
    part_cols: list[str],
    sort_tail: list[str],
    df: DataFrame | None = None,
) -> dict:
    """Purge one store: column-pruned scan names the affected leaves,
    ONLY those are read back, anti-joined and swapped in. Recovery and
    schema validation are the CALLER's job (``purge_documents`` runs
    ``_validate_store`` — which recovers first — over every store
    before any rewrite and passes the validated frame back in via
    ``df``, so no second footer read happens here; review r13 removed
    the duplicate pass)."""
    if df is None:
        if not has_data_files(spark, store):
            return {"leaves_rewritten": 0, "rows_purged": 0}
        df = spark.read.parquet(store)
    # 1. which leaves hold any of the ids? column-pruned scan + tiny
    #    broadcast join; the collect is bounded by the leaf count
    hit_rows = (
        df.join(
            broadcast(ids), df[row_id_col] == ids["_purge_id"], "semi"
        )
        .select(*part_cols)
        .distinct()
        .collect()
    )
    if not hit_rows:
        return {"leaves_rewritten": 0, "rows_purged": 0}

    def leaf_rel(r) -> str:
        return "/".join(
            f"{c}={_NULL_PART}" if r[c] is None else f"{c}={r[c]}"
            for c in part_cols
        )

    rels = sorted(leaf_rel(r) for r in hit_rows)
    root = store.rstrip("/")
    # 2. stage the rewritten leaves (anti-join over ONLY their bytes)
    affected = spark.read.option("basePath", store).parquet(
        *[f"{root}/{rel}" for rel in rels]
    )
    n_before = affected.count()
    kept = affected.join(
        broadcast(ids),
        affected[row_id_col] == ids["_purge_id"],
        "left_anti",
    )
    (
        kept.repartition(len(rels), *part_cols)
        .sortWithinPartitions(*part_cols, *sort_tail)
        .write.mode("overwrite")
        .option("compression", "snappy")
        .partitionBy(*part_cols)
        .parquet(f"{root}/{_STAGING}")
    )
    # 3. swap them in
    swap_leaves(spark, store, rels, PURGE_DIRS)
    # count AFTER the swap (reading the live store) so the reported
    # delta reflects what is actually on disk
    fs, _ = hadoop_fs(spark, store)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    remaining = [rel for rel in rels if fs.exists(HPath(f"{root}/{rel}"))]
    n_after = 0
    if remaining:
        n_after = (
            spark.read.option("basePath", store)
            .parquet(*[f"{root}/{rel}" for rel in remaining])
            .count()
        )
    return {
        "leaves_rewritten": len(rels),
        "rows_purged": int(n_before - n_after),
    }


def purge_documents(
    spark: SparkSession,
    ids,
    token_store: str | None = None,
    digest_store: str | None = None,
    band_store: str | None = None,
    ivf_index: str | None = None,
) -> dict:
    """Remove ``ids`` (a list/set of doc ids, or a one-column DataFrame
    — e.g. ``decontaminate_ngrams`` hits) from every given store. Per
    store the affected leaf partitions are rewritten via the
    stage-and-swap protocol in the module docstring; untouched leaves
    are never read. Id columns per store kind: token store ``doc_id``
    (batch ``shard=`` or streaming ``shard=/batch_id=`` layout,
    auto-detected), digest store ``keep_id``, band store ``id``, IVF
    index ``neighbor_id`` — all keyed by the same document id space.

    Returns ``{store_kind: {"leaves_rewritten": n, "rows_purged": k}}``
    for the stores given. Idempotent: a second run finds no hits.

    Every given store is schema-validated (recovery + id/partition
    columns + lossless id dtype) BEFORE any store is rewritten, so a
    wrong-store-kind argument fails with zero stores touched; if a
    rewrite itself fails mid-run, the error names the stores already
    completed (ADVICE r12)."""
    ids_df = _ids_frame(spark, ids)
    specs: list[tuple[str, str, str, list[str], list[str]]] = []
    if token_store is not None:
        # recover any crashed purge FIRST, then detect the layout from
        # the restored DIRECTORY tree — not a parquet read (review r12:
        # a crash that moved every leaf aside would make the data-read
        # sniff see the batch layout and flatten a streaming store's
        # batch_id level on the re-run)
        recover_swaps(spark, token_store)
        # ALL shard dirs, via the fold's own listing helper (review
        # r12, second pass: inspecting only the first dir misreads a
        # store whose first shard was fully purged — an empty shard
        # dir has no batch_id kids — and a flat rewrite would then
        # corrupt the two-level tree)
        streaming_layout = bool(batch_leaves(spark, token_store, 1))
        part_cols = (
            ["shard", "batch_id"] if streaming_layout else ["shard"]
        )
        sort_tail = (
            ["shard_order", "doc_id"]
            if streaming_layout
            else ["doc_id"]
        )
        specs.append(
            ("token_store", token_store, "doc_id", part_cols, sort_tail)
        )
    if digest_store is not None:
        specs.append(
            ("digest_store", digest_store, "keep_id", ["batch_id"],
             ["keep_id"])
        )
    if band_store is not None:
        specs.append(
            ("band_store", band_store, "id", ["batch_id"],
             ["id", "band_idx"])
        )
    if ivf_index is not None:
        specs.append(
            ("ivf_index", ivf_index, "neighbor_id", ["cluster"],
             ["neighbor_id"])
        )
    frames: dict[str, DataFrame | None] = {}
    for kind, store, id_col, part_cols, _ in specs:
        frames[kind] = _validate_store(
            spark, kind, store, id_col, part_cols,
            # the token-store branch already recovered before its
            # layout detection — don't pay the listing twice
            recover=(kind != "token_store"),
        )
    out: dict[str, dict] = {}
    for kind, store, id_col, part_cols, sort_tail in specs:
        if frames[kind] is None:  # validated empty: nothing to rewrite
            out[kind] = {"leaves_rewritten": 0, "rows_purged": 0}
            continue
        try:
            out[kind] = _purge_one(
                spark, store, ids_df, id_col, part_cols, sort_tail,
                df=frames[kind],
            )
        except Exception as e:
            done = (
                ", ".join(f"{k}={v}" for k, v in out.items())
                or "none"
            )
            raise RuntimeError(
                f"purge: failed on {kind} ({store!r}); stores already "
                f"rewritten this call: {done} — the completed stores "
                "HAVE been purged; fix the cause and re-run (the "
                "operation is idempotent per store)"
            ) from e
    return out
