"""One-call batch corpus curation: the full training-data cleaning
pipeline (exact dedup -> heuristic gates -> optional LM / classifier
gates -> near-dup clustering -> benchmark decontamination) composed as
ONE lazy flags frame, so the per-stage accounting costs one aggregation
and the survivor write costs one more pass — never one job per stage.

Every stage reuses the tested single-purpose operators (operators.dedup,
functions.text, functions.lm, operators.quality_classifier); this module
adds only the sequencing, the waterfall accounting, and the scoped cache
that keeps the two consumers (report + output) from recomputing the
lineage. The sequencing (``_stage_flags``) is the package's one gate
stack: every streaming ingest micro-batch runs it too.

Shuffle layout: the exact-dup window keys on ``_digest``, the
normalized digest of the text the survivors carry, and its exchange is
the stack's one shuffle; the digest-history join reuses it. Where that
exchange sits depends on who writes the survivors. When curate writes
them itself (``dst``, the store appends) and in the stream's sinks, the
gates run on the input's partitions and the window's exchange is the
plain one AQE may coalesce, so a small batch writes few files. When
they go back to the caller lazily (the export paths, a plain call) and
the input spans fewer partitions than the cluster has cores (a corpus
read from one file is one partition), the exchange moves below the
gates with an explicit ``spark.sql.shuffle.partitions`` width, which
AQE does not coalesce: the CPU-bound regex gates, the window and
whatever the caller fuses above the survivor filter (the export's BPE
encoder) then run on every core. The only other shuffles are those of
the optional join-keyed stages (LM and contamination before the
exchange; the near-dup, containment and semantic stages after it) and
the report's tiny aggregation.

Waterfall semantics: a document counts against the FIRST stage that
rejects it, in the fixed order above — the numbers answer "what did each
gate uniquely cost me", and summing the report's ``dropped`` column plus
the survivors equals the input row count exactly.
"""

from __future__ import annotations

import inspect
from collections.abc import Callable
from types import SimpleNamespace

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s3_access_logs_spark.functions.text import (
    dominant_script,
    lang_id,
    pii_redact,
    quality_score,
)
from s3_access_logs_spark.operators.dedup import (
    bloom_maybe_seen,
    dedup_clusters,
    first_duplicate_id,
    ngram_overlap,
    normalized_digest,
)
from s3_access_logs_spark.session import scoped_cache

STAGES = (
    "empty",
    "line_ratio",
    "exact_dup",
    "quality",
    "language",
    "script",
    "perplexity",
    "classifier",
    "near_dup",
    "contained",
    "semantic",
    "contaminated",
)

def _assert_owns_partition(spark, store: str, batch_id: int) -> None:
    """Refuse to append over a ``batch_id`` partition this pipeline did
    not write. curate_corpus shares the streaming ingest's store layout
    and id space; without the check, a colliding id would silently
    REPLACE a stream-committed history partition via dynamic partition
    overwrite — those documents' digests vanish and future batches
    re-ingest them as new (review r5). Ownership is a ``_``-prefixed
    STORE-ROOT marker file (invisible to every parquet reader, and —
    unlike an in-partition file — untouched by the partition overwrite
    itself) stamped BEFORE the first write, so a crashed-attempt REPLAY
    of the same curate batch passes while a foreign partition fails
    loudly, with no crash window in which committed curate rows sit
    unmarked. The reverse direction is enforced inside
    ``sources.fsutil.write_batch_partition``: stream sinks refuse
    MARKED partitions, so neither writer can clobber the other. The
    check-then-claim window is not transactional — the store contract
    assumes one maintenance writer at a time (the same assumption
    ``compact_ingest_store`` documents); a stream and a curate run
    racing the SAME new batch_id within milliseconds is outside it."""
    from s3_access_logs_spark.sources.fsutil import (
        CURATE_MARKER,
        hadoop_fs,
        partition_has_marker,
    )

    fs, _ = hadoop_fs(spark, store)
    HPath = spark._jvm.org.apache.hadoop.fs.Path
    part = f"{store.rstrip('/')}/batch_id={batch_id}"
    if fs.exists(HPath(part)) and not partition_has_marker(
        spark, store, batch_id
    ):
        raise ValueError(
            f"curate_corpus: batch_id={batch_id} already exists in "
            f"{store!r} and was not written by curate_corpus (no "
            f"{CURATE_MARKER} marker) — appending would overwrite "
            "another writer's history partition (silent duplicate "
            "re-ingestion downstream). Pick an unused batch id; if this "
            "partition is a crashed curate attempt whose marker was "
            "lost, delete the partition directory and rerun."
        )


def _claimed_append(df, batch_id: int, store: str) -> None:
    """Claim-first store append: stamp the root ownership marker, then
    write. The marker survives the partition overwrite and any crash,
    so the partition is never committed-but-unmarked (review r5). If
    the WRITE fails without a crash, a claim this call created is
    released again — otherwise the failed id would sit permanently
    poisoned for stream sinks with a misleading 'committed by
    curate_corpus' refusal (review r5). A pre-existing claim (replay
    over a previously committed curate partition) is NOT released on
    failure: the prior commit's surviving rows must stay guarded."""
    from s3_access_logs_spark.sources.fsutil import (
        partition_has_marker,
        remove_partition_marker,
        touch_partition_marker,
        write_batch_partition,
    )

    spark = df.sparkSession
    fresh_claim = not partition_has_marker(spark, store, batch_id)
    touch_partition_marker(spark, store, batch_id)
    try:
        write_batch_partition(df, batch_id, store, allow_curate=True)
    except BaseException:
        if fresh_claim:
            remove_partition_marker(spark, store, batch_id)
        raise


def curate_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float | None = None,
    langs: tuple[str, ...] | None = None,
    scripts: tuple[str, ...] | None = None,
    lm_model: DataFrame | None = None,
    max_xent: float | None = None,
    classifier=None,
    min_prob: float = 0.5,
    near_dup: bool = False,
    drop_contained: bool = False,
    containment_threshold: float = 0.8,
    embeddings: DataFrame | None = None,
    emb_id_col: str = "vec_id",
    emb_col: str = "embedding",
    semantic_threshold: float = 0.9,
    semantic_centroids: DataFrame | None = None,
    semantic_nlist: int | None = None,
    benchmark: DataFrame | None = None,
    max_overlap: float = 0.5,
    html: bool = False,
    normalize: bool = False,
    line_clean: bool = False,
    min_line_ratio: float | None = None,
    boilerplate_min_docs: int | None = None,
    dst: str | None = None,
    digest_store: str | None = None,
    band_store: str | None = None,
    store_batch_id: int | None = None,
    verify_unique_ids: bool = True,
    _observe_report: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(survivors, report)``: the kept rows (original columns)
    and a waterfall ``(stage, dropped)`` with one row per enabled stage.

    Optional stages activate by argument: ``min_quality`` (heuristic
    score gate), ``langs`` (allow-list), ``scripts`` (dominant-Unicode-
    script allow-list, functions.text.dominant_script — the wordlist-
    free multilingual gate), ``lm_model`` + ``max_xent``
    (bigram-LM cross-entropy gate, functions.lm; documents are scored
    per ``(id, text)`` pair), ``classifier`` +
    ``min_prob`` (trained quality model, operators.quality_classifier),
    ``near_dup`` (MinHash+LSH cluster keep-first), ``drop_contained`` +
    ``containment_threshold`` (asymmetric subset-dup removal,
    operators.dedup.containment_pairs — keeps the superset),
    ``embeddings`` (+ ``semantic_threshold``/``semantic_centroids``/
    ``semantic_nlist``) — SemDeDup-style semantic dedup
    (operators.similarity.semantic_dedup): an ``(emb_id_col, emb_col)``
    frame keyed by document id; a doc whose embedding has cosine
    similarity above the threshold to a lower-id GATE-PASSING doc in
    the same quantizer cluster drops as ``semantic``; docs with no
    embedding row pass (no signal is not a rejection, the perplexity
    convention). NULL and zero-length vectors are likewise no-signal;
    RAGGED vectors fail LOUD in the quantizer fit's dims check — on a
    dirty corpus pre-filter with ``similarity.well_formed_vector`` (the
    catalog entry routes through ``well_formed_embeddings``).
    Centroids come from ``semantic_centroids`` or a
    spherical k-means fit over the eligible embeddings
    (``semantic_nlist`` clusters, default ~sqrt(n) — the standard IVF
    sizing keeping every within-cluster pair block sub-quadratic); and
    ``benchmark`` + ``max_overlap`` (n-gram decontamination). Exact
    dedup always runs — a curation pass that can emit byte-duplicates
    is not curation.

    ``_observe_report`` (INTERNAL — the batch export paths): return, in
    place of the report frame, the getter of a
    :func:`operators.observed.observe` observation — a dict of per-stage
    drop counts (every stage, zeros included) collected during the
    caller's first action over the survivors, so the gate stack executes
    once per export. Ignored (eager path) when ``dst``/``store_batch_id``
    is set — those already materialize survivors under the scoped cache.

    ``verify_unique_ids`` (default True) enforces the ``id_col``
    uniqueness contract at entry with one column-pruned aggregation —
    a duplicate-id corpus raises instead of silently corrupting
    join-backs and waterfall counts; NULL ids are exempt (their
    handling is the documented per-consumer contract). Pass False on
    perf-critical reruns where the key is enforced upstream.

    TRANSFORM options rewrite the text before any gate: ``html``
    (strip_html), ``normalize`` (NFKC + mojibake repair),
    ``line_clean`` (line-furniture removal)
    with ``min_line_ratio`` dropping documents whose kept-line fraction
    fell below the bar — measured before the rewrite — and
    ``boilerplate_min_docs`` cutting lines shared by that many distinct
    documents (operators.dedup.drop_boilerplate_lines; the one
    corpus-wide transform). Survivors carry the transformed text.

    INCREMENTAL mode (VERDICT r4 item 5): ``digest_store`` /
    ``band_store`` point the exact-dup and near-dup stages at the same
    append-only hive stores the streaming ingest maintains — each
    stream micro-batch runs this very stage list
    (streaming/pipeline.py:ingest_documents_stream), so a daily crawl
    batch curates against corpus HISTORY, not just itself. A document
    whose normalized digest is already committed drops as ``exact_dup``
    (the whole digest group — there is no keeper to elect against
    history); a gate-passing document whose MinHash bands collide with
    the stored bands drops as ``near_dup`` (and is excluded from the
    within-batch clustering so it cannot be elected a keeper that then
    vanishes). With ``store_batch_id`` set (non-negative; negative ids
    are the fold base), the batch's surviving digests (and bands, when
    ``band_store`` is given) append under ``batch_id=<n>`` with dynamic
    partition overwrite — the identical replay-idempotent layout the
    streaming gates read, the digest partition committing before the
    band partition (a crash between them loses future detections,
    never documents). Reads exclude the current ``store_batch_id`` so
    an at-least-once rerun never self-collides. Without
    ``store_batch_id`` the stores are read-only gates.

    ``dst`` is the production path: survivors are written to parquet
    while the call's scoped cache is live and the returned frame is the
    re-read — later consumption costs a scan, not a pipeline recompute.
    Without ``dst`` the returned survivors re-derive their lineage on
    use (the price of returning a composable lazy frame with no
    session-lifetime cache retained).

    Cost model: heuristic gates are pure columns; exact dedup is one
    window shuffle on the digest, which the digest-history join reuses
    (the module docstring says when it moves below the gates to spread
    them over every core); the LM gate adds the bigram
    explode + one doc-grain join; the classifier is a narrow pass;
    near-dup runs the full candidate+connected-components machinery
    (the expensive stage — leave it off when the incremental band store
    already guards ingest); decontamination is a broadcast-shingle
    join. The report materializes EAGERLY at call time (a handful of
    rows) under a scoped persist that is released before returning —
    no session-lifetime cache leak; consuming ``survivors`` afterwards
    re-derives the cheap column flags while the expensive sub-results
    (connected components) are lineage-truncated internally."""
    # ``_observe_report`` (internal, the batch export paths): observe
    # the waterfall on the survivors lineage instead of building an
    # eager report frame — the caller's own first action over the
    # survivors both computes its artifact AND yields the counts, so
    # the gate stack (quality/lang regexes + the exact-dup digest window
    # shuffle) executes ONCE per export instead of once for the report
    # and again for the write. Falls back to the eager path when this call itself
    # materializes survivors (``dst``/``store_batch_id``): those paths
    # already reuse the scoped flags cache, and deferring would ADD an
    # execution rather than remove one.
    # every parameter but these four is an option of the stage list
    stage_options = {
        k: v
        for k, v in locals().items()
        if k not in ("docs", "dst", "verify_unique_ids", "_observe_report")
    }
    if _observe_report and (dst is not None or store_batch_id is not None):
        _observe_report = False
    # cheap (driver-only / metadata-only) argument validation FIRST
    # (review r9): an invalid-argument call must not pay the
    # id-uniqueness corpus scan below before it fails
    if min_line_ratio is not None and not line_clean:
        raise ValueError(
            "curate_corpus: min_line_ratio needs line_clean=True — the "
            "ratio is defined by the line filter's verdicts"
        )
    if semantic_nlist is not None and semantic_nlist < 1:
        # without this, 0 would fall through `semantic_nlist or ...` to
        # the auto size while keeping explicit-k crash semantics — an
        # inconsistent hybrid the caller never chose (review r5)
        raise ValueError(
            f"curate_corpus: semantic_nlist must be >= 1, got "
            f"{semantic_nlist}"
        )
    if store_batch_id is not None:
        if digest_store is None and band_store is None:
            raise ValueError(
                "curate_corpus: store_batch_id without digest_store or "
                "band_store appends nothing — pass a store path, or drop "
                "the batch id"
            )
        if store_batch_id < 0:
            raise ValueError(
                f"curate_corpus: store_batch_id must be non-negative "
                f"(negative ids are compact_ingest_store's fold base), "
                f"got {store_batch_id}"
            )
        for _store in (digest_store, band_store):
            if _store is not None:
                _assert_owns_partition(
                    docs.sparkSession, _store, store_batch_id
                )
    # id-uniqueness gate (VERDICT r8 item 6): doc_id uniqueness was a
    # documented schema contract but unchecked — a duplicate-id corpus
    # silently corrupts every join-back and waterfall count (per-id
    # semantics become engine-defined). One column-pruned agg +
    # limit(1) over the id column, fail-loud with an example id; NULL
    # ids stay exempt (their handling is the per-consumer contract the
    # dirty sweeps pin). ``verify_unique_ids=False`` skips the scan for
    # perf-critical callers who enforce the key upstream.
    if verify_unique_ids:
        dup = first_duplicate_id(docs, id_col)
        if dup is not None:
            raise ValueError(
                f"curate_corpus: duplicate {id_col} "
                f"{dup[id_col]!r} (x{dup['_n']}) — doc ids must "
                "be unique (join-backs and waterfall counts key on "
                "them); fix the corpus, or pass "
                "verify_unique_ids=False if the key is enforced "
                "upstream"
            )
    # survivors that go back to the caller lazily: spread the gate stack
    # over every core when the input does not span them already; the
    # survivors curate writes itself keep the AQE-sized file layout
    width = (
        _spread_width(docs)
        if dst is None and store_batch_id is None
        else None
    )
    # ONE scoped cache covers the whole stage + report + write
    # sequence: every persist is released on ANY exit — a failing stage
    # (ragged vector, store error) must not pin the cached gate stack
    # in executor storage for the session lifetime (review r5).
    with scoped_cache() as cache:
        flags, batch_bands = _stage_flags(
            docs, cache, exchange_width=width, **stage_options
        )
        stage_counts = None
        if _observe_report:
            # per-stage counts observed below the survivor filter: the
            # node sees every row (kept + dropped) during the CALLER'S
            # first action, and the survivor filter needs the same flag
            # columns anyway — zero extra passes, zero extra state
            from s3_access_logs_spark.operators.observed import observe

            flags, stage_counts = observe(
                flags,
                *[
                    F.count(F.when(F.col("_verdict") == s, 1)).alias(s)
                    for s in STAGES
                ],
            )
        survivors = flags.filter(F.col("_verdict") == "kept").drop(
            "_verdict", "_line_ratio", "_digest", *[f"_f_{s}" for s in STAGES]
        )
        rows: list = []
        if not _observe_report:
            # the report materializes EAGERLY (it is <= len(STAGES) rows)
            # and the lineage is then released — a session-lifetime
            # persist per call would leak executor storage with no handle
            # to unpersist. The persist is scoped to this call and only
            # taken when a SECOND consumer follows the report collect
            # (the dst write / store appends): for report-only calls the
            # collect is the final flags frame's one and only action, so
            # caching corpus text + flags for it is pure storage-write
            # overhead (the measured lesson of the reverted r13
            # flags-cache handoff, at smaller stakes). The expensive
            # sub-results (connected components) are already
            # lineage-truncated internally, so the survivor pass that
            # follows re-derives only the cheap column flags either way.
            if dst is not None or store_batch_id is not None:
                flags = cache(flags)
            rows = (
                flags.groupBy(F.col("_verdict").alias("stage"))
                .agg(F.count("*").alias("dropped"))
                .filter(F.col("stage") != "kept")
                .collect()
            )
        if store_batch_id is not None:
            # incremental append, streaming-sink ordering: the digest
            # (document) partition commits BEFORE the band partition —
            # a crash between the two loses future near-dup detections,
            # never documents — and both are dynamic-overwrite keyed on
            # batch_id, so an at-least-once rerun rewrites exactly its
            # own partitions. Reads above excluded this batch_id, so
            # the rerun's gates see only true history.
            if digest_store is not None:
                # keyed on a digest computed here, not on ``_digest``:
                # the dedup's own shuffle, which AQE sizes, gives a
                # small batch one file per leaf, where reusing the
                # flags' partitioning writes one per flags partition
                _claimed_append(
                    survivors.select(
                        normalized_digest(F.col(text_col)).alias("digest"),
                        F.col(id_col).alias("keep_id"),
                        F.col(text_col).alias("text"),
                    ).dropDuplicates(["digest"]),
                    store_batch_id,
                    digest_store,
                )
            if band_store is not None:
                _claimed_append(
                    batch_bands.join(
                        survivors.select(F.col(id_col).alias("id")), "id"
                    ),
                    store_batch_id,
                    band_store,
                )
        if dst is not None:
            # production path: materialize survivors WHILE the scoped
            # cache is live (the write reads the cached flags, not the
            # lineage) and hand back the re-read — zero recompute on
            # every later consumption, zero retained cache, and the
            # corpus lands where a 100 TB run wants it anyway
            survivors.write.mode("overwrite").parquet(dst)
            survivors = docs.sparkSession.read.parquet(dst)
    if stage_counts is not None:
        return survivors, stage_counts
    return survivors, _waterfall_frame(docs.sparkSession, rows)


def _waterfall_frame(spark, rows: list) -> DataFrame:
    """A ``(stage string, dropped bigint)`` report frame over driver-side
    rows, built from an Arrow table: the frame is a local relation, so
    collecting it runs no Spark job (a ``createDataFrame`` over a list
    parallelizes an RDD, and collecting that runs one job). Shared by
    curate's eager report and the export reports."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table({
            "stage": pa.array([r[0] for r in rows], pa.string()),
            "dropped": pa.array([int(r[1]) for r in rows], pa.int64()),
        }),
        "stage string, dropped bigint",
    )


def _spread_width(docs: DataFrame) -> int | None:
    """The explicit width of the digest exchange for ``docs``:
    ``spark.sql.shuffle.partitions`` when ``docs`` is planned into fewer
    partitions than the cluster has cores (a corpus read from one file
    is one partition), None when it spans them already — there the
    gates stay on the input's partitions, which also keeps the copies
    of a heavily duplicated page from all being scored in one task.
    The count is read off the physical plan without running it, so a
    plan that shuffles, broadcasts or runs a subquery (asking its count
    would run those) is taken as spread."""
    spark = docs.sparkSession
    plan = docs._jdf.queryExecution().executedPlan()
    shown = plan.toString()
    if any(k in shown for k in ("AdaptiveSparkPlan", "Exchange", "Subquery")):
        return None
    cores = spark.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() >= cores:
        return None
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _stage_flags(
    docs: DataFrame,
    cache: Callable[[DataFrame], DataFrame],
    scrub_pii: bool = False,
    digest_bloom: list | None = None,
    exchange_width: int | None = None,
    **options,
) -> tuple[DataFrame, DataFrame | None]:
    """The one gate stack, shared by :func:`curate_corpus` and every
    streaming ingest micro-batch (streaming/pipeline.py). Returns
    ``(flags, batch_bands)``: ``docs`` (text transformed) with one
    ``_f_<stage>`` column per STAGES entry and the first-failing-stage
    ``_verdict`` (``'kept'`` for survivors) and the ``_digest`` the
    exact-dup stages key on (the normalized digest of the text the
    survivors carry), plus the batch's MinHash band rows when
    ``band_store`` is given (append only the survivors' — None
    otherwise). ``exchange_width`` (from :func:`_spread_width`) moves
    the window's exchange on ``_digest`` below the per-document gates
    with that explicit partition count, after the join-keyed LM and
    contamination stages so that their shuffles stay their own; None
    keeps the gates on the input's partitions and the window's own
    exchange. ``options`` are :func:`curate_corpus`'s keyword
    arguments, with its defaults; ``cache`` is the caller's
    :func:`session.scoped_cache`, so the caller decides when the
    persists taken here are released. Reads of the stores
    exclude ``store_batch_id`` (replay safety); appends are the
    caller's.

    Two inputs only the stream sets: ``scrub_pii`` redacts emails/IPs/
    digit-runs AFTER the per-document gates and BEFORE the digest (two
    crawls of one page differing only in session tokens dedup as one
    document; the gates score the unredacted text), and
    ``digest_bloom`` (collected rows of a functions.bloom filter over
    the digest store) changes only how the digest-history stage finds
    its seen digests: the store is semi-joined to the broadcast
    maybe-seen set, scanned but never shuffled."""
    bound = inspect.signature(curate_corpus).bind_partial(**options)
    bound.apply_defaults()
    o = SimpleNamespace(**bound.arguments)
    id_col, text_col = o.id_col, o.text_col
    # TRANSFORM stages (markup off, then byte canonicalization, then
    # line furniture) — every gate below, the stored digest included,
    # sees the cleaned text, and survivors carry it. ``min_line_ratio``
    # turns line-cleaning loss into a drop gate: a page that was mostly
    # furniture is not made good by deleting its furniture.
    if o.html:
        from s3_access_logs_spark.functions.text import strip_html

        docs = docs.withColumn(text_col, strip_html(text_col))
    if o.normalize:
        from s3_access_logs_spark.functions.text import normalize_unicode

        docs = normalize_unicode(docs, text_col=text_col)
    _line_ratio = None
    if o.line_clean:
        from s3_access_logs_spark.functions.text import (
            clean_lines,
            line_kept_ratio,
        )

        # ratio measured BEFORE the rewrite (afterwards every doc keeps
        # 100% of its remaining lines by construction)
        _line_ratio = line_kept_ratio(text_col)
        docs = docs.withColumn("_line_ratio", _line_ratio).withColumn(
            text_col, clean_lines(text_col)
        )
    if o.boilerplate_min_docs is not None:
        from s3_access_logs_spark.operators.dedup import (
            drop_boilerplate_lines,
        )

        # the one transform that is corpus-wide rather than in-row (its
        # line-hash count is a shuffle — cost stated in its docstring);
        # runs LAST so per-document cleaners have already removed local
        # noise before lines are compared across documents
        docs = drop_boilerplate_lines(
            docs,
            id_col=id_col,
            text_col=text_col,
            min_docs=o.boilerplate_min_docs,
        )
    # Gates that JOIN a docs-derived frame come first, before the
    # digest exchange: their joins shuffle on their own keys, and
    # running them first keeps the digest exchange the last one below
    # the window. Contamination is COMPUTED before the dedup stages
    # (attribution order in STAGES is unchanged): it is a per-document
    # property, and a contaminated document must not elect itself
    # keeper/superset — the benchmark-bearing superset would otherwise
    # drop its clean subset and then be dropped itself, erasing the
    # content entirely. A stage left off is a constant in ``gates``, the
    # one ``withColumns`` below: each ``withColumn`` call re-analyses
    # the whole plan on the driver.
    no = F.lit(False)
    gates: dict = {}
    flags = docs
    if o.lm_model is not None and o.max_xent is not None:
        from s3_access_logs_spark.functions.lm import perplexity_score

        # scored per (id, text) pair, not per id: a stream batch may
        # carry one doc_id with two texts, and pooling their bigrams
        # would issue one verdict for both (for unique ids the key is
        # just the id)
        lm_key = F.xxhash64(F.col(id_col), F.col(text_col))
        ppl = perplexity_score(
            docs.select(lm_key.alias("_lmk"), text_col), o.lm_model,
            text_col=text_col, id_col="_lmk",
        ).select("_lmk", "xent")
        flags = flags.withColumn("_lmk", lm_key).join(
            ppl, "_lmk", "left"
        ).withColumn(
            # no bigram evidence (NULL xent) passes — don't reject on
            # absence of signal
            "_f_perplexity",
            F.coalesce(F.col("xent") > o.max_xent, F.lit(False)),
        ).drop("xent", "_lmk")
    else:
        gates["_f_perplexity"] = no
    if o.benchmark is not None:
        dirty = ngram_overlap(
            docs, o.benchmark, id_col=id_col, text_col=text_col
        ).filter(F.col("overlap") >= o.max_overlap).select(
            F.col("id").alias(id_col), F.lit(True).alias("_hit")
        )
        flags = flags.join(dirty, id_col, "left").withColumn(
            "_f_contaminated", F.coalesce(F.col("_hit"), F.lit(False))
        ).drop("_hit")
    else:
        gates["_f_contaminated"] = no
    # The digest the exact-dup window and the stores key on is of the
    # text the survivors carry: the redacted one under ``scrub_pii``,
    # redacted once and swapped in after the gates (which score the
    # unredacted text). With ``exchange_width`` the window's exchange
    # moves here, below the gates, as a REPARTITION_BY_NUM exchange AQE
    # never coalesces; the window and the digest-history join key on
    # ``_digest`` and reuse it either way.
    if scrub_pii:
        flags = flags.withColumn("_scrubbed", pii_redact(text_col))
    digest = normalized_digest(F.col("_scrubbed" if scrub_pii else text_col))
    if exchange_width is not None:
        flags = flags.withColumn("_digest", digest).repartition(
            exchange_width, "_digest"
        )
    else:
        gates["_digest"] = digest
    # NULL/blank text first and explicitly: every later gate compares
    # against NULL (quality_score(NULL) < t is NULL, which the waterfall
    # reads as "passed"), so without this stage empty documents would
    # slip through the whole stack and land in the output
    empty = F.col(text_col).isNull() | (F.trim(F.col(text_col)) == "")
    if o.classifier is None:
        gates["_f_classifier"] = no
    flags = flags.withColumns({
        **gates,
        "_f_empty": empty,
        "_f_line_ratio": (
            (F.col("_line_ratio") < o.min_line_ratio) & ~empty
            if o.min_line_ratio is not None
            else no
        ),
        "_f_quality": (
            quality_score(text_col) < o.min_quality
            if o.min_quality is not None
            else no
        ),
        "_f_language": (
            ~lang_id(text_col).isin(*o.langs) if o.langs is not None else no
        ),
        "_f_script": (
            ~dominant_script(text_col).isin(*o.scripts)
            if o.scripts is not None
            else no
        ),
    })
    if o.classifier is not None:
        from s3_access_logs_spark.operators.quality_classifier import (
            score_quality,
        )

        flags = score_quality(
            flags, o.classifier, text_col=text_col
        ).withColumn(
            "_f_classifier", F.col("quality_prob") < o.min_prob
        ).drop("quality_prob")
    if scrub_pii:
        # the bands and the stored text see the scrubbed text too
        flags = flags.withColumn(text_col, F.col("_scrubbed")).drop(
            "_scrubbed"
        )
    # Exact-dup keeper election — among rows passing the per-document
    # gates, not blindly by min id: normalized_digest collapses case and
    # whitespace, so digest-sharing rows are NOT byte-identical and can
    # get different verdicts from the case/line-sensitive gates
    # (line_ratio's kept-line measure, uppercase-sensitive quality/
    # script checks). A blind min-id keeper could fail such a gate while
    # its passing variant was dropped as exact_dup — erasing the content
    # entirely, the exact failure mode the near_dup/contained stages are
    # structured to avoid (ADVICE r4). Ordering each digest group by
    # "fails any per-document gate" first and id second makes the keeper
    # the min-id PASSING row; when the whole group fails, min id wins
    # and attribution lands on the real gate.
    _doc_gates = [
        s
        for s in STAGES
        if s not in ("exact_dup", "near_dup", "contained", "semantic")
    ]
    # boolean combinations of flag columns are parsed from SQL text: one
    # driver call each, where a Column chain costs several per stage
    gate_fail = F.expr(" OR ".join(f"_f_{s}" for s in _doc_gates))
    w = Window.partitionBy("_digest").orderBy(
        gate_fail.cast("int"), id_col
    )
    flags = flags.withColumn(
        "_f_exact_dup", (F.row_number().over(w) > 1) & ~F.col("_f_empty")
    )
    if o.digest_store is not None:
        # history gate: a digest already committed to the store drops the
        # WHOLE batch group (keeper included — history holds the keeper).
        # Replay safety: the current batch's own partition is excluded
        # so a rerun never self-collides.
        from s3_access_logs_spark.sources.fsutil import read_prior_batches

        seen = read_prior_batches(
            docs.sparkSession, o.digest_store, "digest string",
            o.store_batch_id,
        ).select("digest")
        if digest_bloom is not None:
            seen = bloom_maybe_seen(
                flags.select(F.col("_digest").alias("digest")).distinct(),
                seen,
                digest_bloom,
            )
        seen = (
            seen.select(F.col("digest").alias("_seen_digest"))
            .distinct()
            .withColumn("_seen", F.lit(True))
        )
        flags = (
            flags.join(
                F.broadcast(seen) if digest_bloom is not None else seen,
                F.col("_digest") == F.col("_seen_digest"),
                "left",
            )
            .withColumn(
                "_f_exact_dup",
                F.col("_f_exact_dup")
                | (
                    F.coalesce(F.col("_seen"), F.lit(False))
                    & ~F.col("_f_empty")
                ),
            )
            .drop("_seen_digest", "_seen")
        )
    # The dedup stages run over the SURVIVORS of every other gate, not
    # the raw corpus: clustering raw docs could elect a keeper (min-id
    # representative / containment superset) that another gate already
    # rejected, dropping every member of the group and erasing the
    # content entirely.
    _pre_dedup = [
        s for s in STAGES if s not in ("near_dup", "contained", "semantic")
    ]
    eligible_pred = F.expr(" AND ".join(f"NOT _f_{s}" for s in _pre_dedup))
    # ONE cached pre-dedup flags frame covers everything downstream:
    # the dedup stages filter it (their several input scans hit the
    # cache), the report aggregates it, and the dst write reads it —
    # the whole gate stack (LM join included) executes once per call.
    # Both dedup RESULTS are lineage-truncated (CC checkpoints
    # internally; the contained-id set localCheckpoints eagerly below),
    # so the cache can release before the caller returns and the
    # survivors frame never re-enters the expensive stages.
    # localCheckpointed intermediates (store_hits/contained/dropped_sem)
    # are NOT cached: on success the survivors' lineage references them
    # (the whole point of the truncation), and on failure the
    # ContextCleaner reclaims them when the frames go unreferenced.
    if o.near_dup or o.drop_contained or o.band_store is not None or (
        o.embeddings is not None
    ):
        flags = cache(flags)
    # the near-dup and containment verdicts so far, for the eligibility
    # of the stages after them: an expression until the stage's column
    # exists. A stage left off adds its constant column only in the one
    # ``withColumns`` that adds ``_verdict``.
    near = contained = no
    batch_bands = None
    if o.band_store is not None:
        # history near-dup gate BEFORE within-batch clustering: a doc
        # colliding with the stored bands must drop, and excluding it
        # from the clustering below keeps it from being elected a
        # keeper whose batch-mates vanish with it.
        from s3_access_logs_spark.operators.dedup import near_dup_incremental
        from s3_access_logs_spark.sources.fsutil import read_prior_batches

        seen_bands = read_prior_batches(
            docs.sparkSession, o.band_store,
            "id long, band_idx int, band_key string", o.store_batch_id,
        ).select("id", "band_idx", "band_key")
        eligible0 = flags.filter(eligible_pred).select(id_col, text_col)
        hits, batch_bands = near_dup_incremental(
            eligible0, seen_bands, id_col=id_col, text_col=text_col
        )
        if o.store_batch_id is not None:
            # two consumers (the probe below and the caller's band
            # append), and MinHash signatures are the expensive part of
            # the gate (k hashes per shingle): compute them once
            batch_bands = cache(batch_bands)
        store_hits = (
            hits.select(F.col("new_id").alias(id_col))
            .distinct()
            .withColumn("_bhit", F.lit(True))
            .localCheckpoint()
        )
        flags = flags.join(store_hits, id_col, "left")
        near = F.coalesce(F.col("_bhit"), no)
    if o.near_dup:
        eligible = flags.filter(eligible_pred & ~near).select(
            id_col, text_col
        )
        clusters = dedup_clusters(
            eligible, id_col=id_col, text_col=text_col
        )
        flags = flags.join(clusters, id_col, "left")
        near = F.coalesce(F.col("cluster_id") != F.col(id_col), no) | near
    if o.band_store is not None or o.near_dup:
        flags = flags.withColumn("_f_near_dup", near).drop(
            "_bhit", "cluster_id"
        )
        near = F.col("_f_near_dup")
    if o.drop_contained:
        from s3_access_logs_spark.operators.dedup import containment_pairs

        eligible2 = flags.filter(eligible_pred & ~near).select(
            id_col, text_col
        )
        subsets = (
            containment_pairs(
                eligible2,
                id_col=id_col,
                text_col=text_col,
                threshold=o.containment_threshold,
            )
            .select(F.col("contained_id").alias(id_col))
            .distinct()
            .withColumn("_sub", F.lit(True))
            .localCheckpoint()
        )
        flags = flags.join(subsets, id_col, "left").withColumn(
            "_f_contained", F.coalesce(F.col("_sub"), no)
        ).drop("_sub")
        contained = F.col("_f_contained")
    if o.embeddings is not None:
        from s3_access_logs_spark.operators.similarity import (
            kmeans_fit,
            semantic_dedup,
        )

        # keeper election among GATE-PASSING docs only (the shared
        # dedup-stage pattern): a doc may only be dominated by a doc
        # that itself survives every earlier stage, so dropping it
        # never erases content whose canonical copy was rejected
        eligible3 = flags.filter(
            eligible_pred & ~near & ~contained
        ).select(id_col)
        # cached: the frame below is read by the nlist sizing job,
        # every kmeans iteration, and three references inside the dedup
        # self-join plan — without the cache each would re-scan the
        # embeddings source and re-run the join (review r5). NULL
        # and zero-length vectors are out here, not downstream: a
        # doc whose embedding row carries no usable vector has no
        # signal — it passes, same as a doc with no row at all (and
        # a frame with none must skip the fit, not crash it —
        # review r5)
        cand = cache(eligible3.join(
            o.embeddings.filter(
                F.col(o.emb_col).isNotNull()
                & (F.size(F.col(o.emb_col)) > 0)
            ).select(
                F.col(o.emb_id_col).alias(id_col),
                F.col(o.emb_col).alias("_emb"),
            ),
            id_col,
        ))
        cents = o.semantic_centroids
        if cents is None:
            # ~sqrt(n) clusters (standard IVF sizing) keeps every
            # within-cluster pair block sub-quadratic. The auto-sized
            # fit passes allow_fewer: kmeans clamps k to the distinct
            # seeds its own seed collect finds, so duplicate-heavy
            # embeddings (SemDeDup's primary target) size the quantizer
            # down — no crash, and no extra distinct pass (review r5).
            # An EXPLICIT semantic_nlist keeps kmeans' loud too-few-
            # distinct-vectors error: silently coarsening a user-chosen
            # quantizer would hide a misconfiguration.
            n_emb = cand.count()
            if n_emb > 0:
                k = o.semantic_nlist or max(1, int(n_emb**0.5))
                cents = kmeans_fit(
                    cand,
                    k,
                    vec_col="_emb",
                    allow_fewer=o.semantic_nlist is None,
                )
            # empty cand skips the stage SILENTLY even with an
            # explicit nlist: emptiness has benign causes a raise
            # would misfire on — an empty batch, every doc dropped
            # by an earlier gate (routine in incremental mode), or
            # eligible docs simply having no embedding rows (the
            # documented pass condition). Distinguishing those from
            # an all-NULL embeddings frame would cost extra jobs;
            # the loud misconfiguration error stays where kmeans
            # can actually detect it — usable vectors exist but
            # fewer distinct than the explicitly requested k
            # (review r5, twice).
        if cents is not None:  # else no eligible embeddings: nothing to judge
            # distinct BEFORE the join back (the contained/store_hits
            # pattern): duplicate embedding rows for one id would fan
            # the flags join out and inflate the waterfall past the
            # "dropped + survivors == input" invariant (review r5)
            dropped_sem = (
                semantic_dedup(
                    cand,
                    threshold=o.semantic_threshold,
                    id_col=id_col,
                    vec_col="_emb",
                    centroids=cents,
                )
                .filter(~F.col("keep"))
                .select(F.col("id").alias(id_col))
                .distinct()
                .withColumn("_sem", F.lit(True))
                .localCheckpoint()
            )
            flags = flags.join(dropped_sem, id_col, "left").withColumn(
                "_f_semantic", F.coalesce(F.col("_sem"), no)
            ).drop("_sem")
    # waterfall attribution: first failing stage wins; a stage left off
    # is a constant False column and never matches
    ran = set(flags.columns)
    verdict = F.expr(
        "CASE "
        + " ".join(
            f"WHEN _f_{s} THEN '{s}'" for s in STAGES if f"_f_{s}" in ran
        )
        + " ELSE 'kept' END"
    )
    off = {f"_f_{s}": no for s in STAGES if f"_f_{s}" not in ran}
    return flags.withColumns({**off, "_verdict": verdict}), batch_bands
