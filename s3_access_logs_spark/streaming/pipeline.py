"""Structured Streaming variant of the ETL + query surface.

The reference runs as an hourly cron batch: previous-hour default
(cmd/export.py:238-241), a tracking file per completed hour as the
exactly-once guard (cmd/export.py:158-168, :319-324). Here the same
semantics are one always-on streaming job:

* the checkpointed file index replaces tracking files — a restarted query
  never reprocesses a file, and a crashed micro-batch replays (the
  reference's failure mode was a half-written hour with no tracking file);
* ``parse_logs`` is a pure Column plan, so the *identical* expression tree
  runs in both batch and streaming — no second parser to keep in sync;
* event-time correctness comes from ``withWatermark`` on the parsed
  timestamp, not from file naming: late-arriving lines land in the right
  window up to the allowed lateness and are dropped (and counted by the
  streaming metrics) past it, which the cron design simply got wrong —
  a line for hour H arriving in hour H+2's file was exported under H+2.

Scale notes: ``maxFilesPerTrigger`` bounds micro-batch size (backpressure);
state-store size for windowed aggs is O(open windows x groups), bounded by
the watermark horizon; the partitioned sink reuses the batch writer via
``foreachBatch``, so dynamic partition overwrite keeps replays idempotent
per partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from s3_access_logs_spark.operators.etl import write_logs
from s3_access_logs_spark.operators.parse import parse_logs
from s3_access_logs_spark.session import scoped_cache
from s3_access_logs_spark.sources.fsutil import (  # noqa: F401 (re-export)
    FOLD_BASE_ID,
    MOVED_OK as _MOVED_OK,
    batch_leaves,
    fold_batch_store,
    has_data_files,
    read_prior_batches,
    read_prior_batches as _read_prior_batches,
    write_batch_partition,
)

# the document feed every text stream reads (JSONL rows)
_DOC_SCHEMA = "doc_id long, text string"
# count-min store rows (functions.cms.cms_build)
_CMS_SCHEMA = "row bigint, col bigint, cnt bigint"


def _read_files(
    spark: SparkSession,
    fmt: str,
    src: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
    **options: str,
) -> DataFrame:
    """The ONE file-stream reader: ``max_files_per_trigger`` bounds each
    micro-batch to that many input files, so a backlogged directory (a
    stream restarted after days down) drains in bounded batches instead
    of one giant one whose shuffles must fit executor memory at once."""
    reader = spark.readStream.format(fmt).options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(src)


def _run_batches(
    df: DataFrame, checkpoint: str, available_now: bool, sink
) -> StreamingQuery:
    """The ONE foreachBatch runner: ``sink(batch_df, batch_id)`` sees
    only non-empty micro-batches; ``checkpoint`` holds the file index
    (exactly-once per input file) and ``available_now`` drains what is
    there and stops."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            sink(batch_df, batch_id)

    writer = (
        df.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(run)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_log_stream(
    spark: SparkSession, src: str, max_files_per_trigger: int = 256
) -> DataFrame:
    """Continuous ingestion of the raw log-line directory (streaming twin of
    sources.logs.read_logs; no hour glob — time comes from the data)."""
    return _read_files(
        spark, "text", src, max_files_per_trigger=max_files_per_trigger,
        recursiveFileLookup="true",
    )


def parse_log_stream(lines: DataFrame) -> DataFrame:
    """The batch parser applied to a stream — same Column plan, plus the
    native TimestampType column ``ts_ts`` required for watermarking."""
    return parse_logs(lines, keep_native_ts=True)


def hourly_rollup(
    parsed: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling 1-hour traffic rollup by bucket x operation: the streaming
    form of the flagship downstream query (SURVEY §2.2). Append-mode safe:
    windows finalize once the watermark passes window end."""
    return (
        parsed.withWatermark("ts_ts", watermark)
        .groupBy(
            F.window("ts_ts", "1 hour").alias("w"),
            "bucket_name",
            "operation",
        )
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("bytessent").alias("total_bytes"),
            F.round(F.avg("totaltime"), 4).alias("avg_totaltime"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bucket_name",
            "operation",
            "n_requests",
            "total_bytes",
            "avg_totaltime",
        )
    )


def sliding_traffic(
    parsed: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window request rate per bucket (overlapping windows — each
    event lands in window/slide windows)."""
    return (
        parsed.withWatermark("ts_ts", watermark)
        .groupBy(F.window("ts_ts", window, slide).alias("w"), "bucket_name")
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .select(
            F.col("w.start").alias("window_start"),
            "bucket_name",
            "n_requests",
        )
    )


def sessionize(
    parsed: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Per-requester session windows (dynamic gap close): built-in
    ``session_window`` keeps merge state in the state store — no custom
    applyInPandasWithState needed (SURVEY §7 hard-part 5). The same
    expression works in batch, which is how the tests cross-check it."""
    return (
        parsed.withWatermark("ts_ts", watermark)
        .groupBy(F.session_window("ts_ts", gap).alias("sw"), "requester")
        .agg(
            F.count(F.lit(1)).alias("n_requests"),
            F.sum("bytessent").alias("session_bytes"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "requester",
            "n_requests",
            "session_bytes",
        )
    )


def write_partitioned_stream(
    parsed: DataFrame,
    dst: str,
    checkpoint: str,
    available_now: bool = False,
) -> StreamingQuery:
    """Stream -> hive-partitioned Parquet via ``foreachBatch`` reusing the
    batch writer (one code path for layout/clustering/compression).

    Idempotency vs cross-batch safety: dynamic partition overwrite keyed
    on the STANDARD layout alone would let a replayed batch rewrite its
    partitions — but also let a LATER batch wipe an earlier batch's rows
    whenever one hour spans several micro-batches (an always-on stream
    splits the in-progress hour across triggers constantly). The sink
    therefore partitions by (layout..., batch_id): a replay rewrites
    exactly its own leaves, distinct batches write distinct leaves, and
    hour pruning is untouched because the outer levels are unchanged.
    ``read_parsed`` drops the internal batch_id column on read."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # write_logs carries the write-scoped dynamic-overwrite option
        # itself (ADVICE r1/r4): under static session mode a bare
        # overwrite would wipe the entire dst tree per micro-batch, and
        # mutating the session conf here would silently flip unrelated
        # same-session writes to dynamic.
        write_logs(
            batch_df.drop("ts_ts").withColumn("batch_id", F.lit(batch_id)),
            dst,
            mode="overwrite",
            extra_part_cols=("batch_id",),
        )

    return _run_batches(parsed, checkpoint, available_now, write_batch)


def run_export_stream(
    spark: SparkSession,
    src: str,
    dst: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The reference's whole cron job as one streaming pipeline:
    scan -> parse -> partitioned write, exactly-once per input file.
    ``available_now=True`` drains everything currently in ``src`` and stops
    (a "catch-up batch" — the cron-parity mode); ``False`` runs forever."""
    lines = read_log_stream(spark, src)
    parsed = parse_log_stream(lines)
    return write_partitioned_stream(
        parsed, dst, checkpoint, available_now=available_now
    )


def correlate_reads_after_writes(
    parsed: DataFrame, horizon: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream interval join: each object GET matched to the PUT that
    (most plausibly) produced it — same key, GET within ``horizon`` after
    the PUT. This is the query class the reference's hourly-batch design
    cannot express at all: the PUT and the GET usually arrive in different
    hourly files.

    Both sides carry a watermark, so the join state store holds only
    ``watermark + horizon`` of per-key history per side and is purged as
    event time advances — bounded state at any throughput. The equality
    term on ``key`` makes it a shuffled hash-partitioned stream join, not a
    broadcast; the time bounds let Spark drop rows past the horizon
    instead of buffering forever (the unbounded-state trap of an
    equality-only stream-stream join)."""
    puts = (
        parsed.filter(F.col("operation").startswith("REST.PUT"))
        .select(
            F.col("key").alias("put_key"),
            F.col("ts_ts").alias("put_ts"),
            "bucket_name",
        )
        .withWatermark("put_ts", watermark)
    )
    gets = (
        parsed.filter(F.col("operation").startswith("REST.GET"))
        .select(
            F.col("key").alias("get_key"),
            F.col("ts_ts").alias("get_ts"),
            "requester",
        )
        .withWatermark("get_ts", watermark)
    )
    return puts.join(
        gets,
        (F.col("put_key") == F.col("get_key"))
        & (F.col("get_ts") >= F.col("put_ts"))
        & (F.col("get_ts") <= F.col("put_ts") + F.expr(f"INTERVAL {horizon}")),
    ).select(
        "bucket_name",
        F.col("put_key").alias("key"),
        "put_ts",
        "get_ts",
        "requester",
    )


def ingest_documents_stream(
    spark: SparkSession,
    src: str,
    store: str,
    checkpoint: str,
    available_now: bool = True,
    min_quality: float | None = None,
    scrub_pii: bool = False,
    normalize_text: bool = False,
    html: bool = False,
    lm_model: DataFrame | None = None,
    max_xent: float | None = None,
    band_store: str | None = None,
    bloom_store: str | None = None,
    bloom_num_bits: int | None = None,
    bloom_num_hashes: int | None = None,
    max_files_per_trigger: int | None = None,
    semantic_index: str | None = None,
    semantic_centroids: DataFrame | None = None,
    semantic_embeddings: DataFrame | None = None,
    semantic_threshold: float | None = None,
    semantic_dims: int | None = None,
    verify_unique_ids: bool = False,
    keep_source: bool = False,
    shard_store: str | None = None,
    n_shards: int | None = None,
    shard_merges: list[tuple[str, str]] | None = None,
    shard_vocab: list[str] | None = None,
    shard_pretokenizer: str = "default",
) -> StreamingQuery:
    """Streaming incremental corpus ingestion: JSONL document files land in
    ``src``; each micro-batch runs :func:`operators.curate.curate_corpus`'s
    stage list — the same gates, in the same order, with the same
    waterfall verdicts — against the append-only digest store at
    ``store`` (and ``band_store``), and only the kept documents are
    appended. See ``curate_corpus`` for the gates and their order:
    ``html``/``normalize_text`` are its ``html``/``normalize``
    transforms, ``min_quality`` and ``lm_model`` + ``max_xent`` its
    quality and LM gates, then blank-text, exact-dup (within the batch
    and against the digest history) and band-store near-dup. Two
    differences are the stream's own: ``scrub_pii`` redacts emails/IPs/
    digit-runs after the per-document gates and before the digest (two
    crawls of one page differing only in session tokens dedup as one
    document), and near-dups are judged against HISTORY only — two
    near-dups arriving in the same micro-batch both pass.

    Stream-only parts:

    * ``bloom_store`` keeps a per-batch Bloom filter of the digest store
      (functions.bloom): each micro-batch probes the concatenation of
      all PRIOR batches' filters, so definitely-new documents never
      touch the digest store and the maybe-seen slice checks it with
      broadcast joins (the store is scanned, never shuffled). The
      batch's filter partition is written BEFORE its documents, so a
      crash between the writes can only leave the filter
      OVER-approximating the store. Enabling it on a store whose
      history has no filter fails loudly — run
      :func:`backfill_bloom_store` once first.
      ``bloom_num_bits``/``bloom_num_hashes`` size NEW filter stores;
      an existing store's parameters always win.
    * ``semantic_index`` + ``semantic_centroids`` +
      ``semantic_embeddings`` (+ ``semantic_threshold``/
      ``semantic_dims``) gate SEMANTIC dups against HISTORY — a
      different stage kind from curate's within-batch ``embeddings``
      stage. Each kept document looks up its vector in the static
      ``(doc_id, embedding)`` side table, assigns to its nearest saved
      centroid and scans only that cluster's posting list of the
      persisted IVF index (``operators.similarity.build_ivf_index``
      layout); cosine similarity above the threshold to any indexed
      vector drops it. Kept vectors are appended AFTER the doc-store
      commit (``skip_existing`` makes a replayed append a no-op), and
      the probe ignores entries of the current batch, so a replay
      reproduces its first attempt's decisions. Documents with no
      well-formed embedding pass un-probed and are not indexed. A
      missing index bootstraps from the first batch; the quantizer is
      REQUIRED, since retraining per batch would orphan every posting
      list.
    * ``shard_store`` lands each batch's kept documents in the
      TRAINING-SHARD layout the batch export writes (operators/
      export.py): rows ``(doc_id, ids[, source])`` — the exact BPE id
      stream under ``shard_merges``/``shard_vocab`` (default demo
      vocabulary; ``shard_pretokenizer='gpt2'`` for the byte-level
      pipeline) with EOS appended — under hive ``shard=<s>/
      batch_id=<b>`` dirs in ``n_shards`` shards, rows ordered by the
      epoch permutation, written AFTER the doc-store commit. A
      sidecar stamps the tokenizer; resuming under a different one
      fails loud.
    * ``keep_source=True`` reads an optional ``source`` field from the
      feed (absent → NULL) into both the doc store and the shard store,
      so ``pack_shard_windows(mixture=)`` works over stream-built
      stores. One ``(digest, doc_id)`` pair arriving with several
      labels stores ``min(source)`` (NULLs lose) and ``max(text)``.
      Resuming a store in the other source mode fails loud.

    Replay: every store is written under a ``batch_id=<n>`` hive
    partition with dynamic partition overwrite, and every history read
    excludes the current ``batch_id``, so an at-least-once replay of a
    micro-batch rewrites exactly its own partitions. State lives
    entirely in the stores, which double as the batch pipeline's
    inputs. ``max_files_per_trigger`` bounds each micro-batch to that
    many input files (a backlog drains in bounded batches).
    ``verify_unique_ids`` (default False, unlike ``curate_corpus``) fails
    the stream on a micro-batch with duplicate non-null ``doc_id``s;
    the stream itself is duplicate-id safe, since LM scoring and the
    stores key on ``(id, text)`` and ``(digest, id)``.
    """
    from s3_access_logs_spark.operators.curate import STAGES, _stage_flags

    # optional feed field: JSON rows without it read as NULL; rows
    # carrying it under keep_source=False are simply not projected (the
    # reader schema IS the projection)
    schema = _DOC_SCHEMA + (", source string" if keep_source else "")
    if has_data_files(spark, store):
        # the doc store has no sidecar, so its source-mode contract is
        # enforced by a one-time schema sniff (underscore dirs —
        # staging/trash — are hidden from the parquet reader, so a
        # crashed fold does not break it): continuing an existing
        # store in the OTHER source mode would mix schemas under
        # batch_id leaves, and a plain parquet read of such a store
        # resolves an arbitrary footer — new batches' source column
        # could silently vanish from every downstream read (round 13,
        # VERDICT r12 item 2)
        _had = "source" in spark.read.parquet(store).columns
        if _had != keep_source:
            raise ValueError(
                f"ingest_documents_stream: the doc store at {store!r} "
                f"was built with keep_source={_had} but this stream "
                f"sets keep_source={keep_source} — resuming would mix "
                "sourceless and source-carrying batches in one store "
                "(NULL source would then mean 'pre-switch row', "
                "silently mis-weighting every later mixture). Point "
                "the stream at a new store, or keep the original "
                "setting."
            )
    if (lm_model is not None) != (max_xent is not None):
        # a half-specified gate would silently never apply while the
        # caller believes it is active (and would pay the model
        # materialization below for nothing)
        raise ValueError(
            "ingest_documents_stream: lm_model and max_xent must be "
            "passed together — one without the other disables the LM "
            "gate silently"
        )
    _sem_core = (semantic_index, semantic_centroids, semantic_embeddings)
    _sem_any = any(p is not None for p in _sem_core) or any(
        p is not None for p in (semantic_threshold, semantic_dims)
    )
    if _sem_any and not all(p is not None for p in _sem_core):
        # same half-specified-gate rule: the index without the quantizer
        # cannot be probed or appended to; the index without the side
        # table has nothing to probe WITH — and a lone threshold/dims
        # (review r8) is a caller who BELIEVES the gate is on while it
        # silently never applies
        raise ValueError(
            "ingest_documents_stream: semantic_index, semantic_centroids "
            "and semantic_embeddings must be passed together (threshold/"
            "dims only tune them) — a partial semantic gate would "
            "silently never apply"
        )
    if semantic_threshold is None:
        semantic_threshold = 0.9  # curate_corpus's semantic default
    if shard_store is None and (
        shard_merges is not None
        or shard_vocab is not None
        or n_shards is not None
        or shard_pretokenizer != "default"
    ):
        # the half-specified-gate rule, sink flavor: a tokenizer or a
        # shard count with no store would silently shard nothing
        # (n_shards defaults to None, not 8, exactly so it can join
        # this check — review r10)
        raise ValueError(
            "ingest_documents_stream: shard_merges/shard_vocab/"
            "n_shards without shard_store configure a sink that is "
            "off — pass shard_store, or drop them"
        )
    if shard_store is not None and n_shards is None:
        n_shards = 8
    docs = _read_files(spark, "json", src, schema, max_files_per_trigger)
    if lm_model is not None:
        # materialize ONCE, outside the batch loop: the model is
        # broadcast-sized by construction (train_bigram_lm caps both
        # count tables), but its LINEAGE is two aggregations over the
        # reference corpus — left lazy, every micro-batch would re-train
        # the LM several times (meta collect + each downstream action)
        lm_model = spark.createDataFrame(
            lm_model.collect(), lm_model.schema
        )
    if semantic_centroids is not None:
        # same once-outside-the-loop materialization: the quantizer is
        # nlist rows, but a lazy lineage (label_centroids/kmeans over a
        # corpus) would re-train per micro-batch AND per consumer
        _cent_rows = semantic_centroids.collect()
        semantic_centroids = spark.createDataFrame(
            _cent_rows, semantic_centroids.schema
        )
        # dims contract (review r8): well_formed_vector(embedding,
        # semantic_dims) below filters EVERY embedding out on a dims
        # mismatch, so every doc would pass un-probed and never be
        # indexed — the caller believes the gate is on while it
        # silently never applies. The centroids are already
        # materialized, so derive dims from them when unspecified and
        # fail loudly when the caller's dims disagree.
        _cent_dims = {
            len(r["centroid"])
            for r in _cent_rows
            if r["centroid"] is not None
        }
        if len(_cent_dims) > 1:
            raise ValueError(
                "ingest_documents_stream: semantic_centroids carries "
                f"mixed vector lengths {sorted(_cent_dims)} — not a "
                "usable quantizer"
            )
        if semantic_dims is None:
            semantic_dims = _cent_dims.pop() if _cent_dims else 64
        elif _cent_dims and _cent_dims != {semantic_dims}:
            raise ValueError(
                f"ingest_documents_stream: semantic_dims={semantic_dims} "
                f"but the centroid vectors have length "
                f"{_cent_dims.pop()} — the gate would silently filter "
                "every embedding and never apply; pass matching dims or "
                "omit semantic_dims to derive it from the centroids"
            )
    if semantic_dims is None:
        semantic_dims = 64
    _shard_tok = None
    if shard_store is not None:
        # build the WHOLE tokenizer once outside the batch loop (the
        # lm_model pattern; review r10 — resolving merges but
        # re-deriving the vocab, id dict and UDF per batch would pay
        # the O(R) construction on every micro-batch): the returned
        # UDF closure carries vocab + encoder and is reused verbatim
        from s3_access_logs_spark.functions import bpe as B

        _ms = (
            list(shard_merges)
            if shard_merges is not None
            else list(B.default_merges())
        )
        _vs = shard_vocab if shard_vocab is not None else B.bpe_vocab(_ms)
        if shard_vocab is not None:
            B.check_vocab_merges(_vs, _ms)
        _shard_tok = (
            B.bpe_token_ids_udf(
                _ms, vocab=_vs, validate=False,
                pretokenizer=shard_pretokenizer,
            ),
            len(_vs),
        )
        # stamp the store's id-space contract ONCE, before the query
        # starts (review r11, second pass: a per-batch re-stamp's
        # delete→rename gap would let a concurrent repack_epoch read
        # None and skip its pad validation — the exact silent
        # corruption the sidecar closes — besides paying FS churn per
        # micro-batch). Content is a pure function of the tokenizer
        # config, so a restart re-stamps the identical bytes.
        from s3_access_logs_spark.operators.export import (
            TOKEN_STORE_META,
            token_store_meta,
        )
        from s3_access_logs_spark.sources.fsutil import (
            read_json_sidecar,
            write_json_sidecar,
        )

        _meta = token_store_meta(
            len(_vs), -1, len(_vs), shard_pretokenizer, _ms, keep_source
        )
        _prev = read_json_sidecar(spark, shard_store, TOKEN_STORE_META)
        if _prev is not None:
            # a restart under the SAME tokenizer re-stamps identical
            # bytes; a restart under a DIFFERENT one would mix two id
            # spaces in one store while the sidecar asserts the new one
            # — exactly the heterogeneity the provenance keys exist to
            # expose, so fail loud instead of overwriting (review r12,
            # second pass). Pre-provenance sidecars (id-space keys
            # only) are upgraded in place when those keys agree.
            _prev_eff = dict(_prev)
            # a pre-round-13 sidecar has no has_source key, but every
            # store it stamps is sourceless BY CONSTRUCTION (the
            # stream schema was (doc_id, text)) — so the missing key
            # means False, not unknown. Without this default a legacy
            # store resumed with keep_source=True would pass the diff
            # loop (which only compares keys present in BOTH) and
            # silently "upgrade" into exactly the mixed-schema state
            # this guard exists to prevent (review r13). The other
            # pre-provenance keys stay upgrade-in-place: their absence
            # really is unknown, not an implied value.
            _prev_eff.setdefault("has_source", False)
            diffs = {
                k: (_prev_eff[k], _meta[k])
                for k in _meta
                if k in _prev_eff and _prev_eff[k] != _meta[k]
            }
            if diffs:
                raise ValueError(
                    "ingest_documents_stream: shard_store at "
                    f"{shard_store!r} was built under a different "
                    f"tokenizer/id-space (sidecar vs new config: "
                    f"{diffs}) — resuming would mix incompatible id "
                    "streams in one store. Point the stream at a new "
                    "shard_store, or purge/rebuild this one."
                )
        write_json_sidecar(
            spark, shard_store, TOKEN_STORE_META, _meta
        )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        if verify_unique_ids:
            # OPT-IN id-uniqueness gate (VERDICT r8 item 6): the
            # pipeline itself handles id reuse via (id, digest) keys,
            # so this exists to catch upstream producer bugs in feeds
            # that promise unique ids — see the docstring for why the
            # default differs from curate_corpus's.
            from s3_access_logs_spark.operators.dedup import (
                first_duplicate_id,
            )

            dup = first_duplicate_id(batch_df, "doc_id")
            if dup is not None:
                raise ValueError(
                    f"ingest_documents_stream: micro-batch {batch_id} "
                    f"carries duplicate doc_id {dup['doc_id']} "
                    f"(x{dup['_n']}) — this gate was enabled because "
                    "the feed promises unique ids, so a collision is "
                    "an upstream producer bug: fix the producer (the "
                    "pipeline's own (id, digest) keys stay safe either "
                    "way)"
                )
        sess = batch_df.sparkSession
        digest_bloom = None
        if bloom_store is not None:
            digest_bloom = _bloom_history(sess, store, bloom_store, batch_id)
        with scoped_cache() as cache:
            # curate's stage list over the micro-batch; store reads
            # exclude this batch_id, so an at-least-once replay never
            # self-collides with its own crashed attempt's rows
            flags, batch_bands = _stage_flags(
                batch_df, cache, min_quality=min_quality,
                lm_model=lm_model, max_xent=max_xent, html=html,
                normalize=normalize_text, digest_store=store,
                band_store=band_store, store_batch_id=batch_id,
                scrub_pii=scrub_pii, digest_bloom=digest_bloom,
            )
            # Doc-store rows carry the (scrubbed) TEXT, not just digests:
            # the store doubles as the batch pipeline's corpus input.
            rows = flags.withColumnsRenamed(
                {"_digest": "digest", "doc_id": "keep_id"}
            )
            survivors = rows.filter(F.col("_verdict") == "kept").select(
                "digest", "keep_id", "text"
            )
            if keep_source:
                # one row per kept (digest, keep_id) with a DETERMINISTIC
                # resolution over every gate-passing row sharing it:
                # min(source) (NULLs lose) and max(text) — source is NOT
                # functionally determined by the digest the way text
                # effectively is, so an arbitrary pick would let replays
                # store different bytes for the same feed
                rows = cache(rows)
                survivors = (
                    rows.filter(~F.greatest(*[
                        F.col(f"_f_{s}") for s in STAGES if s != "exact_dup"
                    ]))
                    .groupBy("digest", "keep_id")
                    .agg(
                        F.max("text").alias("text"),
                        F.min("source").alias("source"),
                    )
                    .join(
                        survivors.select("digest", "keep_id"),
                        ["digest", "keep_id"],
                    )
                )
            if any(
                sink is not None
                for sink in (bloom_store, band_store, semantic_index,
                             shard_store)
            ):
                # a second sink reads the survivors -> compute them once
                survivors = cache(survivors)
            sem_kept_vecs = None
            if semantic_index is not None:
                from s3_access_logs_spark.operators.similarity import (
                    _FLAT,
                    _assign_clusters,
                    _index_contract,
                    _pruned_read,
                    cosine_from_norms,
                    l2_norm,
                    well_formed_vector,
                )

                batch_ids = survivors.select(
                    F.col("keep_id").alias("doc_id")
                ).distinct()
                # vector lookup: the side table is corpus-scale, the
                # batch is small — broadcast the batch ids so the
                # embeddings scan joins without shuffling; malformed
                # vectors are treated as ABSENT (pass un-probed, never
                # indexed), the same disposition as every other vector
                # consumer
                sem_vecs = (
                    semantic_embeddings.join(F.broadcast(batch_ids), "doc_id")
                    .filter(well_formed_vector("embedding", semantic_dims))
                    .select(
                        F.col("doc_id").alias("query_id"),
                        F.col("embedding").alias("q_vec"),
                        l2_norm("embedding").alias("q_norm"),
                    )
                )
                if has_data_files(sess, semantic_index):
                    # nearest saved centroid per batch vector (broadcast
                    # argmin, zero exchange), then read ONLY the touched
                    # posting lists (the probe_ivf_index shape) — after
                    # the flat-index contract check, before any write
                    _index_contract(
                        sess, semantic_index, _FLAT,
                        "ingest_documents_stream",
                    )
                    assigned = cache(_assign_clusters(
                        sem_vecs, semantic_centroids, "q_vec", 1
                    ))
                    posting = (
                        _pruned_read(sess, semantic_index, assigned)
                        # ignore entries from the CURRENT batch: a
                        # replayed batch that already appended must
                        # reproduce its first attempt's decisions, not
                        # self-collide (within-batch semantic dups pass
                        # by scope rule)
                        .join(
                            F.broadcast(
                                batch_ids.select(
                                    F.col("doc_id").alias("neighbor_id")
                                )
                            ),
                            "neighbor_id",
                            "left_anti",
                        )
                    )
                    sem_hits = (
                        posting.join(F.broadcast(assigned), "cluster")
                        .filter(
                            cosine_from_norms(
                                "q_vec", "c_vec", "q_norm", "c_norm"
                            )
                            > F.lit(semantic_threshold)
                        )
                        .select(F.col("query_id").alias("keep_id"))
                        .distinct()
                    )
                    # every sink below reads the FINAL survivors, whose
                    # lineage re-reads the probed posting lists
                    survivors = cache(
                        survivors.join(sem_hits, "keep_id", "left_anti")
                    )
                # vectors to index post-commit: only documents that
                # actually land in the store. Cached because
                # append_to_ivf_index runs several actions over it
                # (isEmpty, touched-cluster collect, anti-join stats,
                # write) and its lineage re-scans the embeddings table.
                sem_kept_vecs = cache(sem_vecs.join(
                    F.broadcast(
                        survivors.select(
                            F.col("keep_id").alias("query_id")
                        ).distinct()
                    ),
                    "query_id",
                ).select(
                    F.col("query_id").alias("vec_id"),
                    F.col("q_vec").alias("embedding"),
                ))
            # Write order is the exactness argument: bloom partition
            # FIRST (a crash after it leaves the filter covering digests
            # the store never committed — over-approximation, safe),
            # then the doc store — its rows are the commit the band
            # contract keys on ("append bands AFTER the batch commits").
            # A crash between doc and band writes leaves documents
            # without bands (missed future near-dups, recoverable)
            # rather than bands without documents.
            if bloom_store is not None:
                from s3_access_logs_spark.functions.bloom import (
                    DEFAULT_NUM_BITS,
                    DEFAULT_NUM_HASHES,
                    _read_meta,
                    bloom_build,
                )

                # an existing filter store's parameters win, so every
                # partition stays mergeable
                nb, nh = (
                    _read_meta(digest_bloom)[:2] if digest_bloom else (
                        bloom_num_bits or DEFAULT_NUM_BITS,
                        bloom_num_hashes or DEFAULT_NUM_HASHES,
                    )
                )
                write_batch_partition(
                    bloom_build(survivors.select("digest"), "digest", nb, nh),
                    batch_id,
                    bloom_store,
                )
            write_batch_partition(survivors, batch_id, store)
            if band_store is not None:
                # DISTINCT ids: a batch repeating one doc_id must not
                # carry join multiplicity into the band store
                write_batch_partition(
                    batch_bands.join(
                        survivors.select(
                            F.col("keep_id").alias("id")
                        ).distinct(),
                        "id",
                    ),
                    batch_id,
                    band_store,
                )
            if sem_kept_vecs is not None:
                # AFTER the doc commit (the band-store ordering rule): a
                # crash here leaves committed docs unindexed — healed by
                # the replay — never index entries for uncommitted docs.
                # skip_existing makes the replayed append a no-op.
                from s3_access_logs_spark.operators.similarity import (
                    append_to_ivf_index,
                    build_ivf_index,
                )

                if has_data_files(sess, semantic_index):
                    append_to_ivf_index(
                        sess, sem_kept_vecs, semantic_index,
                        semantic_centroids,
                    )
                else:
                    # first batch bootstraps the index with the SAVED
                    # quantizer — no separate build step for callers
                    build_ivf_index(
                        sem_kept_vecs, semantic_index,
                        centroids=semantic_centroids,
                    )
            if shard_store is not None:
                # AFTER the doc commit (the derived-artifact ordering
                # rule): tokenize the batch's final survivors, assign
                # shards with the stateless hash projection, land under
                # shard=<s>/batch_id=<b> ordered by the epoch
                # permutation — see the docstring's shard_store note
                from s3_access_logs_spark.operators.layout import (
                    training_shards,
                )

                _ids_udf, _eos = _shard_tok
                ids_rows = survivors.select(
                    F.col("keep_id").alias("doc_id"),
                    F.concat(
                        F.coalesce(
                            _ids_udf(F.col("text")),
                            F.array().cast("array<int>"),
                        ),
                        F.array(F.lit(_eos)),
                    ).alias("ids"),
                    # the batch write_token_store layout
                    # (doc_id, ids[, source]): the tiny source column
                    # is what makes pack_shard_windows(mixture=) — the
                    # per-epoch curriculum — work over STREAM-built
                    # stores (round 13, VERDICT r12 item 2)
                    *(["source"] if keep_source else []),
                )
                # unlike write_training_shards, shard_order STAYS a
                # data column here: the parquet writer's required
                # (shard, batch_id) ordering means the permutation sort
                # must include it in-plan (see write_batch_partition's
                # sort_cols note), and dropping it post-sort would let
                # the writer re-sort non-stably; consumers re-derive or
                # ignore it
                write_batch_partition(
                    # ONE writer per shard (the write_training_shards
                    # rule): without the repartition every task would
                    # append a file to every shard dir — a small-files
                    # blowup per micro-batch — and the per-file
                    # permutation order would interleave across files
                    training_shards(ids_rows, n_shards).repartition(
                        n_shards, "shard"
                    ),
                    batch_id,
                    shard_store,
                    extra_partition_cols=("shard",),
                    sort_cols=("shard_order",),
                )

    return _run_batches(docs, checkpoint, available_now, ingest_batch)


def _bloom_history(
    sess: SparkSession, store: str, bloom_store: str, batch_id: int
) -> list | None:
    """The Bloom filter over the digest store's PRIOR batches, for the
    digest-history stage: the collected filter rows, or None when no
    prior filter exists (a replayed FIRST batch sees only its own
    excluded partition: plain history read). Fails loud when a committed
    doc-store batch is not covered by the filter."""
    from s3_access_logs_spark.functions.bloom import _COVER_MAX_BATCH

    # ONE read of the filter store per batch: the collected rows feed
    # the meta/coverage checks AND the probe (bloom_probe accepts
    # pre-collected rows)
    rows = read_prior_batches(
        sess, bloom_store, "word bigint, bits bigint", batch_id
    ).select("word", "bits").collect()
    # COVERAGE, not mere existence: every committed doc-store batch must
    # have its filter partition, or predate the last backfill's coverage
    # marker, or be a fold of covered batches (negative ids —
    # compact_ingest_store folds rows, and the folded batches' own
    # filter partitions remain). A stream that ran with the gate OFF for
    # some batches would otherwise probe an under-approximating filter
    # -> false negatives -> silent duplicates.
    # several backfills leave several markers — coverage is the MAX claim
    cover_max = max(
        (r["bits"] for r in rows if r["word"] == _COVER_MAX_BATCH), default=-1
    )
    bloom_batches = batch_leaves(sess, bloom_store)
    bloom_live = {b for b in bloom_batches if b >= 0}
    has_base = any(b < 0 for b in bloom_batches)
    min_live = min(bloom_live) if bloom_live else None

    # a doc batch with no filter partition is still covered when (a) a
    # backfill marker claims it, or (b) the filter store has a base
    # partition, SOME live partition exists, and the batch predates
    # every live one — compact_ingest_store folded its filter ROWS into
    # the base (union-idempotent). When NO live partition exists the
    # base arm must NOT apply: a backfill marker at X followed by
    # gate-off batches X+1..X+n leaves has_base true and bloom_live
    # empty, and accepting those batches vacuously would re-open the
    # exact silent-duplicate hole this check closes. The fold-all case
    # (stream stopped, keep_recent=0) therefore raises too — loud,
    # recoverable with one backfill, never silent.
    def covered(b: int) -> bool:
        if b in bloom_live or b <= cover_max:
            return True
        return has_base and min_live is not None and b < min_live

    uncovered = [
        b
        for b in batch_leaves(sess, store)
        if b >= 0 and b != batch_id and not covered(b)
    ]
    if uncovered:
        raise ValueError(
            "ingest_documents_stream: digest-store batches "
            f"{uncovered} have no filter partition in "
            f"{bloom_store!r} (gate enabled after unfiltered "
            "history?) — a probe would miss those digests "
            "(false negatives = duplicate documents). Run "
            "backfill_bloom_store once, then restart the stream."
        )
    # meta rows (negative words) exist once any prior filter does
    return rows if any(r["word"] < 0 for r in rows) else None


def backfill_bloom_store(
    spark: SparkSession,
    store: str,
    bloom_store: str,
    num_bits: int | None = None,
    num_hashes: int | None = None,
) -> None:
    """One-time filter backfill for a digest store that predates
    ``bloom_store``: build ONE Bloom filter over every digest already
    committed and write it under the fold base ``batch_id=-1`` (negative,
    so it can never collide with a live micro-batch's replay exclusion —
    the same convention as ``compact_ingest_store``). After this,
    ``ingest_documents_stream(..., bloom_store=...)`` accepts the store
    and keeps the filter current per batch. Sizing: pass num_bits from
    :func:`functions.bloom.bloom_size_for` on the store's current row
    count plus expected growth; the per-batch partitions must reuse the
    same parameters (they will — ingest reads them from the meta rows)."""
    from s3_access_logs_spark.functions.bloom import (
        _COVER_MAX_BATCH,
        DEFAULT_NUM_BITS,
        DEFAULT_NUM_HASHES,
        bloom_build,
    )

    digests = read_prior_batches(spark, store, "digest string").select(
        "digest"
    )
    covered = [b for b in batch_leaves(spark, store) if b >= 0]
    base = bloom_build(
        digests,
        "digest",
        num_bits or DEFAULT_NUM_BITS,
        num_hashes or DEFAULT_NUM_HASHES,
    )
    # coverage marker: the ingest gate accepts doc-store batches <= this
    # id with no per-batch filter partition — the base covers them
    marker = spark.createDataFrame(
        [(_COVER_MAX_BATCH, max(covered) if covered else -1)],
        "word bigint, bits bigint",
    )
    # only the base partition is replaced
    write_batch_partition(base.unionByName(marker), FOLD_BASE_ID, bloom_store)


def _sweep_orphan_markers(spark: SparkSession, store: str) -> None:
    """Retire curate ownership markers whose ``batch_id=`` partition no
    longer exists. Orphans arise two ways: a fold retires the partition
    (its rows move into the base, so a FRESH stream checkpoint reusing
    the low epoch id may safely write it — keeping the marker would
    refuse it forever), and a curate run that claimed an id crash- or
    error-failed before committing data. Running the sweep from
    ``compact_ingest_store`` — idempotently, on every maintenance run —
    means a crash between a fold's commit and its marker retirement
    merely defers the cleanup to the next run instead of leaking the
    marker permanently (review r5). Safe against live claims only under
    the store's one-maintenance-writer-at-a-time contract, which
    curate and compaction already share."""
    from s3_access_logs_spark.sources.fsutil import (
        list_partition_markers,
        remove_partition_marker,
    )

    live = set(batch_leaves(spark, store))
    for b in list_partition_markers(spark, store) - live:
        remove_partition_marker(spark, store, b)


def compact_ingest_store(
    spark: SparkSession,
    store: str,
    keep_recent: int = 1,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Maintenance for the append-only stores ``ingest_documents_stream``
    grows (digest store, MinHash band store): every micro-batch appends
    one ``batch_id=<n>`` hive partition forever, so after N batches a
    probe join lists N directories of small files. This entry point FOLDS
    committed history into a single ``batch_id=-1`` base partition,
    deletes the folded partitions, then runs
    ``operators.etl.compact_partitions`` over the store so everything
    remaining obeys the target file size.

    Replay safety: ``keep_recent`` (default 1) keeps the newest batches
    out of the fold — the only ones a replay can still rewrite; ``0`` is
    legal with the stream stopped (see ``sources.fsutil.fold_batch_store``,
    the fold both this and :func:`compact_token_store` run).

    Crash posture (summing-store safe, object-store safe): the fold
    STAGES the combined base under ``_fold_staging`` and swaps it in by
    the stage-and-swap protocol of ``sources.fsutil`` (``swap_leaves``:
    move aside, ``_moved_ok`` commit marker, install; every run first
    converges a crashed swap of any maintenance op via
    ``recover_swaps``). History rows therefore exist in exactly one live
    place at every crash point, which matters for LINEAR stores: the
    count-min frequency store SUMS counter rows, so a crash must never
    leave a folded batch's counters both in the base and in its own
    partition (ADVICE r4). Returns
    ``{"folded": [...], "kept": [...], "compacted": [...]}``."""
    from s3_access_logs_spark.operators.etl import compact_partitions

    _, folded, kept = fold_batch_store(spark, store, keep_recent)
    # after the fold, and on an empty store too: a fold retires ids, and
    # a claim that never wrote data must not leak its marker
    _sweep_orphan_markers(spark, store)
    compacted = compact_partitions(
        spark, store, target_file_bytes=target_file_bytes
    )
    return {
        "folded": folded,
        "kept": kept,
        "compacted": [c["partition"] for c in compacted],
    }


def ingest_assets_stream(
    spark: SparkSession,
    src: str,
    store: str,
    checkpoint: str,
    fingerprint_store: str | None = None,
    fingerprint_fn=None,
    max_hamming: int = 3,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming multimodal asset ingestion: parquet files of
    ``(asset_id long, payload binary)`` land in ``src``; each micro-batch
    is exact-deduped on the payload digest (within itself and against the
    append-only asset store) and, with ``fingerprint_store`` set,
    perceptually deduped against the append-only fingerprint band store
    — the multimodal twin of ``ingest_documents_stream``'s digest + band
    gates.

    ``fingerprint_fn`` maps an asset frame to ``(id, w0, w1)``
    fingerprints (default ``operators.multimodal.image_dhash``; pass
    ``audio_fingerprint`` / ``video_fingerprint`` for those modalities —
    one stream per modality, since one hamming space must not mix
    fingerprint kinds). A re-encoded or lightly edited copy of an
    ingested asset — different bytes, near-identical fingerprint —
    is caught here, not by the digest gate — whether the copy arrived
    in an EARLIER batch (store probe) or in the SAME micro-batch (a
    batch-local ``hamming_near_pairs`` pass keeps the smallest id of
    each near group before the store probe runs). Assets the
    fingerprint function cannot decode pass the perceptual gate (no
    fingerprint, no collision) and rely on the digest gate alone;
    NULL-payload rows are dropped outright — md5(NULL) would evade the
    digest anti-join forever.

    Same replay discipline as the text ingest: every store read excludes
    the CURRENT batch_id (an at-least-once replay must not self-collide),
    survivors and bands write under ``batch_id=<n>`` with dynamic
    partition overwrite, and bands append only after the asset write so
    a crash between the two loses future detections, never assets.
    ``compact_ingest_store`` folds both stores.
    ``max_files_per_trigger`` bounds catch-up batches exactly as in
    :func:`ingest_documents_stream` — asset payloads are large, so an
    unbounded backlog drain is even more memory-hostile here."""
    from s3_access_logs_spark.operators.dedup import hamming_incremental

    if fingerprint_fn is None:
        from s3_access_logs_spark.operators.multimodal import image_dhash

        fingerprint_fn = image_dhash

    assets = _read_files(
        spark, "parquet", src, "asset_id long, payload binary",
        max_files_per_trigger,
    )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession

        def read_prior(path: str, empty_schema: str):
            return read_prior_batches(sess, path, empty_schema, batch_id)

        # NULL payloads out FIRST: md5(NULL) is NULL, NULL never equals
        # NULL in the anti-join, so such rows would re-ingest forever —
        # and the fingerprint stage would crash on them. An asset
        # without bytes is not an asset.
        digested = batch_df.filter(
            F.col("payload").isNotNull()
        ).withColumn("digest", F.md5("payload"))
        if digested.isEmpty():
            return
        w = Window.partitionBy("digest").orderBy("asset_id")
        batch_unique = (
            digested.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        seen = read_prior(store, "digest string").select("digest")
        survivors = batch_unique.join(seen, "digest", "left_anti")
        if fingerprint_store is not None:
            from s3_access_logs_spark.operators.dedup import (
                hamming_near_pairs,
            )

            with scoped_cache() as cache:
                survivors = cache(survivors)
                # fp is cached too: the Python-side payload decode+hash
                # is the dominant per-batch cost and THREE consumers read
                # it (within-batch pairs, the store probe, the band
                # append)
                fp = cache(fingerprint_fn(
                    survivors.select(F.col("asset_id"), F.col("payload"))
                ))
                # WITHIN-batch near-dups first: two re-encodes of one
                # image arriving in the same micro-batch must not both
                # pass just because neither is in the store yet. Keep the
                # smaller id of every near pair (hamming_near_pairs emits
                # id_a < id_b).
                intra_drop = (
                    hamming_near_pairs(
                        fp, max_hamming=max_hamming, max_band_freq=None
                    )
                    .select(F.col("id_b").alias("id"))
                    .distinct()
                )
                fp_kept = fp.join(intra_drop, "id", "left_anti")
                seen_bands = read_prior(
                    fingerprint_store,
                    "id long, w0 long, w1 long, chunk_idx int, "
                    "chunk_val long",
                ).select("id", "w0", "w1", "chunk_idx", "chunk_val")
                hits, bands = hamming_incremental(
                    fp_kept, seen_bands, max_hamming=max_hamming
                )
                near_ids = hits.select(
                    F.col("new_id").alias("asset_id")
                ).unionByName(
                    intra_drop.select(F.col("id").alias("asset_id"))
                ).distinct()
                kept = cache(
                    survivors.join(near_ids, "asset_id", "left_anti")
                )
                write_batch_partition(kept, batch_id, store)
                kept_bands = bands.join(
                    kept.select(F.col("asset_id").alias("id")), "id"
                )
                write_batch_partition(
                    kept_bands, batch_id, fingerprint_store
                )
        else:
            write_batch_partition(survivors, batch_id, store)

    return _run_batches(assets, checkpoint, available_now, ingest_batch)


def track_frequencies_stream(
    spark: SparkSession,
    src: str,
    sketch_store: str,
    checkpoint: str,
    candidates_store: str | None = None,
    candidates_per_batch: int = 100,
    width: int | None = None,
    depth: int | None = None,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming key-frequency tracking with BOUNDED state: each
    micro-batch tokenizes its documents, sketches the token counts into a
    count-min (functions.cms) and writes the sketch under a
    ``batch_id=<n>`` hive partition — the frequency twin of the Bloom
    store ``ingest_documents_stream`` keeps.

    Why a sketch store and not a streaming ``groupBy(token).count()``:
    exact running counts keep one state row per DISTINCT token forever —
    at crawl scale the distinct set IS the memory problem, and the
    watermark-vs-completeness tradeoff buys nothing for an all-time
    tally. The CMS caps state at depth x width counters per batch, the
    partitions are linear (summing them IS the sketch of the full
    history), and ``compact_ingest_store`` folds old partitions without
    changing any estimate — counter rows just coexist and readers sum.

    ``candidates_store`` makes the store answer "WHICH keys are heavy",
    not just "how heavy is this key": each batch's exact top
    ``candidates_per_batch`` tokens (a bounded per-batch aggregation —
    within one micro-batch exact counting is cheap) append under the
    same ``batch_id`` layout, and :func:`heavy_hitters` re-scores the
    candidate union against the merged sketch. Coverage caveat
    (standard for sketch+candidate designs): a key heavy ONLY in
    aggregate but never in any single batch's top-N can be missed —
    raise ``candidates_per_batch`` to taste; estimates themselves are
    never missed and never under-counted.

    Replay/crash posture: both writes are dynamic-partition overwrites
    keyed on ``batch_id``, so an at-least-once replay rewrites exactly
    its own partitions (the per-batch sketch is deterministic). The
    sketch partition is written FIRST: a crash between the writes leaves
    a batch counted in the sketch but absent from the candidate list —
    its keys can still surface via other batches' candidacy and every
    estimate stays a true overestimate; the reverse order could surface
    a candidate whose mass the sketch never saw (an undercount).

    Parameters: a NEW store takes ``width``/``depth`` (defaults:
    functions.cms). An existing store's meta rows always win — passing
    different values fails loudly instead of silently mixing
    incompatible counter grids.
    """
    from s3_access_logs_spark.functions.cms import (
        DEFAULT_DEPTH,
        DEFAULT_WIDTH,
        _read_meta,
        cms_build,
    )

    docs = _read_files(spark, "json", src, _DOC_SCHEMA, max_files_per_trigger)

    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        w, d = width or DEFAULT_WIDTH, depth or DEFAULT_DEPTH
        meta = (
            read_prior_batches(sess, sketch_store, _CMS_SCHEMA, batch_id)
            .filter(F.col("row") < 0)
            .select("row", "col", "cnt")
            .distinct()
            .collect()
        )
        if meta:
            ew, ed, _ = _read_meta(meta)
            if (width is not None and width != ew) or (
                depth is not None and depth != ed
            ):
                raise ValueError(
                    f"track_frequencies_stream: store at "
                    f"{sketch_store!r} was built with (width={ew}, "
                    f"depth={ed}) but caller asked for ({width}, "
                    f"{depth}) — sketches with different grids can "
                    "never merge; drop the override or rebuild"
                )
            w, d = ew, ed
        tokens = batch_df.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("token")
        ).filter(F.col("token") != "")
        write_batch_partition(
            cms_build(tokens, "token", w, d), batch_id, sketch_store
        )
        if candidates_store is not None:
            top = (
                tokens.groupBy("token")
                .agg(F.count("*").alias("batch_cnt"))
                .orderBy(F.col("batch_cnt").desc(), "token")
                .limit(candidates_per_batch)
            )
            write_batch_partition(top, batch_id, candidates_store)

    return _run_batches(docs, checkpoint, available_now, sketch_batch)


def track_profile_stream(
    spark: SparkSession,
    src: str,
    profile_store: str,
    checkpoint: str,
    k: int = 4096,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming distribution profiling: each micro-batch sketches its
    documents' length distribution (``functions.quantile`` bottom-k
    sample over char count, keyed on doc_id) into a ``batch_id=<n>``
    partition — "p50/p95/p99 of document length over everything
    ingested so far" maintained incrementally, never rescanning history.

    Unlike the count-min store, raw partition UNION is NOT the merged
    sketch — a union of per-batch bottom-k samples over-represents
    small batches. :func:`profile_quantiles` therefore re-takes the
    global bottom-k on read (cheap: batches x k rows, nothing touches
    the corpus). Dynamic-overwrite partitioning gives the same replay
    idempotency as the other stores; mismatched ``k`` against existing
    partitions fails loudly at read time (quantile_sketch_merge)."""
    from s3_access_logs_spark.functions.quantile import (
        quantile_sketch_build,
    )

    docs = _read_files(spark, "json", src, _DOC_SCHEMA, max_files_per_trigger)

    def profile_batch(batch_df: DataFrame, batch_id: int) -> None:
        sk = quantile_sketch_build(
            batch_df.withColumn("_len", F.length("text")),
            "_len",
            "doc_id",
            k=k,
        )
        write_batch_partition(sk, batch_id, profile_store)

    return _run_batches(docs, checkpoint, available_now, profile_batch)


def profile_quantiles(
    spark: SparkSession, profile_store: str, qs: list[float]
) -> dict[float, float]:
    """All-time quantiles from a ``track_profile_stream`` store: treat
    every batch partition as one sketch and merge (re-take the global
    bottom-k — required for uniformity, see track_profile_stream), then
    evaluate driver-side over the bounded sample."""
    from s3_access_logs_spark.functions.quantile import (
        quantile_sketch_merge,
        quantile_values,
    )

    store = read_prior_batches(
        spark, profile_store, "h bigint, v double"
    ).select("h", "v")
    return quantile_values(quantile_sketch_merge(store), qs)


def frequency_estimates(
    spark: SparkSession,
    sketch_store: str,
    df: DataFrame,
    col: str,
    result_col: str = "est_count",
) -> DataFrame:
    """Attach the all-time count estimate from a ``track_frequencies_
    stream`` store to every row of ``df[col]``. The store's partitions
    are linear, so their concatenated rows ARE the merged sketch —
    ``cms_estimate`` sums duplicate counters as it densifies, one store
    scan, no per-partition merge job. Estimates only overestimate."""
    from s3_access_logs_spark.functions.cms import cms_estimate, cms_merge

    # merge IN-ENGINE before collecting: the store holds one counter
    # grid per batch partition, so a raw collect grows linearly with
    # stream age (327k rows x batches at default size) while the merged
    # sketch is one bounded grid forever — cms_merge's per-counter SUM
    # is exactly the fold, and linearity makes the estimates identical
    rows = cms_merge(
        read_prior_batches(spark, sketch_store, _CMS_SCHEMA).select(
            "row", "col", "cnt"
        )
    ).collect()
    return cms_estimate(df, col, rows, result_col)


def heavy_hitters(
    spark: SparkSession,
    sketch_store: str,
    candidates_store: str,
    k: int = 10,
) -> DataFrame:
    """Top-``k`` keys across the stream's whole history: the candidate
    union (bounded: batches x candidates_per_batch rows) re-scored
    against the merged sketch, ordered by estimated count. Exactness
    caveats inherit from :func:`track_frequencies_stream`: estimates are
    overestimates, and a key never locally-top in any batch is absent."""
    cands = (
        read_prior_batches(spark, candidates_store, "token string")
        .select("token")
        .distinct()
    )
    scored = frequency_estimates(
        spark, sketch_store, cands, "token", "est_count"
    )
    return scored.orderBy(
        F.col("est_count").desc(), "token"
    ).limit(k)


def dedup_request_stream(parsed: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on the request id: at-least-once upstream
    delivery (S3 log files are occasionally re-delivered) becomes
    exactly-once downstream. ``dropDuplicatesWithinWatermark`` keeps one
    state-store entry per requestid only until the watermark passes it, so
    state is O(requests per watermark horizon) — the unbounded-memory trap
    of a plain streaming ``dropDuplicates`` never opens."""
    return parsed.withWatermark("ts_ts", watermark).dropDuplicatesWithinWatermark(
        ["requestid"]
    )


def compact_token_store(
    spark: SparkSession,
    store: str,
    keep_recent: int = 1,
) -> dict:
    """Maintenance for the STREAMING token shard store (round 12,
    VERDICT r11 item 3): ``ingest_documents_stream(shard_store=...)``
    appends one ``shard=<s>/batch_id=<b>`` leaf per shard per
    micro-batch forever, so months of streaming list N_batches dirs of
    small files under every shard — the small-files blowup the batch
    store (one ``shard=<s>`` dir, one file) never has. This folds
    committed batches into a single ``batch_id=-1`` base
    leaf per shard — ONE file per shard, rows in ``shard_order`` like
    the stream's own files — leaving the store bit-equivalent for
    every consumer: ``repack_epoch`` ignores ``batch_id`` and the
    stored ``shard_order`` entirely (pinned identical before/after),
    and ``pack_shard_windows`` still sees the same ``shard_order``
    column (kept in the base exactly so the ingest-order pack
    capability survives compaction). The root
    ``_token_store_meta.json`` sidecar is never touched.

    Replay safety and crash posture are :func:`compact_ingest_store`'s:
    the same fold (``sources.fsutil.fold_batch_store``), here over the
    two-level ``shard=<s>/batch_id=<b>`` leaves. Token-store rows are
    set-semantics (one row per (doc_id, digest-gated ingest)), so
    even the linear-store concern does not arise. Returns
    ``{"folded": [...], "kept": [...]}`` (global batch ids)."""
    leaves, folded, kept = fold_batch_store(
        spark, store, keep_recent, ("shard",), ("shard_order", "doc_id")
    )
    if not leaves and has_data_files(spark, store):
        # shard dirs holding plain files (no batch_id children) ARE the
        # already-compact batch layout; no shard dirs at all means this
        # is not a token store
        raise ValueError(
            f"compact_token_store: {store!r} has data but no "
            "shard=<s>/batch_id=<b> leaves — this is the batch "
            "write_token_store layout (already one dir per shard, "
            "nothing to fold) or not a token store at all"
        )
    return {"folded": folded, "kept": kept}
