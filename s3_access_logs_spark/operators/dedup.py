"""Deduplication operators for large-scale text corpora (engine extension,
BASELINE.json mandate). All operate on a DataFrame with (id_col, text_col).

Scale notes (the point of each design):

* exact: one hash-shuffle on the digest; map-side partial agg keeps the
  shuffle at one row per distinct digest.
* minhash LSH: candidate generation is explode(bands) + self-join on the
  band key — cost ~ O(docs x bands) shuffle rows instead of O(docs^2);
  verification runs only on bucket collisions.
* ngram-jaccard: exact pairwise similarity via an inverted index
  (explode shingles -> join on shingle) — never a cross join; prune
  high-frequency shingles to cap skew.
* simhash: near-dup by Hamming distance via pigeonhole banding on bit
  chunks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from s3_access_logs_spark.functions.text import (
    HASH_P,
    minhash_signature,
    shingles_from_word_hashes,
    word_hashes,
)


def _shingle_table(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, shingles) with the word-hash array materialized in its own
    projection so each word's md5 is computed exactly once (see
    functions.text.shingles_from_word_hashes plan-shape note)."""
    return df.select(
        F.col(id_col).alias("id"), word_hashes(F.col(text_col)).alias("wh")
    ).select(
        "id", shingles_from_word_hashes("wh", n=shingle_n).alias("shingles")
    )


def normalized_digest(text: Column) -> Column:
    """Canonical content digest: lowercase, collapse whitespace, trim,
    md5. Collapse BEFORE trim: F.trim strips only ASCII spaces, so the
    reverse order left a residual space for texts bounded by newlines or
    tabs — 'abc' and 'abc\\n' (the common file-ending difference) hashed
    differently and silently under-deduped."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def first_duplicate_id(df: DataFrame, id_col: str):
    """One example duplicated non-null id as a ``(id, _n)`` Row, or
    None — the shared core of the id-uniqueness gates (VERDICT r8
    item 6; ``curate_corpus`` default-on, ``ingest_documents_stream``
    opt-in). One column-pruned aggregation + ``limit(1)``; NULL ids are
    exempt by design (their handling is the documented per-consumer
    contract the dirty sweeps pin)."""
    dup = (
        df.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(1)
        .collect()
    )
    return dup[0] if dup else None


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One surviving row per distinct normalized text: (digest, keep_id,
    n_dupes). Deterministic survivor = min id."""
    return (
        df.select(
            normalized_digest(F.col(text_col)).alias("digest"), F.col(id_col)
        )
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def bloom_maybe_seen(
    digests: DataFrame,
    seen_digests: DataFrame,
    digest_bloom: DataFrame | list,
    digest_col: str = "digest",
) -> DataFrame:
    """The ``seen_digests`` rows whose digest is in ``digests`` AND
    maybe-seen by ``digest_bloom`` — exactly the store digests a batch
    can collide with, found without shuffling the store. Join direction
    matters: ``maybes LEFT ANTI store`` must build its hash table from
    the store side, so it can never broadcast and the whole store would
    SHUFFLE every batch; ``store INNER JOIN broadcast(maybes)`` instead
    scans the store, probes each row against the tiny maybe set and
    never exchanges it."""
    from s3_access_logs_spark.functions.bloom import bloom_probe

    maybes = (
        bloom_probe(digests, digest_col, digest_bloom, "_maybe")
        .filter(F.col("_maybe"))
        .select(digest_col)
    )
    return seen_digests.select(digest_col).join(
        F.broadcast(maybes), digest_col
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<long>) MinHash signatures as a pure per-row
    projection: the shingle-hash array is materialized as its OWN column
    (the multi-reference barrier — CollapseProject will not inline a
    non-cheap expression referenced k times), then the k universal-hash
    mins fold over that column attribute. ZERO exchanges: signatures ride
    the scan stage, so at any corpus size the operator adds no shuffle.

    Grain: one signature row per INPUT ROW — ``id_col`` is assumed unique
    (the corpus contract everywhere in this package). Duplicate ids yield
    one signature per duplicate row; the removed explode+groupBy form
    would instead have merged their shingle sets into one signature, an
    accidental semantics nothing depended on.

    History: round 1 used explode + groupBy(id)-of-k-mins because the
    single-expression form (shingles inlined into each min-term) measured
    20x slower — the real culprit was the missing projection barrier, not
    the per-row fold. With the barrier the per-row form is ~3x faster
    than the explode+groupBy at sf0.1 (no 52-rows-per-doc explosion, no
    corpus-wide shuffle by doc id) and bit-identical on unique-id
    input."""
    sh = _shingle_table(df, id_col, text_col, shingle_n)
    return sh.select(
        "id", minhash_signature(F.col("shingles"), k=k).alias("sig")
    )


# Default hot-bucket cap for SimHash banding, mirroring
# DEFAULT_MAX_SHINGLE_FREQ: a band bucket holding more than this many
# DISTINCT fingerprints generates a quadratic pair fan-out, so it is
# dropped by default (VERDICT r3 item 1 — the cap must be ON, not merely
# available). Dropped-bucket semantics: a near-pair is still found through
# any of its other ``chunks - 1`` bands, so the reported pair set is a
# LOWER BOUND when a bucket degenerates — the same trade jaccard_pairs
# makes for stop-shingles, instead of an OOM.
DEFAULT_MAX_BAND_FREQ = 1000


def minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band_idx, band_key) — each doc's LSH band keys, ``bands`` rows
    per doc. The shared banding primitive: self-joined for within-corpus
    candidates (``minhash_candidates``), probed against an on-disk band
    store for incremental near-dup (``near_dup_incremental``).

    Docs with NO shingles (fewer than ``shingle_n`` words) are excluded:
    their signature is the all-sentinel vector, so every such doc would
    collide with every other in every band — a fabricated quadratic
    clique of unrelated short documents ('hi', 'ok', 'yes'), and a band
    store poisoned with sentinel keys forever. No shingles means no
    near-dup evidence; short-doc dedup is ``dedup_exact``'s job."""
    if k % bands or bands < 1:
        # bands > k silently made every band_key the empty string (all
        # docs collide in everything); a non-dividing k silently ignored
        # the signature tail — both now fail like _chunk_layout does
        raise ValueError(
            f"minhash_bands: k must divide evenly into bands, got "
            f"(k={k}, bands={bands})"
        )
    rows = k // bands
    # real hash values are mod HASH_P (strictly below it), so sig[0] ==
    # HASH_P iff the shingle set was empty — the sentinel is unambiguous
    sig = minhash_signatures(
        df, id_col, text_col, k=k, shingle_n=shingle_n
    ).filter(F.col("sig")[0] != F.lit(HASH_P))
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.concat_ws(
                            "-",
                            F.transform(
                                F.slice("sig", j * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        ).alias("band_key"),
                    )
                    for j in range(bands)
                ]
            )
        ).alias("band"),
    ).select("id", "band.band_idx", "band.band_key")


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) whose signatures collide in >= 1
    band. k/bands rows per band; P(collide) ~ jaccard^(k/bands) per band.

    ``max_band_freq`` drops band buckets holding more than N docs before
    the self-join (the file-wide hot-bucket convention — jaccard's
    stop-shingle cap, simhash's band cap — applied to the MinHash path
    too): a boilerplate bucket of M docs fans out M^2 join rows with no
    other guard. Dropped-bucket pairs can still collide in any of their
    other ``bands - 1`` bands; a dup group larger than the cap degrades
    to that documented lower bound instead of an executor OOM."""
    banded = minhash_bands(df, id_col, text_col, k, bands, shingle_n)
    if max_band_freq is not None:
        # cap enforced BEFORE the posting list materializes (the
        # file-wide window-then-group pattern shared with jaccard_pairs
        # and duplicate_spans: a WindowExec partition spills to disk, a
        # single collect_list group's array cannot) — and the window's
        # sort feeds the adjacent groupBy's exchange reuse, so the cap
        # costs no exchange of its own.
        from pyspark.sql import Window as W

        banded = (
            banded.withColumn(
                "_n",
                F.count(F.lit(1)).over(
                    W.partitionBy("band_idx", "band_key")
                ),
            )
            .filter(F.col("_n") <= max_band_freq)
            .drop("_n")
        )
    # Posting-list pair generation (optimization r13, guide §2.4/§3):
    # ordered pairs explode straight out of each band bucket's sorted id
    # list — the jaccard_pairs/simhash codegen-generator shape — instead
    # of the former band-key SELF-JOIN, which shuffled the banded table
    # twice (build + probe of a SortMergeJoin) plus a third groupBy for
    # the hot-bucket count and a broadcast anti-join to apply it. One
    # exchange (the bucket groupBy, reusing the cap window's sort) now
    # does all of it; the pair distinct below is unchanged. The bucket
    # cap bounds every collected array at ``max_band_freq`` ids, the
    # same guarantee the join form relied on to bound its fan-out.
    grouped = (
        banded.groupBy("band_idx", "band_key")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    return (
        grouped.select(F.posexplode("ids").alias("i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("i") + F.lit(2), F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


# Default stop-shingle cap: a shingle shared by more than this many docs
# generates a quadratic pair fan-out in its posting list, so it is dropped
# from the inverted index by default (VERDICT r1 item 3 — the cap must be
# ON, not merely available). Mirrored in the ngram_jaccard_pairs oracle SQL
# so both engines skip the same shingles.
DEFAULT_MAX_SHINGLE_FREQ = 1000


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >= 1 shingle,
    via inverted index: explode -> self-join on shingle -> count
    intersections; |union| = |A| + |B| - |inter|.

    ``max_shingle_freq`` drops shingles appearing in more than N docs
    (stopword-shingle skew guard, ON by default — at 100 TB a single hot
    shingle would otherwise produce a quadratic bucket; pass ``None``
    explicitly to disable). Dropping a hot shingle removes it from the
    intersection count but NOT from the per-doc set sizes, so reported
    jaccard values for affected pairs are lower bounds — the standard
    stop-shingle trade-off.

    Plan shape (the scale-critical part): exactly ONE pass over the
    expensive shingle-hash expression, two shuffles, zero joins, no cache.
    The naive formulation (inverted-index self-join + two size joins)
    re-evaluates the md5 shingle pipeline on every branch — Catalyst can't
    reuse the exchange because lambda-variable ids defeat plan
    canonicalization — and measured 2.7x slower at sf0.1. Here each doc's
    shingle-set size rides along inside the inverted index
    (``n_sh`` is constant per doc), the per-shingle groupBy collects the
    posting list once, and ordered pairs explode straight out of it with
    both sizes already in hand, so |union| needs no lookup.

    Pair generation is two chained generators (posexplode, then explode of
    the tail slice), NOT a nested transform/flatten HOF: generators run in
    whole-stage codegen while HOF lambdas are evaluated interpreted, and
    the nested-slice form also recopies the posting array per element —
    O(c^3) element touches per hot shingle vs the generators' O(c^2)
    (measured 3.3 s -> 0.9 s on the sf0.1 bench query)."""
    inter = _intersection_pairs(
        df, id_col, text_col, shingle_n, max_shingle_freq
    )
    return (
        inter.withColumn(
            "jaccard_raw",
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
        )
        .filter(F.col("jaccard_raw") >= threshold)
        .select(
            "id_a", "id_b", "n_inter", F.round("jaccard_raw", 6).alias("jaccard")
        )
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = DEFAULT_MAX_SHINGLE_FREQ,
) -> DataFrame:
    """Asymmetric near-dup detection: ``containment = |A intersect B| /
    min(|A|, |B|)`` — the score that catches a short document EMBEDDED
    in a long one (quote farms, article + boilerplate wrappers), which
    symmetric Jaccard structurally misses: a 100-shingle doc fully
    contained in a 10,000-shingle doc has jaccard ~0.01 but containment
    1.0. Same single-pass posting-list pipeline, skew cap and lower-bound
    caveat as :func:`jaccard_pairs` (shared ``_intersection_pairs``).

    Output adds ``contained_id`` — the smaller-set side, i.e. the row
    the keep-the-superset removal policy drops; ties (equal sizes) name
    the larger id so the canonical keep-smallest-id rule still holds."""
    inter = _intersection_pairs(
        df, id_col, text_col, shingle_n, max_shingle_freq
    )
    cont = F.col("n_inter") / F.least("n_a", "n_b").cast("double")
    smaller = F.when(F.col("n_a") < F.col("n_b"), F.col("id_a")).when(
        F.col("n_b") < F.col("n_a"), F.col("id_b")
    ).otherwise(F.greatest("id_a", "id_b"))
    return (
        inter.withColumn("_c", cont)
        .filter(F.col("_c") >= threshold)
        .select(
            "id_a",
            "id_b",
            "n_inter",
            F.round("_c", 6).alias("containment"),
            smaller.alias("contained_id"),
        )
    )


def _intersection_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_shingle_freq: int | None,
) -> DataFrame:
    """(id_a, id_b, n_a, n_b, n_inter) for every ordered doc pair sharing
    >= 1 surviving shingle — the shared core of jaccard_pairs /
    containment_pairs; see jaccard_pairs for the plan-shape rationale."""
    sh = _shingle_table(df, id_col, text_col, shingle_n)
    inv = sh.select(
        "id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("shingle")
    )
    if max_shingle_freq is not None:
        # enforce the cap BEFORE any posting list materializes: a
        # WindowExec partition spills a degenerate hot shingle to disk,
        # whereas a single collect_list group's array cannot — and the
        # window's sort feeds the adjacent groupBy's exchange reuse
        from pyspark.sql import Window as W

        inv = (
            inv.withColumn(
                "_n", F.count(F.lit(1)).over(W.partitionBy("shingle"))
            )
            .filter(F.col("_n") <= max_shingle_freq)
            .drop("_n")
        )
    grouped = (
        inv.groupBy("shingle")
        .agg(F.sort_array(F.collect_list(F.struct("id", "n_sh"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pairs = (
        grouped.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select(
            "a",
            F.explode(
                F.slice("ms", F.col("i") + F.lit(2), F.size("ms"))
            ).alias("b"),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.n_sh").alias("n_b"),
        )
    )
    return pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )


def ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Benchmark decontamination: per-document n-gram overlap of ``corpus``
    against the shingle set of ``benchmark`` (the eval/test suite whose
    presence in training data would leak).

    Returns one row per *contaminated* corpus document:
    ``(id, *keep_cols, n_sh, n_hit, overlap)`` where ``n_sh`` is the doc's
    distinct-shingle count, ``n_hit`` how many of those appear anywhere in
    the benchmark, and ``overlap = n_hit / n_sh``. Documents with zero
    overlap are absent (the common case — callers needing totals aggregate
    them from the corpus directly, which avoids a corpus-sized left join).

    Scale shape: benchmarks are small by construction (MBs against 100 TB
    of corpus), so the benchmark shingle set is built with one tiny
    aggregation and BROADCAST into a corpus-side semi-ish inner join — the
    corpus is never shuffled by shingle; the only corpus-sized exchange is
    the per-doc hit count, keyed by doc id. The shingle pipeline reuses the
    md5-per-word + arithmetic-fold machinery (one md5 per word, shingles
    derived arithmetically — see functions.text.shingles_from_word_hashes).
    """
    bench_sh = (
        _shingle_table(benchmark, id_col, text_col, shingle_n)
        .select(F.explode("shingles").alias("shingle"))
        .distinct()
    )
    sh = corpus.select(
        F.col(id_col).alias("id"),
        *keep_cols,
        word_hashes(F.col(text_col)).alias("wh"),
    ).select(
        "id",
        *keep_cols,
        shingles_from_word_hashes("wh", n=shingle_n).alias("shingles"),
    )
    exploded = sh.select(
        "id",
        *keep_cols,
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("shingle"),
    )
    hits = exploded.join(F.broadcast(bench_sh), "shingle").groupBy(
        "id", *keep_cols, "n_sh"
    ).agg(F.count(F.lit(1)).alias("n_hit"))
    return hits.withColumn(
        "overlap", F.col("n_hit") / F.col("n_sh").cast("double")
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """(id, simhash). The token md5 array is materialized in its own
    projection so the per-bit folds reference a column attribute, not an
    inlined expression — one md5 per token instead of ``bits`` per token
    (see functions.text.simhash_token_hashes)."""
    from s3_access_logs_spark.functions.text import (
        simhash_from_hashes,
        simhash_token_hashes,
    )

    return df.select(
        F.col(id_col).alias("id"),
        simhash_token_hashes(F.col(text_col)).alias("_hs"),
    ).select("id", simhash_from_hashes("_hs", bits=bits).alias("simhash"))





def simhash_fingerprint_words(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(id, w0..w{n-1}): the ``bits``-bit SimHash fingerprint as
    little-endian 32-bit words, each a non-negative long.

    The word representation is what makes 64-bit fingerprints portable:
    a single 64-bit value needs the 2^63 bit weight, which overflows
    signed BIGINT on Spark AND DuckDB; two 32-bit words never leave
    [0, 2^32). Word w's token hashes come from md5 hex chars
    ``8w+1..8w+8`` (independent 32-bit planes of the same digest), so
    ``w0`` is bit-identical to the historical 32-bit fingerprint."""
    if bits > 32 and bits % 32:
        raise ValueError("bits must be <= 32 or a multiple of 32")
    n_words = max(1, bits // 32)
    from s3_access_logs_spark.functions.text import (
        simhash_from_hashes,
        simhash_token_hashes,
    )

    from s3_access_logs_spark.functions.text import words

    # token-less texts (punctuation-only pages) would ALL fold to
    # fingerprint 0 and land in one distinct-fingerprint group, whose
    # hamming-0 expansion is by design exempt from the band cap — a
    # fabricated quadratic clique of unrelated pages. No tokens, no
    # similarity evidence: such docs are excluded, like minhash_bands'
    # empty-shingle exclusion. The filter tests the RAW token array,
    # not the hash column: a filter on _hs0 gets pushdown-inlined and
    # re-evaluates the whole md5 pipeline per row (the multi-reference
    # trap the plan-shape test pins at md5 <= 4).
    proj = df.filter(F.size(words(F.col(text_col))) > 0).select(
        F.col(id_col).alias("id"),
        *[
            simhash_token_hashes(F.col(text_col), word=w).alias(f"_hs{w}")
            for w in range(n_words)
        ],
    )
    return proj.select(
        "id",
        *[
            simhash_from_hashes(f"_hs{w}", bits=min(32, bits)).alias(f"w{w}")
            for w in range(n_words)
        ],
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    max_hamming: int = 3,
    chunks: int = 4,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole banding: split the fingerprint into ``chunks`` bit-chunks;
    any pair within distance < chunks must agree on >= 1 chunk, so
    candidates come from band buckets (shuffle-friendly), then exact
    popcount verification.

    Defaults are the 100 TB-safe configuration (VERDICT r3 item 1):
    64-bit fingerprints with 16-bit band keys give 65536 bucket values per
    band — with the old 32-bit/8-bit default every band had only 256
    buckets, so the candidate stage was quadratic in distinct fingerprints
    (~4F^2/512 candidates) regardless of corpus content. On top of the
    wider keys, ``max_band_freq`` drops any bucket holding more than N
    distinct fingerprints (ON by default, like jaccard's stop-shingle
    cap): a degenerate bucket — every near-identical boilerplate page
    hashing into one band value — degrades to a documented lower bound
    (pairs are still found via their other bands when any other chunk
    agrees) instead of an executor OOM.

    The DISTINCT-FINGERPRINT groups themselves are the one uncapped
    accumulation: a corpus with a massive exact-duplicate clique puts
    every clone's id in one group's list, and the hamming-0 output is
    quadratic in the clique by SPEC (every pair really is a near-dup).
    Run :func:`dedup_exact` first on such corpora — the package-wide
    contract that ids are unique per distinct content.

    Everything runs at the DISTINCT-FINGERPRINT grain, then expands back
    to doc pairs from per-fingerprint id lists riding inside the bucket
    entries. Real corpora carry heavy exact duplication, so the banding
    stage shrinks by (docs/distinct_fps)^2 while the doc-pair output is
    pure expansion. Plan shape: band buckets are posting lists
    (group-then-generate, the jaccard_pairs pattern) — in-bucket pairs
    come from codegen generators over the collected list, so there is NO
    candidate self-join at all; the only joins anywhere are none, and the
    shuffles are the two groupBys plus the pair distinct. Hamming is the
    native popcount-of-xor summed across words (the first cut's per-bit
    float-pow fold cost 235 s at sf0.1 vs seconds now), and the near
    filter runs BEFORE the pair distinct so only true near-pairs shuffle
    (a pair can match in up to ``chunks`` bands)."""
    fp = simhash_fingerprint_words(df, id_col, text_col, bits)
    return hamming_near_pairs(
        fp,
        bits=bits,
        max_hamming=max_hamming,
        chunks=chunks,
        max_band_freq=max_band_freq,
    )


def hamming_near_pairs(
    fp: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    chunks: int = 4,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> DataFrame:
    """The fingerprint-agnostic core of :func:`simhash_near_pairs`:
    pigeonhole-banded Hamming near-pair search over ANY ``bits``-bit
    fingerprint presented as ``(id, w0..w{n-1})`` little-endian 32-bit
    words (``simhash_fingerprint_words`` layout). Text SimHash and
    perceptual image hashes (operators.multimodal.image_dhash) share
    every property the banding relies on — only the fingerprint
    function differs — so they share this machinery, caps and all.
    Contract, plan shape and the distinct-fingerprint-grain reasoning:
    see simhash_near_pairs."""
    chunk_val_of = _chunk_layout(bits, chunks)
    wcols = [c for c in fp.columns if c != "id"]
    groups = fp.groupBy(*wcols).agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    # intra-group pairs: identical fingerprints, hamming 0 — never subject
    # to banding or the bucket cap. ids is sorted, so exploding (pos, id_a)
    # then the tail slice after pos gives each unordered pair once with
    # id_a < id_b.
    intra = (
        groups.filter(F.size("ids") >= 2)
        .select("ids", F.posexplode("ids").alias("pa", "id_a"))
        .select(
            "id_a",
            F.explode(
                F.slice(
                    "ids", F.col("pa") + 2, F.size("ids") - F.col("pa") - 1
                )
            ).alias("id_b"),
        )
        .withColumn("hamming", F.lit(0).cast("int"))
    )
    # Cross-group candidates: band buckets over distinct fingerprints.
    # Chunk j lives entirely inside word j*width//32 (guaranteed by
    # _chunk_layout's width check); words are non-negative so the
    # arithmetic shift is exact.
    def chunk_val(j: int) -> Column:
        return chunk_val_of(j).alias("chunk_val")

    entry = F.struct(
        *[F.col(c) for c in wcols], F.col("ids")
    ).alias("e")
    banded = groups.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_idx"), chunk_val(j)
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("ch"),
        entry,
    ).select("ch.chunk_idx", "ch.chunk_val", "e")
    if max_band_freq is not None:
        # cap before the bucket list materializes (window partitions
        # spill; one collect_list group's array cannot) — same guard
        # shape as jaccard_pairs/duplicate_spans
        from pyspark.sql import Window as W

        banded = (
            banded.withColumn(
                "_n",
                F.count(F.lit(1)).over(
                    W.partitionBy("chunk_idx", "chunk_val")
                ),
            )
            .filter(F.col("_n") <= max_band_freq)
            .drop("_n")
        )
    buckets = (
        banded.groupBy("chunk_idx", "chunk_val")
        .agg(F.sort_array(F.collect_list("e")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_pool = (
        buckets.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select(
            "a",
            F.explode(
                F.slice("ms", F.col("i") + F.lit(2), F.size("ms"))
            ).alias("b"),
        )
    )
    hamming = sum(
        [
            F.bit_count(
                F.col("a")[c].bitwiseXOR(F.col("b")[c])
            ).cast("int")
            for c in wcols
        ],
        F.lit(0).cast("int"),
    )
    near_fp = (
        pair_pool.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can agree on several chunks
    )
    cross = (
        near_fp.select(
            "hamming",
            F.col("b")["ids"].alias("ids_b"),
            F.explode(F.col("a")["ids"]).alias("ia"),
        )
        .select("hamming", "ia", F.explode("ids_b").alias("ib"))
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "hamming",
        )
    )
    return intra.select("id_a", "id_b", "hamming").unionByName(
        cross.select("id_a", "id_b", "hamming")
    )


def _star_components(und: DataFrame, ckpt, max_iterations: int) -> DataFrame:
    """Alternating large-star/small-star contraction over a SYMMETRIC edge
    list ``(src, dst)`` -> (id, cluster_id) labels for every non-isolated
    node. O(log n) rounds on any topology (public algorithm: Kiveris et
    al. 2014); each round is two posting-list groupBys with generator
    fan-out — the same bounded-neighborhood shape the banding operators
    use, no joins inside the loop.

    * large-star: per node u with neighborhood N(u), m = min(N(u) + {u});
      emit (v, m) for v in N(u), v > u — long paths fold towards local
      minima without ever growing a neighborhood.
    * small-star: per node u over min-oriented edges (u > v), m = min
      neighbor; emit (v, m) for the other neighbors and (u, m) —
      contracts each low neighborhood onto its min.

    Fixed point = the small-star output is a star forest (every node
    points straight at its component min), detected by edge-set equality
    between rounds; exceeding ``max_iterations`` raises (same fail-loud
    contract as min-label propagation)."""
    # canonical min-orientation (big, small); self-loops dropped
    cur = ckpt(
        und.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("a"),
            F.least("src", "dst").alias("b"),
        )
        .distinct()
    )
    for _ in range(max_iterations):
        sym = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        g = sym.groupBy("a").agg(
            F.min("b").alias("mn"), F.collect_list("b").alias("vs")
        )
        large = (
            g.select(
                F.col("a"),
                F.least("mn", F.col("a")).alias("m"),
                F.explode("vs").alias("v"),
            )
            .filter(F.col("v") > F.col("a"))
            # v > a >= m, so (v, m) is already min-oriented and loop-free
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        g2 = large.groupBy("a").agg(
            F.min("b").alias("m"), F.collect_list("b").alias("vs")
        )
        small = ckpt(
            g2.select(
                "m",
                F.explode(
                    F.concat(F.array(F.col("a")), F.col("vs"))
                ).alias("v"),
            )
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        converged = small.exceptAll(cur).limit(1).count() == 0 and (
            cur.exceptAll(small).limit(1).count() == 0
        )
        cur = small
        if converged:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_iterations} "
            "rounds — raise max_iterations (expected rounds ~ log2(n))"
        )
    # fixed point is a star forest: every (a, b) points at the component
    # min b; centers label themselves
    return (
        cur.select(F.col("a").alias("id"), F.col("b").alias("cluster_id"))
        .union(
            cur.select(F.col("b").alias("id"), F.col("b").alias("cluster_id"))
        )
        .distinct()
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    reliable_checkpoint: bool | None = None,
    algorithm: str = "min_label",
) -> DataFrame:
    """Cluster assignment (id, cluster_id) for an undirected graph given as
    candidate pairs: cluster_id = min node id in the connected component;
    nodes with no edges keep their own id.

    This is the final step of a dedup pipeline: MinHash/SimHash pair
    generation says *which* documents look alike; components turn pairwise
    hits into keep-one-per-cluster groups.

    Two algorithms, same contract (verified convergence, fail-loud):

    * ``min_label`` (default) — hash-to-min label propagation: each round
      every node takes the min of its own label and its neighbors'
      labels, until a round changes nothing. Rounds = graph diameter;
      dedup graphs are near-cliques of duplicates, so this converges in
      2-3 rounds at any data scale.
    * ``star`` — alternating large-star/small-star contraction (Kiveris
      et al., "Connected Components in MapReduce and Beyond", public
      algorithm): each round rewires high neighbors to the neighborhood
      min (large-star) then contracts low neighbors onto it
      (small-star), halving long paths — O(log n) rounds regardless of
      diameter. The right mode when duplicate CHAINS appear (doc A ~ B,
      B ~ C, ... — e.g. successive versions of a page), where
      propagation would need diameter rounds.

    Scale design: the loop touches only nodes that appear in at least one
    edge — at 100 TB near-dup graph nodes are a small fraction of the
    corpus, so singletons (the overwhelming majority) never enter a round
    and join back exactly once at the end. Per round: one shuffle for the
    neighbor-min aggregate and one join carrying a changed-flag, so
    convergence detection is a cheap agg over the already-materialized
    round output, not an extra join. Checkpointing truncates lineage
    so the plan does not grow with iteration count — without it, iteration
    k replays all k-1 prior joins and the job dies long before 100 TB.

    Durability (``reliable_checkpoint``): ``localCheckpoint`` stores blocks
    on executors — fast, but on a real cluster an executor loss kills the
    job mid-iteration. When a checkpoint dir is configured
    (``spark.sparkContext.setCheckpointDir``), reliable ``checkpoint()`` is
    used instead (default ``None`` = auto-detect: reliable iff a checkpoint
    dir is set; pass True/False to force).
    """
    sc = nodes.sparkSession.sparkContext
    if reliable_checkpoint is None:
        reliable_checkpoint = sc.getCheckpointDir() is not None
    if reliable_checkpoint and sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable_checkpoint=True requires "
            "spark.sparkContext.setCheckpointDir(...)"
        )

    def ckpt(df: DataFrame) -> DataFrame:
        return (
            df.checkpoint(eager=True)
            if reliable_checkpoint
            else df.localCheckpoint(eager=True)
        )

    def ckpt_counted(df: DataFrame) -> tuple[DataFrame, int]:
        """Eager checkpoint + changed-count in ONE job: the
        checkpoint's materialization action completes the observation,
        so per-round convergence detection schedules no job of its own
        — one job per round instead of two, at any scale."""
        from s3_access_logs_spark.operators.observed import observe

        observed, changed = observe(
            df, F.count(F.when(F.col("chg") == 1, 1)).alias("changed")
        )
        return ckpt(observed), changed()["changed"]

    if algorithm not in ("min_label", "star"):
        raise ValueError("algorithm must be 'min_label' or 'star'")

    # materialize the edge list once — without this, every iteration's join
    # re-executes the full upstream plan that produced the pairs (for
    # dedup_clusters that is the whole MinHash+LSH pipeline, x rounds)
    und = ckpt(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    )
    if algorithm == "star":
        labels = _star_components(und, ckpt, max_iterations)
        return (
            nodes.select(F.col(id_col).alias("id"))
            .join(labels, "id", "left")
            .select(
                "id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id")
            )
        )
    # Round 1 fused into initialization (optimization r13, guide §2.4 —
    # remove shuffles outright): with labels[id] = id, round 1's
    # neighbor-min join is the identity mapping, so its output is exactly
    # `least(id, min over neighbors of neighbor_id)` — ONE aggregation
    # over the edge list. This replaces the old init (a distinct over the
    # node ids: one shuffle + one checkpoint) AND round 1's join+aggregate
    # (two more exchanges) with a single groupBy; on a near-clique dedup
    # graph that converges in 2 rounds it removes a third of the loop's
    # passes over the edge set at any scale. Every graph node appears as
    # ``dst`` (und holds both directions), so the node set is preserved.
    first, changed = ckpt_counted(
        und.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("nbr_min"))
        .select(
            "id",
            F.least(F.col("id"), F.col("nbr_min")).alias("cluster_id"),
            (F.col("nbr_min") < F.col("id")).cast("int").alias("chg"),
        )
    )
    labels = first.drop("chg")
    for _ in range(max_iterations - 1):
        if not changed:
            break
        nbr_min = (
            und.join(labels, und["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        # every graph node has >= 1 neighbor (und holds both directions),
        # so the join is inner and nbr_min is never null
        merged, changed = ckpt_counted(
            labels.join(nbr_min, "id")
            .select(
                "id",
                F.least("cluster_id", "nbr_min").alias("cluster_id"),
                (F.col("nbr_min") < F.col("cluster_id")).cast("int").alias("chg"),
            )
        )
        labels = merged.drop("chg")
    if changed:
        # the LAST allowed round still changed labels — but changing INTO
        # the fixed point on the final round is legitimate (graph diameter
        # == max_iterations). One verification round distinguishes the
        # two; only a result that would still move is rejected. Silent
        # wrong output is worse than failure.
        verify = (
            und.join(labels, und["src"] == labels["id"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
            .join(labels, "id")
            .filter(F.col("nbr_min") < F.col("cluster_id"))
        )
        still_moving = verify.limit(1).count()
        if still_moving:
            raise RuntimeError(
                f"connected_components did not converge in {max_iterations} "
                "iterations (labels still changing); raise "
                "max_iterations — min-label propagation needs rounds >= "
                "graph diameter"
            )
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .select("id", F.coalesce("cluster_id", F.col("id")).alias("cluster_id"))
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, cluster_id) near-dup cluster assignment over MinHash+LSH
    candidate pairs; cluster_id = min doc_id of the group, so
    ``filter(doc_id == cluster_id)`` is the canonical keep-one policy."""
    pairs = minhash_candidates(
        df, id_col=id_col, text_col=text_col, k=k, bands=bands, shingle_n=shingle_n
    )
    nodes = df.select(F.col(id_col).alias("id"))
    return connected_components(nodes, pairs).select(
        F.col("id").alias(id_col), "cluster_id"
    )


DEFAULT_MAX_GRAM_FREQ = 1000


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 43,
    portable_hash: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkes & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the MOSS algorithm): per document, hash every character
    ``k``-gram, then in every sliding window of ``window`` consecutive
    hashes select the rightmost minimum. Guarantee: any verbatim substring
    of length >= t = window + k - 1 shared by two documents yields at
    least one selected fingerprint at the SAME k-gram in both, with
    expected density 2/(window+1) — the sound sparse sampling that "0 mod
    p" hashing lacks.

    Returns (id, pos, gram): ``pos`` is the 0-based character offset and
    ``gram`` the raw selected k-gram. Downstream joins key on the gram
    ITSELF (k=8 chars costs what an 8-byte hash would), so hash values
    only steer the selection and collisions cannot fabricate matches.

    Shape: a pure per-row projection — sequence/transform HOFs build the
    hash array and the per-window minima, the distinct selections
    explode, NO shuffle at any corpus size.

    ``portable_hash`` switches the selection hash from ``xxhash64`` (the
    fast default) to the md5-based cross-engine primitive
    (``functions.text.md5_long``) so an external SQL engine can
    reproduce the selection value-for-value — the winnowing guarantee
    holds under ANY deterministic hash, only the sparse-sample choice
    changes. The catalog's oracle-checked entry uses this; production
    pipelines keep the default.

    The window minimum is one ``array_min`` over a ``slice`` of PACKED
    ``(hash, position)`` keys (leftmost minimum — any rule that is a
    pure function of the window's contents preserves the guarantee, and
    both documents see identical windows inside a shared region; see
    the packing note in the body). The slice copies cost O(len *
    window) longs, but the min loop is the JVM's vectorized array
    kernel rather than a per-step Catalyst ``aggregate`` fold (the fold
    measured 4.1 s where the kernel shape took 1.5 s at sf0.1), and the
    packing folds the former ``array_position`` rescan into the same
    scan. Documents shorter than t emit their single global minimum
    (standard edge rule) and empty/NULL texts emit nothing."""
    from s3_access_logs_spark.functions.text import md5_long

    t = F.col(text_col)
    n_grams = F.length(t) - F.lit(k - 1)  # number of k-grams
    gram_hash = (
        (lambda g: md5_long(g, hex_chars=15))
        if portable_hash
        else F.xxhash64
    )
    # Packed (hash, position) keys (round 7): key = (hash mod 2^39) <<
    # 24 | 0-based gram position. One array_min over a window slice then
    # returns the minimum hash AND its position in a SINGLE scan —
    # absolute position is monotone in within-window position, so
    # min-by-packed-key IS the leftmost-minimum rule (equal truncated
    # hashes resolve to the smaller position). The selection hash
    # becomes the 39-bit truncation — winnowing's guarantee holds under
    # ANY deterministic hash, only the sparse-sample choice moves; the
    # DuckDB oracle packs identically so both engines select the same
    # grams. The earlier shape paid a slice copy PLUS an array_min scan
    # PLUS an array_position rescan per window — the dominant cost of
    # the whole fingerprint projection (measured at 100×: ~40 s of a
    # ~58 s projection was this loop; the hash choice moves it < 10 s).
    # Position packing caps documents at 2^24 grams (~16.7M chars).
    # Past it the position bits would carry into the hash bits, and the
    # two engines DIVERGE rather than degrade together: Spark's long
    # arithmetic wraps silently (negative packed keys whose low-24-bit
    # decode is garbage) while DuckDB raises Out of Range on BIGINT
    # overflow. The cap is therefore an explicit contract — documents
    # with more than 2^24 grams are filtered out of fingerprinting below
    # (mirrored in `_duplicate_spans_sql`), never fingerprinted wrongly
    # (multimodal payloads belong in binary columns, not 16 MB text
    # rows; a corpus that genuinely needs them fingerprinted should
    # chunk first — `chunk_documents` — which also bounds skew).
    hashes = F.transform(
        F.sequence(F.lit(1), n_grams),
        lambda i: F.shiftleft(
            F.pmod(gram_hash(t.substr(i, F.lit(k))), F.lit(1 << 39)), 24
        )
        + (i - 1),
    )
    m = F.col("_m")  # n_grams, materialized — `text` is renamed away
    # Sliding-window minimum as a SPARSE TABLE (optimization r13, guide
    # §1.2 step 2 — per-task work): the former shape took
    # ``array_min(slice(_h, j+1, window))`` per window start, which
    # ALLOCATES AND COPIES a window-length array per gram — O(len x
    # window) copied longs per document, the dominant cost of this
    # zero-shuffle projection (measured r7: ~40 s of a ~58 s projection
    # at 100x). Standard RMQ sparse table instead: level arrays
    # T_k[i] = min(_h[i .. i+2^k-1]) built by halving
    # (T_k[i] = least(T_{k-1}[i], T_{k-1}[i+2^{k-1}])), then every
    # window min is ONE least() over two overlapping power-of-two
    # blocks — O(len x log window) element reads, no per-window
    # allocation. min is idempotent/associative, so the overlap is
    # harmless and the selected values are bit-identical (pinned: the
    # integration A/B summed count/sum/id-weighted-sum over all
    # selections at sf0.1 — equal). Each level is materialized as its
    # OWN column (the multi-reference barrier: the next level reads it
    # twice, and Catalyst inlines, never CSEs, repeated non-attribute
    # references). Levels are guarded on m >= window; shorter docs take
    # the single-global-min branch exactly as before (the old slice
    # clamped to the whole array for them).
    n_levels = max(int(window).bit_length() - 1, 0)  # floor(log2(window))

    def _level_fn(pc: Column, half: int):
        return lambda i: F.least(
            F.element_at(pc, i), F.element_at(pc, i + F.lit(half))
        )

    base = df.filter(
        (F.length(t) >= k) & (n_grams <= F.lit(1 << 24))
    ).select(
        F.col(id_col).alias("id"),
        t.alias("_t"),
        n_grams.alias("_m"),
        hashes.alias("_h"),
    )
    prev = "_h"
    for lvl in range(1, n_levels + 1):
        base = base.withColumn(
            f"_sw{lvl}",
            F.when(
                m >= F.lit(window),
                F.transform(
                    F.sequence(F.lit(1), m - F.lit((1 << lvl) - 1)),
                    _level_fn(F.col(prev), 1 << (lvl - 1)),
                ),
            ),
        )
        prev = f"_sw{lvl}"
    top = F.col(prev)
    # window start s (1-based) covers [s, s+window-1]; the two blocks
    # [s, s+2^j-1] and [s+window-2^j, s+window-1] tile it exactly
    selected = F.array_distinct(
        F.when(
            m >= F.lit(window),
            F.transform(
                F.sequence(F.lit(1), m - F.lit(window - 1)),
                lambda s: F.pmod(
                    F.least(
                        F.element_at(top, s),
                        F.element_at(
                            top, s + F.lit(window - (1 << n_levels))
                        ),
                    ),
                    F.lit(1 << 24),
                ),
            ),
        ).otherwise(
            F.array(F.pmod(F.array_min(F.col("_h")), F.lit(1 << 24)))
        )
    )
    return (
        base.select(
            "id",
            "_t",
            F.explode(selected).alias("_p"),
        )
        .select(
            "id",
            F.col("_p").alias("pos"),
            F.col("_t")
            .substr((F.col("_p") + 1).cast("int"), F.lit(k))
            .alias("gram"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 43,
    min_span_len: int | None = None,
    max_gram_freq: int | None = DEFAULT_MAX_GRAM_FREQ,
    portable_hash: bool = False,
) -> DataFrame:
    """Cross-document verbatim-substring detection: every pair of
    documents sharing a copied span of >= t = window + k - 1 characters
    (default 50), with the span's position in both — the exact-substring
    family of training-data dedup (cf. Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022, which uses a
    monolithic suffix array; winnowing fingerprints give the same
    detection guarantee as banded equi-joins Spark can actually shard).

    Pipeline: :func:`winnow_fingerprints` (zero-shuffle projection) ->
    inverted index on the raw gram -> ordered pairs explode from each
    posting list (the `jaccard_pairs` codegen generator shape) -> matches
    on the same alignment DIAGONAL (pos_a - pos_b constant across one
    contiguous copy) merge gaps-and-islands style: within (id_a, id_b,
    diagonal), consecutive selected grams <= ``window`` apart belong to
    one span (winnowing guarantees that density inside a verbatim copy).

    ``max_gram_freq`` drops grams with more than N selected fingerprint
    OCCURRENCES corpus-wide (intra-document repeats count — the limit
    bounds pair fan-out, which repeats drive just as hard as document
    spread; boilerplate like a license header shared by a million files
    would otherwise explode quadratically). The cap is enforced with a
    window count BEFORE any posting list materializes: a WindowExec
    buffer spills a degenerate gram's partition to disk, whereas a
    single collect_list group's array cannot spill — so the guard holds
    at exactly the input it exists for. Dropped grams can only shorten
    or split reported spans, never fabricate them. Spans are fingerprint
    evidence: a bridged gap can hide an edit of < window chars —
    MOSS-standard behavior; pair it with ``jaccard_pairs`` when
    edit-level certainty matters.

    Returns (id_a, id_b, start_a, start_b, span_len, n_grams) with
    ``span_len >= min_span_len`` (default t). Precision of the contract:
    ``span_len`` is the MATCHED-GRAM extent — a lower bound on the true
    copy length. A copy of exactly t characters is guaranteed >= 1
    shared fingerprint, but its matched extent can be as small as k (one
    gram), so the default threshold targets comfortably-long copies;
    pass ``min_span_len=k`` to catch threshold-length copies at the cost
    of more single-gram noise (the boundary test does exactly this)."""
    if min_span_len is None:
        min_span_len = window + k - 1
    from pyspark.sql import Window as W

    fps = winnow_fingerprints(
        df, id_col, text_col, k, window, portable_hash=portable_hash
    )
    if max_gram_freq is not None:
        fps = (
            fps.withColumn(
                "_n", F.count(F.lit(1)).over(W.partitionBy("gram"))
            )
            .filter(F.col("_n") <= max_gram_freq)
            .drop("_n")
        )
    grouped = (
        fps.groupBy("gram")
        .agg(F.sort_array(F.collect_list(F.struct("id", "pos"))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    matches = (
        grouped.select(F.posexplode("ms").alias("i", "a"), "ms")
        .select(
            "a",
            F.explode(
                F.slice("ms", F.col("i") + F.lit(2), F.size("ms"))
            ).alias("b"),
        )
        # same doc twice in one posting list = intra-doc repetition;
        # that is drop_repeated_paragraphs' job, not pair dedup's
        .filter(F.col("a.id") != F.col("b.id"))
        # pos_b never ships: it is pos_a - diag, reconstructed at the end
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
            F.col("a.pos").alias("pos_a"),
        )
    )
    # Islands per (pair, diagonal) with window functions: one shuffle of
    # the (id_a, id_b, diag, pos_a) match rows, a lag to flag gaps over
    # ``window``, a running sum for island ids, then the span aggregate.
    # Measured ALTERNATIVE (rejected): groupBy + collect_list of the
    # positions per diagonal with vectorized boundary kernels — 7.2 s vs
    # 3.4 s end-to-end at sf0.1; 5M match structs through
    # ObjectHashAggregate's list accumulation lose badly to the
    # codegen'd window machinery, even though the windows sort the same
    # rows. Matches carry no pos_b (it is pos_a - diag, reconstructed at
    # the end) so the shuffle rows stay 4 longs wide.

    w_ord = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    if min_span_len > k:
        # Lone-match pre-filter (round 7): a (pair, diagonal) group with
        # ONE match can only ever form a single-gram island, whose
        # span_len is exactly k — below any min_span_len > k, so it is
        # guaranteed to be dropped by the final filter. At 100× the
        # match table is ~292M rows of which virtually all are such
        # single-shared-gram noise between unrelated documents; counting
        # over the SAME sort the islands windows need (no extra
        # exchange) and filtering first keeps the lag/running-sum
        # windows and the span aggregate off the noise. Groups with >= 2
        # matches pass through untouched (even if their islands later
        # split into singletons — the filter is conservative), so the
        # output is identical by construction. At min_span_len <= k
        # (the boundary-copy configuration) single-gram islands ARE
        # output, so the filter must not apply.
        matches = (
            matches.withColumn(
                "_gn",
                # same partitioning AND ordering as w_ord with an
                # explicit full frame, so this window rides the one
                # exchange+sort the islands windows need instead of
                # introducing a keys-only sort of its own
                F.count(F.lit(1)).over(
                    w_ord.rowsBetween(
                        W.unboundedPreceding, W.unboundedFollowing
                    )
                ),
            )
            .filter(F.col("_gn") >= 2)
            .drop("_gn")
        )
    return (
        matches.withColumn(
            "_new",
            F.when(
                F.col("pos_a") - F.lag("pos_a").over(w_ord) <= window,
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                w_ord.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("id_a", "id_b", "diag", "_island")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(k)).alias("span_len"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("span_len") >= min_span_len)
        .select(
            "id_a",
            "id_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            "span_len",
            "n_grams",
        )
    )


def cut_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`duplicate_spans`' findings: excise each detected span
    from the HIGHER-id document of its pair (``id_a < id_b`` by the
    posting-list ordering, so the lower id keeps the canonical copy —
    Lee et al.'s remove-all-but-one policy). Documents not named in any
    span pass through byte-identical.

    Fully distributed and single-pass per document: the doc's cut
    intervals are collected into one array (a per-doc groupBy of span
    rows — tiny relative to the corpus), overlapping/adjacent intervals
    are merged with an ``aggregate`` fold over the sorted array, and the
    surviving text is rebuilt by concatenating the gaps in a second fold
    with a finish lambda — no UDFs, no explode of the text, offsets all
    interpreted against the ORIGINAL text so multiple cuts cannot shift
    each other."""
    iv = F.struct(
        F.col("start_b").cast("bigint").alias("s"),
        (F.col("start_b") + F.col("span_len")).cast("bigint").alias("e"),
    )
    # localCheckpoint AFTER the per-doc groupBy: the interval table is
    # tiny (<= one row per cut document), while the spans lineage above
    # it is the full winnowing pipeline — embedded un-truncated in the
    # rebuild plan it re-executed ~2.5x slower than standalone (measured
    # 58 s vs 22 s + 1 s at the 10x scale corpus; plan-shape
    # interactions, not extra passes). Eager truncation pins the cost at
    # "detect once + one narrow rebuild pass" — the same move the
    # connected-components and contained-id stages make.
    per_doc = (
        spans.select(F.col("id_b").alias("_cid"), iv.alias("_iv"))
        .groupBy("_cid")
        .agg(F.sort_array(F.collect_list("_iv")).alias("_ivs"))
        .localCheckpoint()
    )
    t = F.col(text_col)
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    merged = F.aggregate(
        F.col("_ivs"),
        empty,
        lambda acc, x: F.when(
            (F.size(acc) == 0) | (x["s"] > F.element_at(acc, -1)["e"]),
            F.concat(acc, F.array(x)),
        ).otherwise(
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], x["e"]
                        ).alias("e"),
                    )
                ),
            )
        ),
    )
    rebuilt = F.aggregate(
        F.col("_merged"),
        F.struct(F.lit("").alias("out"), F.lit(0).cast("bigint").alias("cur")),
        lambda acc, x: F.struct(
            F.concat(
                acc["out"], t.substr(acc["cur"] + 1, x["s"] - acc["cur"])
            ).alias("out"),
            F.greatest(acc["cur"], x["e"]).alias("cur"),
        ),
        lambda acc: F.concat(
            acc["out"],
            t.substr(acc["cur"] + 1, F.length(t).cast("bigint") - acc["cur"]),
        ),
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["_cid"], "left")
        .withColumn("_merged", merged)
        .withColumn(
            text_col,
            F.when(F.col("_cid").isNull(), t).otherwise(rebuilt),
        )
        .drop("_cid", "_ivs", "_merged")
    )


def drop_repeated_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    sep: str = "\n\n",
    split_pattern: str | None = None,
) -> DataFrame:
    """Intra-document paragraph dedup (the C4/RefinedWeb cleanup step:
    boilerplate paragraphs repeat WITHIN a page long before they repeat
    across pages): keep only the first occurrence of each paragraph,
    preserving order, and rejoin.

    Scale shape: a pure projection — split, keep-first filter, rejoin all
    happen inside the row, so the operator is fully narrow: no shuffle, no
    join, no window, regardless of corpus size. The paragraph array is
    materialized as its own column first so the keep-first filter
    references a column attribute (free) rather than re-evaluating the
    split per element. Keep-first via ``array_position`` is O(p^2) per doc
    over p paragraphs — in-row and vectorizable, the right trade against
    any shuffle-based formulation for real document sizes.

    ``sep`` is the LITERAL separator used to rejoin; the split pattern
    defaults to ``re.escape(sep)`` so the two always agree — pass
    ``split_pattern`` explicitly (e.g. ``r"\\n{2,}"``) to split more
    permissively than you rejoin."""
    import re

    out = out_col or text_col
    pattern = re.escape(sep) if split_pattern is None else split_pattern
    c = F.col("_paras")
    kept = F.filter(c, lambda p, i: F.array_position(c, p) == i + F.lit(1))
    # concat_ws over a NULL array yields '' not NULL — guard so NULL docs
    # stay NULL (downstream `text IS NULL` filters must not change meaning)
    return (
        df.withColumn("_paras", F.split(F.col(text_col), pattern))
        .withColumn(
            out,
            F.when(
                F.col(text_col).isNotNull(), F.concat_ws(sep, kept)
            ),
        )
        .drop("_paras")
    )


def drop_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """CROSS-document boilerplate removal (the CCNet/C4 step
    ``drop_repeated_paragraphs`` doesn't cover): a line appearing in at
    least ``min_docs`` DISTINCT documents is site furniture — cookie
    banners, nav menus, license footers — and is cut from every
    document, preserving the order of what remains.

    Matching is on the TRIMMED line (indentation variants of one banner
    are one banner) but the original line text is what's rebuilt; blank
    lines are never counted as boilerplate (they are structure, and at
    corpus scale every blank line co-occurs everywhere).

    Scale shape, honestly stated: this is a shuffle operator — lines
    shuffle once by line-hash for the distinct-document count, the
    boilerplate set anti-joins back on the same key (exchange reuse),
    and surviving lines shuffle once by ``id_col`` to rebuild, then join
    the original frame to restore the other columns. All moving rows
    are (id, pos, hash) triples plus the line text — never whole
    documents on the count side. The count is ``count_distinct(id)``,
    not ``count(*)``: one page repeating its own footer 500 times must
    not promote that footer to corpus boilerplate."""
    import re

    if min_docs < 2:
        raise ValueError(
            f"drop_boilerplate_lines: need min_docs >= 2, got {min_docs}"
        )
    out = out_col or text_col
    pattern = re.escape(sep)
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), pattern)).alias(
            "_pos", "_line"
        ),
    ).withColumn("_h", F.xxhash64(F.trim(F.col("_line"))))
    boiler = (
        lines.filter(F.trim(F.col("_line")) != "")
        .groupBy("_h")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    kept = lines.join(boiler, "_h", "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("_pos", "_line"))
                ),
                lambda s: s["_line"],
            ),
            sep,
        ).alias("_rebuilt")
    )
    joined = df.join(
        rebuilt.select(F.col("_id").alias(id_col), "_rebuilt"),
        id_col,
        "left",
    )
    # NULL text stays NULL; a doc whose every line was boilerplate
    # becomes '' (present-but-empty, let a later empty gate judge it)
    return joined.withColumn(
        out,
        F.when(
            F.col(text_col).isNotNull(),
            F.coalesce(F.col("_rebuilt"), F.lit("")),
        ),
    ).drop("_rebuilt")


def _chunk_layout(bits: int, chunks: int):
    """The ONE definition of the pigeonhole band-key layout shared by
    the batch path (:func:`hamming_near_pairs`) and the store format
    (:func:`fingerprint_bands`): a divergence here would silently
    desynchronize probes from every existing fingerprint band store.
    Returns ``chunk_val(j) -> Column`` after validating the split."""
    width = bits // chunks
    if bits % chunks:
        raise ValueError("bits must divide evenly into chunks")
    if width > 32 or (32 % width and bits > 32):
        raise ValueError(
            "chunk width must fit inside a 32-bit fingerprint word"
        )

    def chunk_val(j: int) -> Column:
        word = (j * width) // 32
        offset = (j * width) % 32
        return F.shiftright(F.col(f"w{word}"), offset) % F.lit(1 << width)

    return chunk_val


def fingerprint_bands(
    fp: DataFrame, bits: int = 64, chunks: int = 4
) -> DataFrame:
    """(id, w0.., chunk_idx, chunk_val): each ``(id, w0..w{n-1})``
    fingerprint exploded into its pigeonhole band keys PLUS its words —
    the storable form of :func:`hamming_near_pairs`' banding, carrying
    the words so a store probe can popcount-verify without a second
    lookup."""
    chunk_val = _chunk_layout(bits, chunks)
    wcols = [c for c in fp.columns if c != "id"]
    return fp.select(
        "id",
        *wcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("chunk_idx"),
                        chunk_val(j).alias("chunk_val"),
                    )
                    for j in range(chunks)
                ]
            )
        ).alias("ch"),
    ).select("id", *wcols, "ch.chunk_idx", "ch.chunk_val")


def hamming_incremental(
    new_fp: DataFrame,
    seen_bands: DataFrame,
    bits: int = 64,
    chunks: int = 4,
    max_hamming: int = 3,
    max_band_freq: int | None = DEFAULT_MAX_BAND_FREQ,
) -> tuple[DataFrame, DataFrame]:
    """Incremental Hamming near-dup: probe a batch of fingerprints
    against an append-only :func:`fingerprint_bands` store — the
    perceptual-hash twin of :func:`near_dup_incremental`, for the image/
    audio/video fingerprints of ``operators.multimodal``.

    Returns ``(hits, new_bands)``: ``hits`` = (new_id, seen_id, hamming)
    for every batch fingerprint within ``max_hamming`` of an already-
    stored one (the band equi-join yields candidates, the carried words
    popcount-verify — no second store lookup); ``new_bands`` = the
    batch's band rows, to append AFTER the batch commits (replay
    reproduces them, keeping ingestion idempotent). The pigeonhole
    guarantee holds when ``max_hamming < chunks``; at larger distances
    a pair can disagree on every chunk and go unseen — same contract
    as hamming_near_pairs.

    ``max_band_freq`` caps hot STORE buckets (same guard and lower-bound
    semantics as hamming_near_pairs): a flat-color/blank asset class
    sharing one 16-bit chunk value across a months-old store would
    otherwise fan every matching batch row out against millions of
    store rows per micro-batch — the quadratic blow-up the batch path
    already guards against. Dropped-bucket pairs can still surface via
    any of their other ``chunks - 1`` bands."""
    batch_bands = fingerprint_bands(new_fp, bits, chunks)
    if max_band_freq is not None:
        # hot buckets via groupBy + broadcast anti-join, NOT the batch
        # path's window pre-count: a window would shuffle AND sort the
        # entire append-only store every micro-batch, while the
        # aggregation is one map-side-combined scan and the hot key set
        # is broadcast-sized by construction (at production store sizes,
        # maintain the hot set WITH the store instead of re-deriving it)
        hot = (
            seen_bands.groupBy("chunk_idx", "chunk_val")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_band_freq)
            .select("chunk_idx", "chunk_val")
        )
        seen_bands = seen_bands.join(
            F.broadcast(hot), ["chunk_idx", "chunk_val"], "left_anti"
        )
    wcols = [
        c
        for c in batch_bands.columns
        if c not in ("id", "chunk_idx", "chunk_val")
    ]
    joined = batch_bands.alias("b").join(
        seen_bands.alias("s"),
        (F.col("b.chunk_idx") == F.col("s.chunk_idx"))
        & (F.col("b.chunk_val") == F.col("s.chunk_val")),
    )
    hamming = sum(
        [
            F.bit_count(
                F.col(f"b.{c}").bitwiseXOR(F.col(f"s.{c}"))
            ).cast("int")
            for c in wcols
        ],
        F.lit(0).cast("int"),
    )
    hits = (
        joined.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("b.id").alias("new_id"),
            F.col("s.id").alias("seen_id"),
            "hamming",
        )
        .distinct()
    )
    return hits, batch_bands


def near_dup_incremental(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup (the fuzzy twin of curate's digest-history
    gate):
    probe a new batch's MinHash band keys against the corpus's
    append-only band store.

    Returns ``(hits, new_bands)``:

    * ``hits`` — (new_id, seen_id) for every new doc sharing >= 1 band
      with an already-ingested doc (near-dup candidates; verify with
      ``jaccard_pairs`` on the hit set if the pipeline wants exact
      similarity before dropping).
    * ``new_bands`` — the batch's (id, band_idx, band_key) rows. Append
      to the store AFTER the batch commits; replaying the batch then
      reproduces the same rows, keeping ingestion idempotent.

    Scale shape: the store only ever appends (bands x rows per doc, tiny
    vs the text) and the probe is one equi-join on (band_idx, band_key).
    The batch side is orders of magnitude smaller: keep the STORE
    bucketed on the band key so the probe shuffles only the batch;
    within-batch near-dups are the same band table self-joined
    (``minhash_candidates``) — run both against one banding pass."""
    batch_bands = minhash_bands(
        new_docs, id_col, text_col, k, bands, shingle_n
    )
    hits = (
        batch_bands.alias("b")
        .join(
            seen_bands.alias("s"),
            (F.col("b.band_idx") == F.col("s.band_idx"))
            & (F.col("b.band_key") == F.col("s.band_key")),
        )
        .select(
            F.col("b.id").alias("new_id"), F.col("s.id").alias("seen_id")
        )
        .distinct()
    )
    return hits, batch_bands
