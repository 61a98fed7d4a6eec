"""Text-analysis expression library (engine extension for LLM-data
pipelines; not in the reference, mandated by BASELINE.json).

Everything is a built-in Column expression (whole-stage codegen, no UDFs),
and every hash is *cross-engine deterministic* — md5-hex prefix -> bigint —
so the DuckDB oracle can reproduce signatures bit-for-bit. Spark's native
``hash``/``xxhash64`` are faster but engine-specific; we expose both, using
the md5 path in oracle-checked queries.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WORD_REGEX = "[a-z0-9]+"

# Modulus for all signature arithmetic: 2^31-1 (Mersenne prime). Keeps every
# intermediate product under 2^62 so the math stays in overflow-free int64
# territory in both Spark and DuckDB.
HASH_P = 2_147_483_647

# Deterministic (a, b) constants for the MinHash family h_i(x) = (a*x+b) mod P
# (classic universal-hash construction; any fixed odd-ish constants work).
MINHASH_COEFFS: tuple[tuple[int, int], ...] = tuple(
    ((i * 2_654_435_761 + 1_013_904_223) % HASH_P or 1, (i * 97_531 + 12_345) % HASH_P)
    for i in range(1, 17)
)

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "ich"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "fr": ("le", "la", "de", "et", "un", "est", "pour", "que", "dans", "ce"),
    "zh": ("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"),
}
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")


def words(col: Column | str) -> Column:
    """Lowercased word tokens ([a-z0-9]+ runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(WORD_REGEX), 0)


def token_count(col: Column | str) -> Column:
    return F.size(words(col))


# GPT-2-style pre-tokenizer, simplified to the lookahead-free subset that
# parses identically in Java regex (Spark) and RE2 (DuckDB): a token is a
# letter run, a digit run, or a punctuation run, each with an optional
# leading space. Close enough to BPE pre-tokenization for token accounting
# (budgeting, packing) without shipping a merges table.
BPE_ISH_REGEX = r" ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(col: Column | str) -> Column:
    """BPE-ish token count — the pre-tokenizer piece of a GPT-2-family
    tokenizer (letter/digit/punct runs with leading-space affinity). Counts
    pre-merge tokens, which upper-bounds and tracks real BPE counts closely
    enough for context-window budgeting."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_REGEX), 0))


def md5_long(col: Column, hex_chars: int = 8) -> Column:
    """First ``hex_chars`` hex digits of md5 as a bigint — the cross-engine
    hash primitive. DuckDB equivalent:
    ``('0x' || substr(md5(x), 1, 8))::BIGINT``."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams, space-joined. Docs shorter than n words yield
    an empty array (note: sequence(1,0) would be the *descending* [1,0] in
    Spark, hence the explicit guard)."""
    toks = words(col)
    m = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), m), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )
    empty = F.array().cast("array<string>")
    return F.array_distinct(F.when(m >= 1, grams).otherwise(empty))


# Combining multiplier for word-hash -> shingle-hash Horner folds. Odd,
# < 2^21, so (value < P) * A stays far below int64 overflow in both engines.
SHINGLE_A = 1_000_003


def word_hashes(col: Column | str) -> Column:
    """Per-word hash values in [0, P): the expensive md5 runs once per WORD.
    Shingle hashes then derive arithmetically (see
    ``shingles_from_word_hashes``) — ~n times fewer md5 calls than hashing
    each n-gram string, and no n-gram strings are ever materialized.
    Measured 4-5x faster on the minhash path at sf0.1."""
    return F.transform(words(col), lambda t: md5_long(t) % F.lit(HASH_P))


def shingles_from_word_hashes(wh: Column | str, n: int = 3) -> Column:
    """Distinct shingle hashes from a word-hash array via a Horner fold of
    ``n`` shifted slices: h = fold(h * A + next mod P), element-wise with
    ``zip_with``.

    Plan-shape note (measured, not theoretical): the input array must be
    referenced only a BOUNDED number of times (n slices here). The obvious
    per-index form — transform(sequence(1, m), i -> f(wh[i], wh[i+1], ...))
    — re-evaluates the whole ``wh`` expression per element access when
    Catalyst's CollapseProject inlines it into the lambda (lambdas are not
    CSE'd), turning O(W) md5 calls into O(W^2) per document: the jaccard
    bench query went 8s -> 95s that way. With slices, the worst case after
    inlining is n evaluations."""
    whc = F.col(wh) if isinstance(wh, str) else wh
    m = F.greatest(F.size(whc) - F.lit(n - 1), F.lit(0))
    acc = F.slice(whc, F.lit(1), m)
    for j in range(1, n):
        acc = F.zip_with(
            acc,
            F.slice(whc, F.lit(1 + j), m),
            lambda x, y: (x * F.lit(SHINGLE_A) + y) % F.lit(HASH_P),
        )
    return F.array_distinct(acc)


def shingle_hashes(col: Column | str, n: int = 3) -> Column:
    """Distinct shingle hash values in [0, P) — input to MinHash/Jaccard.

    Single-expression convenience form (recomputes word md5s per shingle —
    fine for tests/small data). Hot paths use the two-step
    ``word_hashes`` -> ``shingles_from_word_hashes`` projection instead;
    both produce identical values."""
    return shingles_from_word_hashes(word_hashes(col), n)


def minhash_signature(hashes: Column, k: int = 16) -> Column:
    """MinHash signature: for each of ``k`` universal hash functions, the
    min over the document's shingle-hash set. Empty docs -> P (sentinel max)
    so the signature is total. O(k * |shingles|) per row, all codegen'd."""
    sigs = [
        F.coalesce(
            F.array_min(
                F.transform(hashes, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(HASH_P))
            ),
            F.lit(HASH_P).cast("long"),
        )
        for a, b in MINHASH_COEFFS[:k]
    ]
    return F.array(*sigs)


def simhash_token_hashes(col: Column | str, word: int = 0) -> Column:
    """Distinct-token md5 hash array — materialize this as its OWN projected
    column before ``simhash_from_hashes``: the fingerprint references the
    array once per bit, and an inlined EXPRESSION is re-evaluated per
    reference (HOF folds are outside codegen CSE — trap #2), i.e. 32x the
    md5 work per row. A column attribute is free to re-reference, and
    CollapseProject will not inline a multi-referenced expensive
    expression.

    ``word`` selects the 32-bit plane: hex chars ``8*word+1 .. 8*word+8``
    of the md5 digest. Word 0 is the historical ``md5_long`` slice; words
    1-3 give independent 32-bit hashes for 64/96/128-bit fingerprints
    without ever leaving non-negative BIGINT range on either engine (a
    single 64-bit hash value would overflow signed 64-bit and DuckDB's
    ``::BIGINT``)."""
    start = 8 * word + 1
    return F.transform(
        F.array_distinct(words(col)),
        lambda t: F.conv(F.substring(F.md5(t), start, 8), 16, 10).cast(
            "long"
        ),
    )


def simhash_from_hashes(hs: Column | str, bits: int = 32) -> Column:
    """SimHash fingerprint from a token-hash array column: bit b is the
    sign of sum_t (bit_b(h(t)) ? 1 : -1). The oracle replica extracts
    bits with integer `//` on its side; both equal arithmetic shift on
    these non-negative < 2^32 hash values.

    With a column NAME the whole fingerprint is ONE generated SQL string:
    32 py4j-built aggregate folds cost ~1.5 s of driver time per plan
    build (same chatter trap as the LSH buckets / IVF argmax); the parsed
    text builds in ~50 ms with identical per-bit arithmetic."""
    # Bit extraction is shiftright + mask, not division (optimization
    # r13, guide §1.2 step 2): `h / pw` in Spark SQL is DOUBLE division
    # — the old form paid a float divide + cast per token per bit, 64
    # of them per token at bits=64. Token hashes are non-negative (md5
    # hex chars, < 2^32) and below 2^53, so floor(h / 2^b) ==
    # shiftright(h, b) exactly — fingerprints are bit-identical
    # (pinned by the full-corpus equality check in the r13 A/B and the
    # simhash oracle entries). Measured: the 64-fold fingerprint
    # projection dropped 1.09 -> 0.41 s at sf0.1.
    if isinstance(hs, str):
        terms = []
        for b in range(bits):
            pw = 1 << b
            fold = (
                f"aggregate(`{hs}`, CAST(0 AS BIGINT), (s, h) -> "
                f"s + IF((shiftright(h, {b}) & 1) = 1, 1, -1))"
            )
            terms.append(f"IF({fold} > 0, {pw}, 0)")
        return F.expr("CAST(" + " + ".join(terms) + " AS BIGINT)")
    hsc = hs

    def _bit_merge(b: int):
        def merge(s: Column, h: Column) -> Column:
            bit = F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1
            return s + F.when(bit, F.lit(1)).otherwise(F.lit(-1))

        return merge

    acc = F.lit(0).cast("long")
    for b in range(bits):
        pw = 1 << b
        bit_sum = F.aggregate(hsc, F.lit(0).cast("long"), _bit_merge(b))
        acc = acc + F.when(bit_sum > 0, F.lit(pw)).otherwise(F.lit(0))
    return acc


def simhash(col: Column | str, bits: int = 32) -> Column:
    """Single-expression SimHash convenience form — re-evaluates the token
    md5 array per bit when used directly (fine for tests/small data). Hot
    paths project ``simhash_token_hashes`` first and fold with
    ``simhash_from_hashes``; both produce identical values."""
    return simhash_from_hashes(simhash_token_hashes(col), bits)


def _stopword_hits(toks: Column, lang: str) -> Column:
    """Count of ``toks`` entries in ``lang``'s stopword list. The
    membership lambda is parsed from SQL text in one call: a Python
    lambda over ``Column.isin`` costs a driver round trip per literal,
    and the gate stack builds six of these per call."""
    wl = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return F.size(
        F.call_function("filter", toks, F.expr(f"t -> t IN ({wl})"))
    )


def stopword_hits(col: Column | str, lang: str) -> Column:
    return _stopword_hits(words(col), lang)


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword hits, fixed priority order
    on ties, 'und' (undetermined) when no list scores > 0.

    The argmax is a SQL lambda over the array of the five counts, so each
    count appears once in the expression tree. A ``when`` chain repeats
    every count in every branch; the copies never share evaluation (each
    carries its own lambda variable), and every later plan analysis walks
    all of them."""
    toks = words(col)
    hits = F.array(*[_stopword_hits(toks, lang) for lang in LANG_PRIORITY])
    langs = ", ".join(f"'{lang}'" for lang in LANG_PRIORITY)
    argmax = F.expr(
        "h -> CASE WHEN array_max(h) > 0 THEN element_at("
        f"array({langs}), CAST(array_position(h, array_max(h)) AS INT)) "
        "ELSE 'und' END"
    )
    return F.element_at(F.call_function("transform", F.array(hits), argmax), 1)


def strip_html(col: Column | str) -> Column:
    """Regex HTML-to-text for crawl ingestion: drop <script>/<style>
    blocks and comments wholesale (their CONTENT is never prose), turn
    block-level tags into newlines (preserving the line/paragraph
    structure the line-wise cleaners key on), strip remaining tags,
    decode the common entities, collapse whitespace within lines.
    NULL in, NULL out.

    Deliberately a cheap regex pass, not a DOM parse: at crawl scale
    this runs inside the scan as pure codegen columns, and the
    downstream quality/LM gates are what actually reject residual
    markup soup. ``(?s)`` makes ``.`` span newlines so multi-line
    blocks die; tag match is non-greedy and bounded to ``[^>]`` so an
    unclosed ``<`` cannot eat the document."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(
        c, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " "
    )
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    # BLOCK-level tags become newlines, not spaces: the paragraph/line
    # structure is what the downstream line-wise operators
    # (clean_lines, drop_boilerplate_lines, drop_repeated_paragraphs)
    # key on — flattening it would fuse a cookie banner into the
    # article text and make line furniture undetectable
    out = F.regexp_replace(
        out,
        r"(?is)</?(p|div|br|li|ul|ol|h[1-6]|tr|table|section|article"
        r"|header|footer|blockquote|pre|dd|dt)\b[^>]*>",
        "\n",
    )
    out = F.regexp_replace(out, r"(?s)<[^>]*>", " ")
    # &amp; decodes LAST: earlier would turn "&amp;lt;" into "&lt;" and
    # then into "<" — double-decoding text that showed an escaped entity
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
    ):
        out = F.replace(out, F.lit(ent), F.lit(rep))
    # collapse runs: spaces/tabs within a line, blank runs to ONE
    # newline; trim line edges and the document ends
    out = F.regexp_replace(out, r"[^\S\n]+", " ")
    out = F.regexp_replace(out, r" ?\n[ \n]*", "\n")
    return F.regexp_replace(F.trim(out), r"^\n+|\n+$", "")


def _line_keep_predicate(
    min_chars: int, max_caps_ratio: float, drop_numeric: bool
):
    def keep(line: Column) -> Column:
        t = F.trim(line)
        letters = F.regexp_count(t, F.lit(r"\p{L}"))
        caps = F.regexp_count(t, F.lit(r"\p{Lu}"))
        too_short = F.length(t) < min_chars
        shouty = (letters >= 4) & (
            caps / F.greatest(letters, F.lit(1)).cast("double")
            > max_caps_ratio
        )
        numeric = (
            F.lit(drop_numeric)
            & t.rlike(r"^[\d\s.,:;%/()+-]+$")
        )
        return ~(too_short | shouty | numeric)

    return keep


def clean_lines(
    col: Column | str,
    sep: str = "\n",
    min_chars: int = 3,
    max_caps_ratio: float = 0.8,
    drop_numeric: bool = True,
) -> Column:
    """Line-wise cleanup (the RefinedWeb step between HTML stripping and
    document-level gates): drop lines that are too short (button labels,
    stray fragments), mostly-uppercase (SHOUTING headers, menu items —
    only when the line has >= 4 letters, so acronym-bearing short prose
    survives), or numeric-only (counters, timestamps), and rejoin the
    rest in order. Pure in-row projection — no shuffle at any corpus
    size. NULL in, NULL out. Pair with :func:`line_kept_ratio` to drop
    documents that lost too much (a mostly-furniture page is not made
    good by deleting its furniture)."""
    import re

    c = F.col(col) if isinstance(col, str) else col
    kept = F.filter(
        F.split(c, re.escape(sep)),
        _line_keep_predicate(min_chars, max_caps_ratio, drop_numeric),
    )
    return F.when(c.isNotNull(), F.array_join(kept, sep))


def line_kept_ratio(
    col: Column | str,
    sep: str = "\n",
    min_chars: int = 3,
    max_caps_ratio: float = 0.8,
    drop_numeric: bool = True,
) -> Column:
    """Fraction of a document's lines that :func:`clean_lines` keeps
    (same parameters = same verdicts). The document-level gate on line
    cleanup: RefinedWeb drops pages keeping under ~2/3. 1.0 for
    line-free or NULL-safe degenerate inputs is deliberate — the signal
    is 'how much was furniture', and no lines means no furniture."""
    import re

    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, re.escape(sep))
    kept = F.filter(
        lines, _line_keep_predicate(min_chars, max_caps_ratio, drop_numeric)
    )
    return F.when(
        c.isNotNull(),
        F.size(kept) / F.greatest(F.size(lines), F.lit(1)).cast("double"),
    )


def sentence_split(col: Column | str) -> Column:
    """Sentence segmentation as a lookbehind split — punctuation stays
    with its sentence (unlike Spark's built-in ``sentences``, which
    word-tokenizes and discards it, useless for rebuilding text).
    Heuristic, not a parser: abbreviations ("Dr. Smith") over-split;
    fine for chunk-boundary selection, wrong for linguistics."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, r"(?<=[.!?])\s+")


def sentence_chunks(
    col: Column | str, max_tokens: int = 128, sep: str = " "
) -> Column:
    """Greedy sentence-boundary chunking: pack consecutive sentences
    into chunks of at most ``max_tokens`` whitespace tokens, never
    splitting inside a sentence (a single over-long sentence becomes its
    own over-budget chunk — truncating mid-sentence is the caller's
    policy call, not silently this function's). The boundary-respecting
    counterpart to the fixed-window token chunker
    (plans/text_queries.doc_chunk_spans): fixed windows for training
    batches, sentence chunks for retrieval corpora where a chunk must
    read as text.

    Pure in-row ``aggregate`` fold over :func:`sentence_split` — state
    is (finished chunks, current chunk, current token count); no
    shuffle, no UDF. NULL in, NULL out; whitespace-only text yields an
    empty array."""
    c = F.col(col) if isinstance(col, str) else col
    sents = F.filter(
        sentence_split(c), lambda s: F.trim(s) != ""
    )
    ntok = lambda s: F.size(F.split(F.trim(s), r"\s+"))
    zero = F.struct(
        F.lit([]).cast("array<string>").alias("done"),
        F.lit("").alias("cur"),
        F.lit(0).alias("n"),
    )
    step = lambda acc, s: F.when(
        # fits in the current chunk (or chunk is empty: a lone over-long
        # sentence must still start a chunk)
        (acc["n"] + ntok(s) <= max_tokens) | (acc["n"] == 0),
        F.struct(
            acc["done"].alias("done"),
            F.when(acc["n"] == 0, F.trim(s))
            .otherwise(F.concat(acc["cur"], F.lit(sep), F.trim(s)))
            .alias("cur"),
            (acc["n"] + ntok(s)).alias("n"),
        ),
    ).otherwise(
        F.struct(
            F.concat(acc["done"], F.array(acc["cur"])).alias("done"),
            F.trim(s).alias("cur"),
            ntok(s).alias("n"),
        )
    )
    fin = lambda acc: F.when(
        acc["n"] > 0, F.concat(acc["done"], F.array(acc["cur"]))
    ).otherwise(acc["done"])
    return F.when(c.isNotNull(), F.aggregate(sents, zero, step, fin))


SCRIPTS = (
    "Latin", "Cyrillic", "Greek", "Arabic", "Hebrew",
    "Han", "Hiragana", "Katakana", "Hangul", "Devanagari", "Thai",
)


def script_profile(col: Column | str) -> Column:
    """Per-document Unicode-script histogram: a map from script name to
    its fraction of the document's LETTER characters (digits/punctuation/
    whitespace excluded — they are script-neutral and would dilute every
    profile toward 'mixed'). Zero-letter documents map every script to
    0.0 rather than NULL-ing out.

    Complements :func:`lang_id` (stopword-list ID, Latin-alphabet
    languages): script fractions are the coarse multilingual signal that
    needs no word lists — routing CJK/Cyrillic/Arabic text to per-script
    pipelines, or flagging mixed-script spam (Latin text salted with
    Cyrillic homoglyphs scores ~50/50 here and ~100% Latin nowhere).
    Pure ``regexp_count`` columns over Java's ``\\p{IsScript}`` classes —
    one scan, codegen end-to-end, no UDFs."""
    c = F.col(col) if isinstance(col, str) else col
    letters = F.regexp_count(c, F.lit(r"\p{L}"))
    safe = F.greatest(letters, F.lit(1)).cast("double")
    entries = []
    for s in SCRIPTS:
        frac = F.regexp_count(c, F.lit(rf"\p{{Is{s}}}")) / safe
        entries += [F.lit(s.lower()), F.round(frac, 6)]
    return F.create_map(*entries)


def dominant_script(col: Column | str, min_fraction: float = 0.5) -> Column:
    """The script holding at least ``min_fraction`` of the document's
    letters, else 'mixed'; 'none' for letter-free text. Built on
    :func:`script_profile`'s map via one map_filter/argmax fold."""
    prof = script_profile(col)
    c = F.col(col) if isinstance(col, str) else col
    best = F.array_max(F.map_values(prof))
    # smallest name among the argmax entries: deterministic on exact ties
    name = F.array_min(
        F.map_keys(F.map_filter(prof, lambda k, v: v == best))
    )
    has_letters = F.regexp_count(c, F.lit(r"\p{L}")) > 0
    # NULL in, NULL out (the module convention): without the explicit
    # branch, NULL text slides past ~NULL into the 'mixed' arm
    return F.when(c.isNull(), F.lit(None).cast("string")).otherwise(
        F.when(~has_letters, F.lit("none")).otherwise(
            F.when(
                best >= F.lit(min_fraction), name
            ).otherwise(F.lit("mixed"))
        )
    )


def quality_score(col: Column | str) -> Column:
    """Deterministic [0,1] quality heuristic: length saturation, lexical
    diversity, stopword plausibility."""
    c = F.col(col) if isinstance(col, str) else col
    toks = words(c)
    n = F.size(toks)
    safe_n = F.greatest(n, F.lit(1)).cast("double")
    len_score = F.least(n.cast("double") / F.lit(100.0), F.lit(1.0))
    diversity = F.size(F.array_distinct(toks)).cast("double") / safe_n
    stop_ratio = _stopword_hits(toks, "en").cast("double") / safe_n
    stop_score = F.least(stop_ratio * F.lit(4.0), F.lit(1.0))
    return (
        F.lit(0.4) * len_score + F.lit(0.3) * diversity + F.lit(0.3) * stop_score
    )


def word_bigrams(col: Column | str) -> Column:
    """Adjacent word 2-grams (order-sensitive, duplicates KEPT — this is a
    frequency signal, unlike ``word_shingles``). Two shifted slices
    zip_with-joined, so the token array is referenced a bounded number of
    times (see the plan-shape note on ``shingles_from_word_hashes``)."""
    toks = words(col)
    m = F.greatest(F.size(toks) - F.lit(1), F.lit(0))
    return F.zip_with(
        F.slice(toks, F.lit(1), m),
        F.slice(toks, F.lit(2), m),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def repeated_token_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are repeats of an earlier token:
    (n - n_distinct) / n. One of the Gopher-style repetition filters."""
    toks = words(col)
    n = F.size(toks)
    return (n - F.size(F.array_distinct(toks))).cast("double") / F.greatest(
        n, F.lit(1)
    ).cast("double")


def top_bigram_fraction(col: Column | str) -> Column:
    """Occurrences of the most frequent word bigram / total bigrams — the
    classic repeated-boilerplate signal (Gopher/C4 family).

    Computed as the longest equal run in the SORTED bigram array (max run ==
    max multiplicity), which keeps the whole metric a narrow per-row fold:
    no explode, no shuffle. The count-per-distinct formulation —
    ``transform(array_distinct(bg), d -> size(filter(bg, …)))`` — would
    re-evaluate the bigram construction inside a lambda per distinct value
    (lambdas are never CSE'd), going O(distinct x n) regexp scans per row."""
    bg = word_bigrams(col)
    m = F.size(bg)
    bs = F.array_sort(bg)
    m1 = F.greatest(m - F.lit(1), F.lit(0))
    eq = F.zip_with(
        F.slice(bs, F.lit(1), m1),
        F.slice(bs, F.lit(2), m1),
        lambda a, b: F.when(a == b, F.lit(1)).otherwise(F.lit(0)),
    )

    def merge(acc: Column, e: Column) -> Column:
        ncur = F.when(e == 1, acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            ncur.alias("cur"), F.greatest(acc["best"], ncur).alias("best")
        )

    run = F.aggregate(
        eq, F.struct(F.lit(1).alias("cur"), F.lit(1).alias("best")), merge
    )
    topc = F.when(m == 0, F.lit(0)).otherwise(run["best"])
    return topc.cast("double") / F.greatest(m, F.lit(1)).cast("double")


# PII patterns (POSIX-safe subset that parses identically in Spark/Java and
# DuckDB/RE2): emails, dotted-quad IPv4s, and long digit runs (phone/account
# numbers). Order matters — emails first so their digits aren't eaten by the
# digit-run rule.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    (r"[0-9]{9,}", "<NUM>"),
)


def pii_count(col: Column | str) -> Column:
    """Number of PII spans the scrubber would redact (emails + IPv4s +
    long digit runs), counted on the progressively-scrubbed text so a span
    is never double-counted across rules."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.lit(0)
    for pat, repl in PII_PATTERNS:
        total = total + F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        c = F.regexp_replace(c, pat, repl)
    return total


def pii_redact(col: Column | str) -> Column:
    """Scrubbed text: each PII span replaced by its placeholder token.
    Deterministic, rerun-stable — the standard pretraining scrub pass."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def fingerprint(col: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    token hashes, mod P (multiplier 131)."""
    hs = F.transform(words(col), lambda t: md5_long(t) % HASH_P)
    return F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * F.lit(131) + h) % F.lit(HASH_P),
    )


# Compact hand-written valence lexicon (own wording, AFINN-style scale
# -5..5). Deliberately small: the POINT is the evaluation shape — token
# lookup + mean — which is identical at any lexicon size; a production
# lexicon loads as a DataFrame and takes the broadcast-join path below.
SENTIMENT_LEXICON: dict[str, int] = {
    "good": 3, "great": 4, "excellent": 5, "amazing": 4, "love": 4,
    "loved": 4, "wonderful": 4, "best": 4, "happy": 3, "nice": 2,
    "helpful": 2, "fast": 1, "works": 1, "perfect": 5, "awesome": 4,
    "fantastic": 4, "clean": 1, "correct": 2, "reliable": 2, "clear": 1,
    "bad": -3, "terrible": -4, "awful": -4, "horrible": -4, "hate": -4,
    "hated": -4, "worst": -4, "sad": -2, "broken": -2, "slow": -1,
    "fails": -2, "failed": -2, "wrong": -2, "buggy": -3, "useless": -3,
    "poor": -2, "confusing": -2, "crash": -3, "crashes": -3, "dirty": -1,
}


def sentiment_score(
    col: Column | str, lexicon: dict[str, int] | None = None
) -> Column:
    """Mean lexicon valence of matched tokens, NULL when none match
    (distinct from a genuinely neutral 0.0 balance).

    Narrow path for literal lexicons: the word list rides in one
    ``create_map`` expression, so scoring is a pure projection — no
    explode, no join, no shuffle at any corpus size. For a lexicon too
    big for an expression (100k+ entries), the same semantics are
    tokens -> explode -> broadcast-join(lexicon) -> avg, which shuffles
    one row per doc for the re-aggregation; this literal form is the
    default because real valence lexicons are small."""
    lex = SENTIMENT_LEXICON if lexicon is None else lexicon
    m = F.create_map(
        *[F.lit(x) for kv in sorted(lex.items()) for x in kv]
    )
    vals = F.filter(
        F.transform(words(col), lambda t: F.element_at(m, t)),
        lambda v: v.isNotNull(),
    )
    return F.when(
        F.size(vals) > 0,
        F.aggregate(
            vals, F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
        / F.size(vals),
    )


# ---------------------------------------------------------------------------
# Unicode normalization (the one text-cleaning step with no builtin
# equivalent — Spark has no NFC/NFKC expression, so this is a documented
# Arrow escape hatch, the multimodal.decode_metadata pattern: batched
# mapInPandas, never a row-at-a-time UDF.)
# ---------------------------------------------------------------------------

# mojibake markers: UTF-8 bytes mis-decoded as cp1252/latin-1 surface as
# these lead characters followed by continuation debris
_MOJIBAKE_MARKERS = ("Ã", "â€", "Â", "ï¿")


def _mojibake_score(s: str) -> int:
    return sum(s.count(m) for m in _MOJIBAKE_MARKERS)


def _repair_mojibake(s: str) -> str:
    """Undo one round of UTF-8-read-as-cp1252 (falling back to latin-1),
    accepting the repair only when BOTH the strict round-trip succeeds
    and the marker count strictly drops. Legitimate text containing the
    marker characters (Portuguese 'NÃO') fails the strict round-trip —
    0xC3 followed by an ASCII byte is not valid UTF-8 — and passes
    through untouched."""
    for enc in ("cp1252", "latin-1"):
        try:
            repaired = s.encode(enc).decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            continue
        if _mojibake_score(repaired) < _mojibake_score(s):
            return repaired
    return s


def normalize_unicode(
    df,
    text_col: str = "text",
    out_col: str | None = None,
    form: str = "NFKC",
    fix_mojibake: bool = True,
):
    """Unicode-normalize a text column (default NFKC: compatibility fold —
    ligatures ﬁ->fi, fullwidth Ａ->A, composed accents canonicalized),
    optionally repairing one round of mojibake first. Every other column
    passes through untouched; NULL stays NULL.

    Why it matters upstream of everything else in this package: the
    md5/xxhash digests, shingles and winnowing grams are all
    byte-sensitive, so 'café' (NFC) and 'café' (NFD) — or its mojibake
    corpse 'cafÃ©' — dedupe as different documents unless normalized
    first. Run this as the first projection of a cleaning pipeline, at
    the batch grain mapInPandas already processes."""
    import unicodedata

    from pyspark.sql.types import StringType, StructField, StructType

    out = out_col or text_col
    fields = list(df.schema.fields)
    if out not in df.columns:
        fields = fields + [StructField(out, StringType())]
    else:
        fields = [
            StructField(f.name, StringType()) if f.name == out else f
            for f in fields
        ]
    schema = StructType(fields)

    def norm(batches):
        for pdf in batches:
            def one(s):
                if s is None:
                    return None
                if fix_mojibake and _mojibake_score(s):
                    s = _repair_mojibake(s)
                return unicodedata.normalize(form, s)

            pdf = pdf.copy()
            pdf[out] = [one(s) for s in pdf[text_col]]
            yield pdf

    return df.mapInPandas(norm, schema=schema)
