"""Exact merges-table BPE (functions/bpe.py, VERDICT r7 item 5).

Three implementations must agree token-for-token: the pure-Python
reference encoder (rank-order Sennrich sweep), the Spark expression
fold, and the generated DuckDB SQL — plus the trainer must be
deterministic (the whole oracle story rests on it).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from s3_access_logs_spark.functions import bpe as B

FIXTURES = [
    "the quick brown fox jumps over the lazy dog",
    "lll lllll llllllll",  # overlap: leftmost non-overlapping merges
    "training tokenizers, 1234 numbers! and punct...",
    "",
    None,
    "unseen zebra xylophone qqq zzz",
    "with sentinels ⟨stripped⟩ ¦ properly ⟩⟨",
    "  leading and   multiple   spaces  ",
    "mixed 12ab34 runs-with-dashes and_underscores",
    "the the the the the the",  # heavy repetition
]


@pytest.fixture(scope="module")
def merges():
    return list(B.default_merges())


class TestReferenceEncoder:
    def test_trainer_is_deterministic(self, merges):
        again = B.train_bpe_merges(B.SEED_CORPUS)
        assert list(merges) == list(again)
        assert len(merges) > 50  # the seed corpus supports a real table
        # rank ordering sanity: a merged symbol can only be used by a
        # LATER merge (the exactness argument for rank-order encoding)
        seen = set()
        for a, b in merges:
            for part in (a, b):
                if len(part) > 1:
                    assert part in seen, (a, b)
            seen.add(a + b)

    def test_encode_compresses_seed_text(self, merges):
        text = B.SEED_CORPUS[0]
        toks = B.bpe_encode_py(text, merges)
        assert "".join(toks) == "".join(B.pretokens_py(text))
        n_chars = sum(len(t) for t in B.pretokens_py(text))
        assert len(toks) < 0.6 * n_chars  # real merges fired
        assert any(len(t) >= 3 for t in toks)

    def test_overlap_is_leftmost_nonoverlapping(self):
        # single merge (l, l): "llll" -> ll ll; "lllll" -> ll ll l
        ms = [("l", "l")]
        assert B.bpe_encode_py("llll", ms) == ["ll", "ll"]
        assert B.bpe_encode_py("lllll", ms) == ["ll", "ll", "l"]


class TestEngineParity:
    def test_spark_matches_reference(self, spark, merges):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(FIXTURES)], "i int, text string"
        )
        rows = df.select(
            "i",
            B.bpe_tokens_exact("text").alias("toks"),
            B.bpe_token_count_exact("text").alias("n"),
        ).orderBy("i").collect()
        for r, text in zip(rows, FIXTURES):
            if text is None:
                assert r["n"] is None and r["toks"] is None
                continue
            ref = B.bpe_encode_py(text, merges)
            assert list(r["toks"]) == ref, text
            assert r["n"] == len(ref), text

    def test_duckdb_twin_matches_reference(self, merges):
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE t(i INT, text VARCHAR)")
            for i, t in enumerate(FIXTURES):
                con.execute("INSERT INTO t VALUES (?, ?)", [i, t])
            rows = con.execute(
                f"SELECT i, {B.bpe_tokens_sql('text')} AS toks, "
                f"{B.bpe_count_sql('text')} AS n FROM t ORDER BY i"
            ).fetchall()
        finally:
            con.close()
        for (i, toks, n), text in zip(rows, FIXTURES):
            if text is None:
                assert toks is None and n is None
                continue
            ref = B.bpe_encode_py(text, merges)
            # DuckDB's regexp_extract_all on '' gives [] like Spark
            assert (toks or []) == ref, text
            assert n == len(ref), text

    def test_encode_is_a_pure_projection(self, spark):
        df = spark.createDataFrame([(1, "hello world")], "i int, text string")
        q = df.select(B.bpe_token_count_exact("text").alias("n"))
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan


class TestRandomizedParity:
    def test_random_corpus_three_way_parity(self, spark, merges):
        """Seeded random strings (ASCII letters/digits/punct/spaces,
        lengths 0-200) through all three implementations in ONE batch
        per engine — the property-test complement to the hand-picked
        fixtures. (Since round 9 the Python twin is exact on ALL text —
        vendored \\p{L}/\\p{N} classes; the exotic regime is pinned by
        test_exotic_unicode_pretok_parity_all_paths.)"""
        import random
        import string

        rng = random.Random(80801)
        alphabet = string.ascii_letters + string.digits + "  .,!?-_'\"():;"
        texts = [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(201)))
            for _ in range(60)
        ]
        refs = [B.bpe_encode_py(t, merges) for t in texts]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        rows = df.select(
            "i", B.bpe_tokens_exact("text").alias("toks")
        ).orderBy("i").collect()
        for r, ref in zip(rows, refs):
            assert list(r["toks"]) == ref
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE t(i INT, text VARCHAR)")
            for i, t in enumerate(texts):
                con.execute("INSERT INTO t VALUES (?, ?)", [i, t])
            drows = con.execute(
                f"SELECT i, {B.bpe_tokens_sql('text')} FROM t ORDER BY i"
            ).fetchall()
        finally:
            con.close()
        for (_, toks), ref in zip(drows, refs):
            assert (toks or []) == ref


class TestPackingBpeVariant:
    def test_bpe_packing_matches_duckdb(self, spark):
        """sequence_packing_bins(tokenizer='bpe_exact') against a DuckDB
        replay built from the same merges table — oracle-grade pin for
        the packing option without a driver-surface slot."""
        from s3_access_logs_spark.plans.text_queries import (
            sequence_packing_bins,
        )

        sf = "/root/testdata/sf0.001"
        sdf = sequence_packing_bins(spark, sf, tokenizer="bpe_exact")
        # fill is already rounded 6dp on both sides (Spark F.round /
        # DuckDB ROUND, same HALF_UP mode — Python's round() would
        # banker's-round .5 boundaries differently)
        srows = sorted(
            (r["source"], r["bin"], r["n_docs"], r["bin_tokens"], r["fill"])
            for r in sdf.collect()
        )
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')"
            )
            drows = sorted(
                tuple(r)
                for r in con.execute(f"""
                    WITH t AS (
                      SELECT doc_id, source,
                             {B.bpe_count_sql('text')} AS n_tokens
                      FROM documents
                    ),
                    packed AS (
                      SELECT source, n_tokens,
                             ((SUM(n_tokens) OVER (
                                 PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
                              // 256)::BIGINT AS bin
                      FROM t
                    )
                    SELECT source, bin, COUNT(*) AS n_docs,
                           SUM(n_tokens)::BIGINT AS bin_tokens,
                           ROUND(SUM(n_tokens)::DOUBLE / 256.0, 6) AS fill
                    FROM packed GROUP BY source, bin
                """).fetchall()
            )
        finally:
            con.close()
        assert srows == drows

    def test_unknown_tokenizer_rejected(self, spark):
        from s3_access_logs_spark.plans.text_queries import (
            sequence_packing_bins,
        )

        with pytest.raises(ValueError, match="unknown tokenizer"):
            sequence_packing_bins(
                spark, "/root/testdata/sf0.001", tokenizer="nope"
            )


class TestProductionVocab:
    """Round 9 (VERDICT r8 item 1): exact BPE at production merge
    counts. The replace fold keeps the oracle path below
    ARROW_SWITCH_MERGES; the Arrow-batched encoder — the SAME
    rank-order sweep, memoized per unique pre-token — carries 50k-merge
    tables, and both must stay bit-identical to ``bpe_encode_py``."""

    def _rand_texts(self, n, seed, alphabet=None):
        import random
        import string

        rng = random.Random(seed)
        alphabet = alphabet or (string.ascii_lowercase + "  ")
        return [
            "".join(rng.choice(alphabet) for _ in range(rng.randrange(150)))
            for _ in range(n)
        ]

    def test_arrow_matches_fold_and_reference_demo_vocab(self, spark):
        merges = list(B.default_merges())
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(FIXTURES)], "i int, text string"
        )
        rows = df.select(
            "i",
            B.bpe_tokens("text", impl="fold").alias("f"),
            B.bpe_tokens("text", impl="arrow").alias("a"),
            B.bpe_token_count("text", impl="arrow").alias("na"),
        ).orderBy("i").collect()
        for r, text in zip(rows, FIXTURES):
            if text is None:
                assert r["f"] is None and r["a"] is None and r["na"] is None
                continue
            ref = B.bpe_encode_py(text, merges)
            assert list(r["f"]) == ref and list(r["a"]) == ref, text
            assert r["na"] == len(ref)

    def test_arrow_matches_reference_at_50k_merges(self, spark):
        """Forced-impl equality at a production-scale table: a 50k-merge
        structurally-valid vocabulary through the Arrow path vs the
        unpruned pure-Python reference, token for token. (Texts are kept
        short because ``bpe_encode_py`` is O(R·len) per pre-token — the
        REFERENCE is the slow part at 50k merges, which is the point of
        the Arrow path.)"""
        big = B.synthetic_merges(50_000)
        texts = self._rand_texts(4, seed=909) + [
            "", "the quick brown fox", "aa bb aabb ab ba"
        ]
        refs = [B.bpe_encode_py(t, big) for t in texts]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        rows = df.select(
            "i",
            B.bpe_tokens("text", big).alias("toks"),  # auto -> arrow
            B.bpe_token_count("text", big).alias("n"),
        ).orderBy("i").collect()
        for r, ref in zip(rows, refs):
            assert list(r["toks"]) == ref
            assert r["n"] == len(ref)

    def test_fast_py_twin_equals_reference(self):
        """The pruned/memoized driver-side encoder (the Arrow workers'
        core) is bit-identical to the unpruned sweep on a randomized
        corpus at a mid-size table."""
        ms = B.synthetic_merges(5_000)
        for t in self._rand_texts(40, seed=112, alphabet=None):
            assert B.bpe_encode_fast_py(t, ms) == B.bpe_encode_py(t, ms)

    def test_auto_switch_plan_shapes(self, spark):
        df = spark.createDataFrame([(1, "hello world")], "i int, text string")
        small = df.select(B.bpe_token_count("text").alias("n"))
        plan_small = small._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan_small  # demo vocab: codegen fold
        big = df.select(
            B.bpe_token_count(
                "text", B.synthetic_merges(B.ARROW_SWITCH_MERGES + 1)
            ).alias("n")
        )
        plan_big = big._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in plan_big  # above the cliff: arrow
        with pytest.raises(ValueError, match="unknown impl"):
            B.bpe_tokens("text", impl="nope")

    def test_synthetic_merges_hold_the_rank_invariant(self):
        ms = B.synthetic_merges(2_000)
        assert len(ms) == 2_000 and len(set(ms)) == 2_000
        seen = set()
        for a, b in ms:
            for part in (a, b):
                if len(part) > 1:
                    assert part in seen, (a, b)
            seen.add(a + b)

    def test_sentinel_symbol_rejected_in_fold_ok_in_arrow(self, spark):
        bad = [("⟨", "a")]
        with pytest.raises(ValueError, match="sentinel"):
            B.bpe_tokens_exact("text", bad)
        with pytest.raises(ValueError, match="sentinel"):
            B.bpe_tokens_sql("text", bad)
        # the arrow path has no sentinels — but sentinel chars are
        # STRIPPED from input text (the module contract), so such a
        # merge simply never fires
        df = spark.createDataFrame([(1, "a⟨b")], "i int, text string")
        r = df.select(B.bpe_tokens_arrow("text", bad).alias("t")).first()
        assert list(r["t"]) == ["a", "b"]  # stripped input: merge no-ops

    def test_exotic_unicode_pretok_parity_all_paths(self, spark):
        """Review r9: the arrow path pre-tokenizes in PYTHON, so the
        Python twin must match the engine's \\p{L}/\\p{N} exactly or
        fold and arrow silently disagree past the auto-switch. The old
        \\w-approximation split 'x²' differently (² is No: engine
        number-run, \\w letter-run). Now the twin uses vendored
        category-range classes: fold == arrow == python == DuckDB on
        No/Nl numerics, combining marks, NBSP, and vertical-tab-free
        exotic whitespace."""
        import duckdb

        merges = list(B.default_merges())
        texts = [
            "x² + y³ = z¹⁰",        # No superscripts: number runs
            "Ⅻ chapters, ① start",  # Nl Roman numeral, No circled digit
            "e\u0301clair cafe\u0301",  # combining acute: mark -> punct
            "a\u00a0b",           # NBSP: not engine-\s, punct class
            "ひらがな 123 ＡＢＣ",    # fullwidth letters are L
        ]
        refs = [B.bpe_encode_py(t, merges) for t in texts]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        rows = df.select(
            "i",
            B.bpe_tokens("text", impl="fold").alias("f"),
            B.bpe_tokens("text", impl="arrow").alias("a"),
        ).orderBy("i").collect()
        for r, ref, t in zip(rows, refs, texts):
            assert list(r["f"]) == ref, ("fold", t, list(r["f"]), ref)
            assert list(r["a"]) == ref, ("arrow", t, list(r["a"]), ref)
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE t(i INT, text VARCHAR)")
            for i, t in enumerate(texts):
                con.execute("INSERT INTO t VALUES (?, ?)", [i, t])
            drows = con.execute(
                f"SELECT i, {B.bpe_tokens_sql('text')} FROM t ORDER BY i"
            ).fetchall()
        finally:
            con.close()
        for (_, toks), ref, t in zip(drows, refs, texts):
            assert (toks or []) == ref, ("duckdb", t)

    def test_unicode_version_skew_codepoints_parity(self, spark):
        """ADVICE r9: the first vendored tables came from CPython 3.11
        (Unicode 14.0) while the engine fold runs Java 17 regex
        (Unicode 13.0) — on letters ADDED in Unicode 14 (U+0870,
        U+10780, U+1E290) and Unicode-14 digits (U+16AC0) the Python
        twin said "letter/number" where the JVM said "other", so fold
        and arrow silently pre-tokenized such text differently across
        the ARROW_SWITCH_MERGES boundary. The tables are now generated
        by PROBING the JVM itself; this test drives exactly those
        version-skew codepoints through the REAL Spark regex vs the
        Python twin, so any future JVM/UCD drift fails loud here
        instead of re-opening the silent divergence."""
        import re as _re

        from pyspark.sql import functions as F

        from s3_access_logs_spark.functions.text import BPE_ISH_REGEX
        from s3_access_logs_spark.functions.unicode_classes import (
            PROBED_JAVA,
        )

        # version guard (review r10: the PROBED_JAVA comment must not
        # promise a check that nowhere exists): the running JVM's major
        # must match the one the tables were probed from — a JVM
        # upgrade fails HERE with the instruction, before the subtler
        # per-codepoint assertions below
        running = spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"
        )
        assert running.split(".")[0] == PROBED_JAVA.split(".")[0], (
            f"JVM changed ({PROBED_JAVA} -> {running}): the vendored "
            "unicode_classes tables were probed from a different JVM "
            "and its UCD version may differ — rerun "
            "tools/gen_unicode_classes.py"
        )

        merges = list(B.default_merges())
        texts = [
            "aࡰb",          # U+0870: letter in 14.0, not in 13.0
            "x\U00010780y",      # modifier letter, Unicode 14
            "m\U0001E290n",      # Toto letter, Unicode 14
            "1\U00016AC0 2",     # Tangsa digit, Unicode 14
            "ok ࡰࡰ mixed \U00016AC07",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        # raw pre-tokenizer parity first (the sharpest signal: failure
        # here means the vendored tables no longer match this JVM —
        # regenerate with tools/gen_unicode_classes.py)
        pre_rows = df.select(
            "i",
            F.regexp_extract_all(
                "text", F.lit(BPE_ISH_REGEX), 0
            ).alias("p"),
        ).orderBy("i").collect()
        for r, t in zip(pre_rows, texts):
            assert list(r["p"]) == B.pretokens_py(t), (
                "JVM-vs-twin pre-tokenizer divergence on "
                f"{t!r}: {list(r['p'])} != {B.pretokens_py(t)} — the "
                "vendored unicode_classes tables do not match this "
                "JVM's UCD; rerun tools/gen_unicode_classes.py"
            )
        # and full encode parity across fold / arrow / reference
        refs = [B.bpe_encode_py(t, merges) for t in texts]
        rows = df.select(
            "i",
            B.bpe_tokens("text", impl="fold").alias("f"),
            B.bpe_tokens("text", impl="arrow").alias("a"),
        ).orderBy("i").collect()
        for r, ref, t in zip(rows, refs, texts):
            assert list(r["f"]) == ref, ("fold", t, list(r["f"]), ref)
            assert list(r["a"]) == ref, ("arrow", t, list(r["a"]), ref)
        # the guard that makes a silent re-skew impossible: the probed
        # codepoints must still classify exactly as the vendored tables
        # say (letters NOT in the 13.0 tables, since this JVM rejects
        # them) — if the running JVM ever accepts them, the pre-token
        # assertion above already failed with the regen instruction
        lcls = _re.compile(f"[{B._UC_L}]")
        assert not lcls.match("ࡰ")
        assert not lcls.match("\U00010780")

    def test_unordered_table_falls_back_to_exact_sweep(self, spark):
        """Review r10: the rank-dict fixpoint diverges from the
        rank-order sweep on tables violating the structural invariant
        (a merge operand produced by a LATER merge) — e.g.
        [('a','bc'), ('b','c')] on 'abc': sweep a|bc, fixpoint abc.
        Real trained tables cannot violate it, but a hand-reordered or
        corrupted merges.txt must still encode with the documented
        rank-order semantics bit-for-bit on every path, so the factory
        detects the violation and falls back to the literal sweep."""
        bad = [("a", "bc"), ("b", "c")]
        assert not B.structurally_ordered(bad)
        assert B.structurally_ordered(list(B.default_merges()))
        ref = B.bpe_encode_py("abc abcabc", bad)
        enc = B._encoder_factory(bad)
        got = []
        for tok in B.pretokens_py("abc abcabc"):
            got.extend(enc(tok))
        assert got == ref
        # and through the actual arrow column path vs the fold
        df = spark.createDataFrame([(1, "abc abcabc")], "i int, text string")
        rows = df.select(
            B.bpe_tokens("text", bad, impl="arrow").alias("a"),
            B.bpe_tokens("text", bad, impl="fold").alias("f"),
        ).first()
        assert list(rows["a"]) == ref == list(rows["f"])
        # review r10 second pass: operand ORDER alone is insufficient —
        # a later merge RE-CREATING an existing product lets a lower
        # rank fire late in the fixpoint; the novel-product invariant
        # must be checked too
        bad2 = [("b", "c"), ("a", "b"), ("ab", "c"),
                ("abc", "d"), ("a", "bc")]
        assert not B.structurally_ordered(bad2)
        enc2 = B._encoder_factory(bad2)
        assert list(enc2("abcd")) == B.bpe_encode_py("abcd", bad2) \
            == ["abc", "d"]

    def test_merges_txt_loader_roundtrip(self, tmp_path):
        """GPT-2-format file (#version header, Ġ space marker) loads
        back to the identical table, and a hand-written file with Ġ
        markers maps to leading-space symbols."""
        ms = list(B.default_merges())
        p = str(tmp_path / "merges.txt")
        B.save_merges(p, ms)
        assert B.load_merges(p) == ms
        hand = tmp_path / "hand.txt"
        hand.write_text(
            "#version: 0.2\nĠt he\nĠth e\n\nt h\n", encoding="utf-8"
        )
        assert B.load_merges(str(hand)) == [
            (" t", "he"), (" th", "e"), ("t", "h")
        ]
        assert B.load_merges(str(hand), space_marker=None) == [
            ("Ġt", "he"), ("Ġth", "e"), ("t", "h")
        ]

    def test_loader_keeps_hash_merges_and_handles_crlf(self, tmp_path):
        """Review r9: only the '#version' header is a comment — a real
        merge whose first symbol starts with '#' (markdown-heavy
        vocabularies learn those) must survive a save/load roundtrip;
        and a CRLF file must not leave \\r on every second symbol
        (which would make every merge a silent no-op)."""
        ms = [("#", "#"), ("##", "#"), ("t", "h")]
        p = str(tmp_path / "hash.txt")
        B.save_merges(p, ms)
        assert B.load_merges(p) == ms
        crlf = tmp_path / "crlf.txt"
        crlf.write_bytes(b"#version: 0.2\r\nt h\r\nth e\r\n")
        assert B.load_merges(str(crlf)) == [("t", "h"), ("th", "e")]

    def test_loader_rejects_malformed_lines(self, tmp_path):
        bad = tmp_path / "bad.txt"
        bad.write_text("a b c\n", encoding="utf-8")
        with pytest.raises(ValueError, match="bad.txt:1"):
            B.load_merges(str(bad))
        bad.write_text("a \n", encoding="utf-8")
        with pytest.raises(ValueError, match="expected"):
            B.load_merges(str(bad))

    def test_loaded_table_encodes_through_both_paths(self, spark, tmp_path):
        """End-to-end: train → save merges.txt → load → encode via fold
        AND arrow, equal to the reference under the loaded table."""
        ms = B.train_bpe_merges(B.SEED_CORPUS, num_merges=60)
        p = str(tmp_path / "m.txt")
        B.save_merges(p, ms)
        loaded = B.load_merges(p)
        assert loaded == ms
        text = B.SEED_CORPUS[2]
        ref = B.bpe_encode_py(text, loaded)
        df = spark.createDataFrame([(1, text)], "i int, text string")
        r = df.select(
            B.bpe_tokens("text", loaded, impl="fold").alias("f"),
            B.bpe_tokens("text", loaded, impl="arrow").alias("a"),
        ).first()
        assert list(r["f"]) == ref and list(r["a"]) == ref


class TestTokenIds:
    """Round 9: id-stream encoding — the artifact a training pipeline
    materializes. Ids must round-trip through the vocab back to the
    exact reference tokens."""

    def test_ids_roundtrip_to_reference_tokens(self, spark):
        merges = list(B.default_merges())
        vocab = B.bpe_vocab(merges)
        assert len(vocab) == len(set(vocab))  # ids are unambiguous
        texts = [t for t in FIXTURES if t is not None]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        rows = df.select(
            "i", B.bpe_token_ids("text").alias("ids")
        ).orderBy("i").collect()
        for r, text in zip(rows, texts):
            ref = B.bpe_encode_py(text, merges)
            decoded = [vocab[i] if 0 <= i < len(vocab) else None
                       for i in r["ids"]]
            # every FIXTURES char is in the seed alphabet except the
            # exotic ones, which must map to unk (-1), never crash
            assert len(decoded) == len(ref)
            for got, want in zip(decoded, ref):
                assert got == want or got is None

    def test_unknown_symbols_map_to_unk(self, spark):
        df = spark.createDataFrame([(1, "héllo")], "i int, text string")
        r = df.select(
            B.bpe_token_ids("text", unk_id=-7).alias("ids")
        ).first()
        assert -7 in list(r["ids"])  # é is outside the seed alphabet
        r2 = df.select(B.bpe_token_ids("text").alias("ids")).first()
        assert -1 in list(r2["ids"])

    def test_null_and_empty(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, "")], "i int, text string"
        )
        rows = df.select(
            "i", B.bpe_token_ids("text").alias("ids")
        ).orderBy("i").collect()
        assert rows[0]["ids"] is None
        assert list(rows[1]["ids"]) == []

    def test_vocab_constructive_order(self):
        ms = [("a", "b"), ("ab", "c")]
        assert B.bpe_vocab(ms) == ["a", "b", "c", "ab", "abc"]
        assert B.bpe_vocab(ms, alphabet="zb") == [
            "a", "b", "c", "z", "ab", "abc"
        ]

    def test_ids_at_50k_merges(self, spark):
        """The id path rides the same memoized encoder: exact at
        production merge counts."""
        big = B.synthetic_merges(50_000)
        vocab = B.bpe_vocab(big)
        text = "the quick brown fox jumps over the lazy dog"
        ref = B.bpe_encode_py(text, big)
        df = spark.createDataFrame([(1, text)], "i int, text string")
        r = df.select(B.bpe_token_ids("text", big).alias("ids")).first()
        assert [vocab[i] for i in r["ids"]] == ref


class TestVocabInterop:
    """Round 10 (VERDICT r9 item 3): GPT-2 ``vocab.json`` interop — id
    streams must match a SHIPPED tokenizer's file, not just the
    constructive order, and a mismatched vocab/merges pair must fail
    loud instead of silently encoding to unk."""

    def test_vocab_json_roundtrip_and_id_parity(self, spark, tmp_path):
        """save merges + vocab → load both → encode: the ids in the
        stream are the FILE's mapping, verified against the raw JSON
        (not against the in-memory list that wrote it)."""
        import json

        ms = B.train_bpe_merges(B.SEED_CORPUS, num_merges=60)
        vocab = B.bpe_vocab(ms)
        vp, mp = str(tmp_path / "vocab.json"), str(tmp_path / "merges.txt")
        B.save_vocab(vp, vocab)
        B.save_merges(mp, ms)
        lv, lm = B.load_vocab(vp), B.load_merges(mp)
        assert lv == vocab and lm == ms
        with open(vp, encoding="utf-8") as f:
            file_map = {
                t.replace("Ġ", " "): i for t, i in json.load(f).items()
            }
        text = "the training tokenizer keeps the learned merges"
        df = spark.createDataFrame([(1, text)], "i int, text string")
        got = list(
            df.select(
                B.bpe_token_ids("text", lm, vocab=lv).alias("ids")
            ).first()["ids"]
        )
        # .get(-1): 'z' (in "tokenizer") never appears in a merge
        # symbol at 60 merges, so it is legitimately out-of-vocab and
        # must map to unk — the same contract the encoder applies
        want = [file_map.get(t, -1) for t in B.bpe_encode_py(text, lm)]
        assert got == want and -1 in got

    def test_mismatched_vocab_merges_fail_loud(self, tmp_path):
        ms = B.train_bpe_merges(B.SEED_CORPUS, num_merges=40)
        other = B.synthetic_merges(30)
        vocab = B.bpe_vocab(ms)
        with pytest.raises(ValueError, match="different tokenizers"):
            B.bpe_token_ids("text", other, vocab=vocab)
        # explicit check API names the offending merge
        with pytest.raises(ValueError, match="merge 0"):
            B.check_vocab_merges(["a", "b"], [("a", "c")])
        # validate=False is the documented escape for pre-checked pairs
        B.bpe_token_ids("text", ms, vocab=vocab)  # consistent: no raise

    def test_loader_rejects_bad_id_spaces(self, tmp_path):
        import json

        p = tmp_path / "v.json"
        p.write_text(json.dumps({"a": 0, "b": 2}), encoding="utf-8")
        with pytest.raises(ValueError, match="0..1"):
            B.load_vocab(str(p))
        p.write_text(json.dumps({"a": 0, "b": 0}), encoding="utf-8")
        with pytest.raises(ValueError, match="id 0 assigned"):
            B.load_vocab(str(p))
        p.write_text(json.dumps({"Ġt": 0, " t": 1}), encoding="utf-8")
        with pytest.raises(ValueError, match="collide"):
            B.load_vocab(str(p))
        # and the saver's marker rules mirror save_merges'
        with pytest.raises(ValueError, match="space marker"):
            B.save_vocab(str(p), ["Ġx"])
        with pytest.raises(ValueError, match="duplicate"):
            B.save_vocab(str(p), ["x", "x"])


class TestCorpusTrainer:
    """Round 9 (VERDICT r8 item 3): Spark-side deterministic sampling
    feeding the Sennrich trainer — the PQ-codebook pattern."""

    def test_deterministic_across_partitionings(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        m1 = B.train_bpe_from_corpus(docs, "text", sample_n=64, num_merges=40)
        m2 = B.train_bpe_from_corpus(
            docs.repartition(13), "text", sample_n=64, num_merges=40
        )
        m3 = B.train_bpe_from_corpus(
            docs.coalesce(1), "text", sample_n=64, num_merges=40
        )
        assert m1 == m2 == m3
        assert len(m1) > 10

    def test_salt_changes_sample(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        m0 = B.train_bpe_from_corpus(docs, "text", sample_n=16, num_merges=30)
        m9 = B.train_bpe_from_corpus(
            docs, "text", sample_n=16, num_merges=30, salt=9
        )
        assert m0 != m9  # different sample -> different learned head

    def test_null_and_empty_text_excluded(self, spark):
        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "real text here"),
             (4, "more real text")],
            "i int, text string",
        )
        ms = B.train_bpe_from_corpus(df, "text", sample_n=10, num_merges=20)
        again = B.train_bpe_merges(
            ["real text here", "more real text"], num_merges=20
        )
        assert ms == again

    def test_packing_bpe_corpus_matches_duckdb(self, spark):
        """sequence_packing_bins(tokenizer='bpe_corpus') — a vocabulary
        trained FROM the corpus via the deterministic sampler — against
        a DuckDB replay built from the same trained table. Determinism
        of the sampler is what makes the replay possible."""
        import duckdb

        from s3_access_logs_spark.plans.text_queries import (
            sequence_packing_bins,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        ms = B.train_bpe_from_corpus(docs, "text", sample_n=256, num_merges=96)
        sdf = sequence_packing_bins(spark, sf, tokenizer="bpe_corpus")
        srows = sorted(
            (r["source"], r["bin"], r["n_docs"], r["bin_tokens"], r["fill"])
            for r in sdf.collect()
        )
        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')"
            )
            drows = sorted(
                tuple(r)
                for r in con.execute(f"""
                    WITH t AS (
                      SELECT doc_id, source,
                             {B.bpe_count_sql('text', ms)} AS n_tokens
                      FROM documents
                    ),
                    packed AS (
                      SELECT source, n_tokens,
                             ((SUM(n_tokens) OVER (
                                 PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens)
                              // 256)::BIGINT AS bin
                      FROM t
                    )
                    SELECT source, bin, COUNT(*) AS n_docs,
                           SUM(n_tokens)::BIGINT AS bin_tokens,
                           ROUND(SUM(n_tokens)::DOUBLE / 256.0, 6) AS fill
                    FROM packed GROUP BY source, bin
                """).fetchall()
            )
        finally:
            con.close()
        assert srows == drows


class TestRealTokenizerParity:
    """Round 11 (VERDICT r10 item 8): cross-validate the shipped-ids
    claim against a THIRD, public GPT-2 tokenizer implementation —
    not just this repo's two in-house encoders. importorskip'd (the
    PyAV posture): green where a public implementation is installed,
    cleanly skipped where not.

    Scope: the original pair of tests uses ASCII letters + single
    spaces, the regime where this engine's DEFAULT unicode-text
    pre-tokenizer and GPT-2's byte-level one provably coincide
    (`` ?\\p{L}+`` matches the same boundaries, and byte-level ==
    char-level for ASCII). The ``*_bytelevel`` tests (round 12) drop
    that restriction entirely: under ``pretokenizer='gpt2'`` the
    engine runs the byte-level pipeline itself, so parity is pinned
    on contractions, multi-space runs and non-ASCII UTF-8 too.
    Residual: fixture codepoints stay off the Unicode-13→14 delta
    (the vendored \\p{L} tables are JVM-probed Unicode 13; installed
    libs carry newer UCDs) and off U+001C-001F (Python/HF ``\\s``
    includes them, rust-regex White_Space does not).
    """

    #: every fixture char must be in the vocab alphabet so neither
    #: implementation ever needs an unk/byte fallback
    ALPHABET = "abcdefghijklmnopqrstuvwxyz "
    CORPUS = [
        "the quick brown fox jumps over the lazy dog",
        "she sells sea shells by the sea shore",
        "a man a plan a canal panama",
        "the rain in spain stays mainly on the plain",
        "pack my box with five dozen liquor jugs",
    ]
    TEXTS = [
        "the quick brown fox",
        "sea shells on the plain",
        "a lazy dog jumps over a canal",
        "liquor jugs in spain",
    ]

    def _files(self, tmp_path):
        ms = B.train_bpe_merges(self.CORPUS, num_merges=50, min_freq=1)
        vocab = B.bpe_vocab(ms, alphabet=self.ALPHABET)
        vp = str(tmp_path / "vocab.json")
        mp = str(tmp_path / "merges.txt")
        B.save_vocab(vp, vocab)
        B.save_merges(mp, ms)
        return vp, mp

    def _our_ids(self, spark, vp, mp):
        lm, lv = B.load_merges(mp), B.load_vocab(vp)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)],
            "i int, text string",
        )
        rows = (
            df.select("i", B.bpe_token_ids("text", lm, vocab=lv).alias("ids"))
            .orderBy("i")
            .collect()
        )
        return [list(r["ids"]) for r in rows]

    def test_ids_match_transformers_gpt2(self, spark, tmp_path):
        transformers = pytest.importorskip("transformers")

        vp, mp = self._files(tmp_path)
        # the slow (pure-Python) GPT2Tokenizer consumes vocab.json +
        # merges.txt directly — the reference public implementation
        tok = transformers.GPT2Tokenizer(vocab_file=vp, merges_file=mp)
        theirs = [
            tok.encode(t, add_special_tokens=False) for t in self.TEXTS
        ]
        assert self._our_ids(spark, vp, mp) == theirs
        # and no id ever left the file's own space (nothing fell back
        # to an added special token)
        import json

        v = json.load(open(vp, encoding="utf-8"))
        assert all(i < len(v) for ids in theirs for i in ids)

    def test_ids_match_tiktoken(self, spark, tmp_path):
        tiktoken = pytest.importorskip("tiktoken")

        vp, mp = self._files(tmp_path)
        import json

        v = json.load(open(vp, encoding="utf-8"))
        # tiktoken drives BPE from byte-sequence ranks; the
        # constructive vocab order (base chars, then merges in rank
        # order) IS a consistent rank table for a trained merges list,
        # and Ġ in the file spells the space byte
        ranks = {
            t.replace("Ġ", " ").encode(): i for t, i in v.items()
        }
        enc = tiktoken.Encoding(
            name="parity",
            pat_str=r" ?[a-z]+| ?[^a-z ]+",
            mergeable_ranks=ranks,
            special_tokens={},
        )
        theirs = [enc.encode(t) for t in self.TEXTS]
        assert self._our_ids(spark, vp, mp) == theirs

    # ---- byte-level mode: arbitrary UTF-8 (round 12) ------------------

    # same regime as TestGpt2ByteLevel.CORPUS (defined later in the
    # file, so spelled out here): contractions, accents, CJK,
    # multi-space, digits, punctuation
    BYTE_CORPUS = [
        "don't stop the music, it's the people's choice",
        "l'été à Zürich n'était pas très chaud cette année",
        "we'll see — they're sure it'll work, we've checked",
        "日本語のテキストも正しく分割される必要がある",
        "mixed   spacing\tand\nnewlines   matter here",
        "prices: $1,234.56 and 99% off!! (really)",
    ] * 3
    BYTE_TEXTS = [
        "don't worry, it's fine",
        "l'été était très beau — vraiment",
        "日本語のテキストも分割",
        "we'll   take   two   of  those",
        "trailing run   ",
        "$1,234.56 at 99%!",
    ]

    def _byte_files(self, tmp_path):
        ms = B.train_bpe_merges(
            self.BYTE_CORPUS, num_merges=60, min_freq=1,
            pretokenizer="gpt2",
        )
        alphabet = "".join(
            sorted(
                set(
                    c
                    for t in self.BYTE_CORPUS + self.BYTE_TEXTS
                    for tok in B.gpt2_pretokens_py(t)
                    for c in tok
                )
            )
        )
        vocab = B.bpe_vocab(ms, alphabet=alphabet)
        vp = str(tmp_path / "bvocab.json")
        mp = str(tmp_path / "bmerges.txt")
        # byte-level files store Ġ verbatim — the GPT-2 convention
        B.save_vocab(vp, vocab, space_marker=None)
        B.save_merges(mp, ms, space_marker=None)
        return vp, mp

    def _our_byte_ids(self, spark, vp, mp):
        lm = B.load_merges(mp, space_marker=None)
        lv = B.load_vocab(vp, space_marker=None)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.BYTE_TEXTS)],
            "i int, text string",
        )
        rows = (
            df.select(
                "i",
                B.bpe_token_ids(
                    "text", lm, vocab=lv, pretokenizer="gpt2"
                ).alias("ids"),
            )
            .orderBy("i")
            .collect()
        )
        return [list(r["ids"]) for r in rows]

    def test_ids_match_transformers_gpt2_bytelevel(self, spark, tmp_path):
        transformers = pytest.importorskip("transformers")

        vp, mp = self._byte_files(tmp_path)
        tok = transformers.GPT2Tokenizer(vocab_file=vp, merges_file=mp)
        theirs = [
            tok.encode(t, add_special_tokens=False)
            for t in self.BYTE_TEXTS
        ]
        assert self._our_byte_ids(spark, vp, mp) == theirs

    def test_ids_match_tiktoken_bytelevel(self, spark, tmp_path):
        tiktoken = pytest.importorskip("tiktoken")

        vp, mp = self._byte_files(tmp_path)
        import json

        v = json.load(open(vp, encoding="utf-8"))
        u2b = B.unicode_to_bytes()
        ranks = {
            bytes(u2b[c] for c in t): i for t, i in v.items()
        }
        enc = tiktoken.Encoding(
            name="parity-bytelevel",
            # the shipped GPT-2 pattern verbatim
            pat_str=(
                r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+"
                r"| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
            ),
            mergeable_ranks=ranks,
            special_tokens={},
        )
        theirs = [enc.encode(t) for t in self.BYTE_TEXTS]
        assert self._our_byte_ids(spark, vp, mp) == theirs


class TestGpt2ByteLevel:
    """Round 12 (VERDICT r11 item 1): the byte-level pre-tokenizer mode
    — bytes_to_unicode mapping + the GPT-2 contraction/word regex — so
    ids under a shipped vocab match the real tokenizer on ARBITRARY
    UTF-8, not just the ASCII+single-space regime the original parity
    tests pin."""

    #: corpus in the byte-level regime: contractions, accents, CJK,
    #: multi-space runs, digits, punctuation — everything the default
    #: word splitter segments differently
    CORPUS = [
        "don't stop the music, it's the people's choice",
        "l'été à Zürich n'était pas très chaud cette année",
        "we'll see — they're sure it'll work, we've checked",
        "日本語のテキストも正しく分割される必要がある",
        "mixed   spacing\tand\nnewlines   matter here",
        "prices: $1,234.56 and 99% off!! (really)",
    ] * 3
    TEXTS = [
        "don't worry, it's fine",
        "l'été était très beau",
        "日本語のテキスト",
        "we'll   take   two",
        "trailing spaces  ",
        "",
        None,
    ]

    def test_bytes_to_unicode_is_the_public_map(self):
        b2u = B.bytes_to_unicode()
        u2b = B.unicode_to_bytes()
        assert len(b2u) == 256
        assert len(set(b2u.values())) == 256  # bijective
        # printable latin-1 maps to itself
        for lo, hi in ((0x21, 0x7E), (0xA1, 0xAC), (0xAE, 0xFF)):
            for b in range(lo, hi + 1):
                assert b2u[b] == chr(b)
        # the famous shifts: space/newline/tab
        assert b2u[0x20] == "Ġ" and b2u[0x0A] == "Ċ" and b2u[0x09] == "ĉ"
        # exact inverse
        assert all(u2b[c] == b for b, c in b2u.items())

    def test_byte_mapped_pretokens_pinned(self):
        """The byte-mapped pre-tokens themselves (the VERDICT's asked-for
        pin): contraction splits, space attachment, whitespace-run
        handling and multi-byte UTF-8 mapping, by value."""
        assert B.gpt2_pretokens_py("don't stop") == ["don", "'t", "Ġstop"]
        # the ws-lookahead rule: 2 spaces -> lone space + space-prefixed
        assert B.gpt2_pretokens_py("hello  world") == [
            "hello", "Ġ", "Ġworld",
        ]
        # trailing whitespace is one run; tab/newline map to ĉ/Ċ
        assert B.gpt2_pretokens_py("a\tb\nc  ") == [
            "a", "ĉ", "b", "Ċ", "c", "ĠĠ",
        ]
        # é = 0xC3 0xA9 -> 'Ã©'; CJK chars are three mapped bytes each
        assert B.gpt2_pretokens_py("héllo") == ["hÃ©llo"]
        assert B.gpt2_pretokens_py("日") == ["æĹ¥"]
        # digits split from letters; punctuation keeps its leading space
        assert B.gpt2_pretokens_py("ab12 ...x") == [
            "ab", "12", "Ġ...", "x",
        ]
        # uppercase contractions do NOT split (the shipped pattern is
        # lowercase-literal) — parity means reproducing that too
        assert B.gpt2_pretokens_py("DON'T") == ["DON", "'", "T"]

    def _table(self):
        ms = B.train_bpe_merges(
            self.CORPUS, num_merges=60, min_freq=1, pretokenizer="gpt2"
        )
        # alphabet covers every byte-mapped char the fixtures produce,
        # so nothing falls to unk and parity is exact end-to-end
        alphabet = "".join(
            sorted(
                set(
                    c
                    for t in self.CORPUS + [x for x in self.TEXTS if x]
                    for tok in B.gpt2_pretokens_py(t)
                    for c in tok
                )
            )
        )
        return ms, B.bpe_vocab(ms, alphabet=alphabet)

    def test_arrow_path_matches_reference_encoder(self, spark):
        ms, vocab = self._table()
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(self.TEXTS)],
            "i int, text string",
        )
        got = (
            df.select(
                "i",
                B.bpe_tokens("text", ms, pretokenizer="gpt2").alias("t"),
                B.bpe_token_count("text", ms, pretokenizer="gpt2").alias(
                    "n"
                ),
                B.bpe_token_ids(
                    "text", ms, vocab=vocab, pretokenizer="gpt2"
                ).alias("ids"),
            )
            .orderBy("i")
            .collect()
        )
        idx = {s: i for i, s in enumerate(vocab)}
        for r, text in zip(got, self.TEXTS):
            if text is None:
                assert r.t is None and r.n is None and r.ids is None
                continue
            want = B.bpe_encode_py(text, ms, pretokenizer="gpt2")
            assert list(r.t) == want
            assert r.n == len(want)
            assert list(r.ids) == [idx.get(s, -1) for s in want]
            if text:  # every fixture char is in the alphabet
                assert -1 not in r.ids

    def test_constructive_rank_fixpoint_third_impl(self):
        """An INDEPENDENT in-test byte-level encoder — tiktoken's
        algorithm shape: rank table over raw BYTE sequences from the
        constructive vocab order, lowest-rank adjacent pair merged to
        fixpoint — must reproduce our ids on arbitrary UTF-8. This is
        the constructive-ranks parity of TestRealTokenizerParity
        without the importorskip, extended past ASCII."""
        ms, vocab = self._table()
        u2b = B.unicode_to_bytes()

        def to_bytes(sym: str) -> bytes:
            return bytes(u2b[c] for c in sym)

        ranks = {to_bytes(s): i for i, s in enumerate(vocab)}
        assert len(ranks) == len(vocab)  # byte-space is collision-free

        def third_impl(text: str) -> list[int]:
            out = []
            for tok in B._GPT2_PRETOK_RE.findall(text):
                parts = [bytes([b]) for b in tok.encode("utf-8")]
                while len(parts) > 1:
                    best, bi = None, None
                    for j in range(len(parts) - 1):
                        r = ranks.get(parts[j] + parts[j + 1])
                        if r is not None and (best is None or r < best):
                            best, bi = r, j
                    if bi is None:
                        break
                    parts[bi:bi + 2] = [parts[bi] + parts[bi + 1]]
                out.extend(ranks.get(p, -1) for p in parts)
            return out

        idx = {s: i for i, s in enumerate(vocab)}
        for text in [t for t in self.TEXTS if t] + self.CORPUS[:6]:
            ours = [
                idx.get(s, -1)
                for s in B.bpe_encode_py(text, ms, pretokenizer="gpt2")
            ]
            assert ours == third_impl(text), text

    def test_byte_level_files_roundtrip_marker_none(self, tmp_path):
        """Byte-level tables save/load with space_marker=None — the
        symbols already spell the space byte as Ġ verbatim, which IS
        the GPT-2 file convention."""
        ms, vocab = self._table()
        mp, vp = str(tmp_path / "merges.txt"), str(tmp_path / "vocab.json")
        B.save_merges(mp, ms, space_marker=None)
        B.save_vocab(vp, vocab, space_marker=None)
        assert B.load_merges(mp, space_marker=None) == ms
        assert B.load_vocab(vp, space_marker=None) == vocab
        # loading byte-level files with the DEFAULT marker translation
        # yields real-space symbols, and gpt2 mode rejects those loud
        mistranslated = B.load_merges(mp)  # 'Ġ' -> ' '
        with pytest.raises(ValueError, match="space_marker=None"):
            B.bpe_token_ids("text", mistranslated, pretokenizer="gpt2")

    def test_mode_guards(self):
        # the default demo table has real-space symbols -> guarded
        with pytest.raises(ValueError, match="space_marker=None"):
            B.bpe_token_ids("text", pretokenizer="gpt2")
        # fold is structurally impossible under gpt2 -> loud
        ms, _ = self._table()
        with pytest.raises(ValueError, match="arrow-only"):
            B.bpe_tokens("text", ms, impl="fold", pretokenizer="gpt2")
        with pytest.raises(ValueError, match="arrow-only"):
            B.bpe_token_count("text", ms, impl="fold", pretokenizer="gpt2")
        with pytest.raises(ValueError, match="unknown pretokenizer"):
            B.bpe_encode_py("x", [], pretokenizer="bert")

    def test_export_path_threads_gpt2_mode(self, spark, tmp_path):
        """export_training_set(pretokenizer='gpt2') id streams equal
        the reference byte-level encoder's — the 'train with the
        tokenizer the vocab came from' story end to end."""
        from s3_access_logs_spark.operators.export import (
            export_training_set,
        )

        ms, vocab = self._table()
        docs = spark.createDataFrame(
            [
                (i, t, "s0")
                for i, t in enumerate(self.CORPUS[:6])
            ],
            "doc_id long, text string, source string",
        )
        wins, _rep = export_training_set(
            docs, str(tmp_path / "w"), n_shards=2, window_ids=32,
            merges=ms, vocab=vocab, pretokenizer="gpt2",
        )
        idx = {s: i for i, s in enumerate(vocab)}
        eos = len(vocab)
        stream = []
        for r in sorted(
            wins.collect(), key=lambda r: (r.shard, r.window_idx)
        ):
            stream.extend(r.ids)
        # every emitted id is a real byte-level id or the EOS boundary
        assert set(stream) <= set(idx.values()) | {eos}
        assert stream.count(eos) == 6  # one per doc


class TestDistributedTrainer:
    """Round 12 (VERDICT r11 item 8, stretch): per-iteration pair
    counting in Spark, driver picks only the argmax — must equal the
    in-driver Sennrich trainer merge for merge."""

    def test_equals_driver_trainer(self, spark):
        df = spark.createDataFrame(
            [(t,) for t in B.SEED_CORPUS], "text string"
        )
        got = B.train_bpe_distributed(df, num_merges=40)
        want = B.train_bpe_merges(B.SEED_CORPUS, num_merges=40)
        assert got == want
        # min_freq stop fires identically (min_freq=5 exhausts the
        # seed corpus after 32 merges — the stop, not the cap, ends it)
        got2 = B.train_bpe_distributed(df, num_merges=500, min_freq=5)
        want2 = B.train_bpe_merges(
            B.SEED_CORPUS, num_merges=500, min_freq=5
        )
        assert len(want2) == 32 and got2 == want2

    def test_equals_driver_trainer_gpt2_mode(self, spark):
        corpus = [
            "don't stop the music, it's the people's choice",
            "l'été à Zürich n'était pas très chaud",
            "we'll see — they're sure it'll work",
        ] * 2
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        got = B.train_bpe_distributed(
            df, num_merges=25, min_freq=1, pretokenizer="gpt2"
        )
        want = B.train_bpe_merges(
            corpus, num_merges=25, min_freq=1, pretokenizer="gpt2"
        )
        assert got == want

    def test_non_bmp_code_points_survive(self, spark):
        """review r12: the engine-side char split must cut at CODE
        POINTS, not UTF-16 code units — emoji / astral CJK would
        otherwise shred into lone surrogate halves, diverge from the
        driver trainer and mint bogus ('?','?') merges."""
        corpus = [
            "\U0001F600\U0001F601 ab \U0001F600\U0001F601 ab cd",
            "\U0001F600\U0001F601 words \U00020000\U00020001 more",
        ] * 2
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        got = B.train_bpe_distributed(df, num_merges=12, min_freq=1)
        want = B.train_bpe_merges(corpus, num_merges=12, min_freq=1)
        assert got == want
        assert any(
            ord(c) > 0xFFFF for a, b in got for c in a + b
        )  # astral symbols actually participated
        assert not any(
            "?" in a or "?" in b for a, b in got
        )  # no surrogate-replacement artifacts

    def test_edges(self, spark):
        df = spark.createDataFrame(
            [(t,) for t in B.SEED_CORPUS], "text string"
        )
        # NULL/empty corpus trains the empty table, not a crash
        empty = spark.createDataFrame(
            [(None,), ("",)], "text string"
        )
        assert B.train_bpe_distributed(empty, num_merges=5) == []
        with pytest.raises(ValueError, match="unknown pretokenizer"):
            B.train_bpe_distributed(df, pretokenizer="bert")
        with pytest.raises(ValueError, match="unknown strategy"):
            B.train_bpe_distributed(df, strategy="eager")

    def test_delta_equals_recount_to_exhaustion(self, spark):
        """Round 13 (VERDICT r12 item 5): the incremental ('delta')
        strategy — one full pair count, then per-iteration updates of
        only the pairs adjacent to the applied merge — must equal the
        round-12 full-recount loop MERGE FOR MERGE all the way to
        corpus exhaustion (min_freq=1: the horizon is the corpus, not
        the cap), and both equal the driver trainer. The deep-horizon
        (>= 1024 actual merges) equality runs in
        tools/trainer_scale.py --equality over the sf0.01 corpus and is
        recorded in BASELINE.md; this pins the full exhaustion
        trajectory at pytest scale."""
        corpus = [
            "the quick brown fox jumps over the lazy dog tonight",
            "pack my box with five dozen liquor jugs quickly now",
            "sphinx of black quartz judge my vow for the record",
        ] * 2
        df = spark.createDataFrame([(t,) for t in corpus], "text string")
        d = B.train_bpe_distributed(
            df, num_merges=5000, min_freq=1, strategy="delta"
        )
        r = B.train_bpe_distributed(
            df, num_merges=5000, min_freq=1, strategy="recount"
        )
        w = B.train_bpe_merges(corpus, num_merges=5000, min_freq=1)
        assert d == r == w
        assert len(d) >= 60  # exhaustion, not the cap, ended it

    def test_no_residual_checkpoint_blocks(self, spark):
        """ADVICE r12: localCheckpoint blocks live OUTSIDE the cache
        manager, so DataFrame.unpersist alone leaks one block set per
        iteration; the trainer must release the backing RDDs
        explicitly — at production merge counts the leak is
        executor-storage-sized."""
        sc = spark.sparkContext._jsc.sc()
        before = {i.id() for i in sc.getRDDStorageInfo()}
        df = spark.createDataFrame(
            [(t,) for t in B.SEED_CORPUS], "text string"
        )
        B.train_bpe_distributed(df, num_merges=8, strategy="delta")
        B.train_bpe_distributed(df, num_merges=8, strategy="recount")
        after = {i.id() for i in sc.getRDDStorageInfo()}
        assert after <= before, (
            f"leaked checkpoint/persist blocks: {sorted(after - before)}"
        )

    def test_delta_blocks_bounded_at_every_iteration(self, spark):
        """VERDICT r13 item 6: the delta strategy checkpoints TWO frames
        per merge round (pair table + words) plus a transient third in
        flight; live checkpoint blocks must stay at that constant at
        EVERY iteration — a per-iteration bound proves non-accumulation
        for ANY merge count (1024 or 100k), without a production-length
        run in the suite. The ≥1024-merge end-state run is
        ``tools/trainer_scale.py --equality`` (BASELINE.md, "Round 13:
        incremental (delta) distributed trainer"); this pins the
        invariant that run relies on."""
        import itertools
        import string

        sc = spark.sparkContext._jsc.sc()
        baseline = len(sc.getRDDStorageInfo())
        # enough distinct words that 32 merge rounds stay productive
        vocab = [
            "".join(w)
            for w in itertools.islice(
                itertools.product(string.ascii_lowercase, repeat=4), 60
            )
        ]
        df = spark.createDataFrame(
            [(" ".join(vocab),)] * 2, "text string"
        )
        peaks = []

        def hook(n_merges, _sec):
            peaks.append(len(sc.getRDDStorageInfo()) - baseline)

        ms = B.train_bpe_distributed(
            df,
            num_merges=32,
            min_freq=2,
            strategy="delta",
            iteration_hook=hook,
        )
        assert len(ms) == 32  # every iteration exercised the swap
        # steady state holds nxt_P + nxt_words (2 checkpoint block
        # sets); the seed persist may still be live on iteration 1
        assert peaks and max(peaks) <= 3, f"block growth: {peaks}"
        assert len(sc.getRDDStorageInfo()) <= baseline


class TestDecode:
    """Round 12: the decode half — id streams back to text, the store
    inspection / debugging loop."""

    def test_gpt2_spark_roundtrip_is_exact(self, spark):
        corpus = TestGpt2ByteLevel.CORPUS
        texts = [t for t in TestGpt2ByteLevel.TEXTS if t] + [None]
        ms = B.train_bpe_merges(
            corpus, num_merges=60, min_freq=1, pretokenizer="gpt2"
        )
        alphabet = "".join(
            sorted(
                set(
                    c
                    for t in corpus + [x for x in texts if x]
                    for tok in B.gpt2_pretokens_py(t)
                    for c in tok
                )
            )
        )
        vocab = B.bpe_vocab(ms, alphabet=alphabet)
        eos = len(vocab)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, text string"
        )
        out = (
            df.select(
                "i",
                "text",
                B.bpe_decode_ids(
                    F.concat(
                        B.bpe_token_ids(
                            "text", ms, vocab=vocab, pretokenizer="gpt2"
                        ),
                        F.array(F.lit(eos)),
                    ),
                    vocab,
                    pretokenizer="gpt2",
                    drop_ids=(eos,),
                ).alias("back"),
            )
            .orderBy("i")
            .collect()
        )
        for r in out:
            # byte-level decode is EXACT (every byte captured); EOS
            # dropped as layout; NULL stays NULL
            assert r.back == r.text, r.text

    def test_default_mode_and_oov_policy(self, spark):
        ms = list(B.default_merges())
        text = "the quick brown fox"
        # extend the constructive base charset to cover the text (the
        # demo merges' symbols alone miss e.g. 'x')
        vocab = B.bpe_vocab(ms, alphabet=text)
        toks = B.bpe_encode_py(text, ms)
        assert B.decode_tokens(toks) == text
        # unk (-1), out-of-range ids AND NULL elements inside a stream
        # (a corrupt store — ADVICE r12) are skipped, not crashes
        idx = {s: i for i, s in enumerate(vocab)}
        ids = [idx[t] for t in toks] + [-1, len(vocab) + 7, None]
        df = spark.createDataFrame([(ids,)], "ids array<int>")
        r = df.select(
            B.bpe_decode_ids("ids", vocab).alias("t")
        ).first()
        assert r.t == text
        with pytest.raises(ValueError, match="unknown pretokenizer"):
            B.decode_tokens(["x"], "bert")


class TestDecodeGuards:
    def test_non_byte_level_vocab_fails_loud_in_gpt2_decode(self):
        # default-mode tokens carry real spaces — not byte-level
        with pytest.raises(ValueError, match="byte-level alphabet"):
            B.decode_tokens([" the"], "gpt2")
        # ASCII special-token strings are VALID byte-mapped sequences
        # (printable ASCII maps to itself) — they decode verbatim
        assert B.decode_tokens(["<eos>"], "gpt2") == "<eos>"
        # a char outside the 256-symbol alphabet fails loud
        with pytest.raises(ValueError, match="byte-level alphabet"):
            B.decode_tokens(["⟨special⟩"], "gpt2")
        # truncated multi-byte RUN still decodes with replacement
        sym = B.bytes_to_unicode()[0xC3]  # first byte of 'é', alone
        out = B.decode_tokens([sym], "gpt2")
        assert out == "�"
