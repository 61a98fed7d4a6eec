"""Targeted purge across the store family (operators/purge.py, round
12 — VERDICT r11 item 4): the retroactive-decontamination / takedown
path. The pins: purged ids are absent from every store, repack_epoch
output excludes them (bit-identical to an export that never saw them),
later stream drains don't resurrect them, untouched leaves are never
rewritten, and the stage-and-swap crash windows converge."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from s3_access_logs_spark.operators.purge import purge_documents


class TestPurgeTokenStore:
    def _docs(self, spark, n=60):
        return spark.createDataFrame(
            [
                (i, f"stored document number {i} with plain words",
                 f"src{i % 2}")
                for i in range(n)
            ],
            "doc_id long, text string, source string",
        )

    def test_purge_equals_export_that_never_saw_them(
        self, spark, tmp_path
    ):
        """The strongest pin: purge ids from the store, and
        repack_epoch over the purged store == export_training_set over
        the corpus WITHOUT those documents — window for window."""
        from s3_access_logs_spark.operators.export import (
            TOKEN_STORE_META,
            export_training_set,
            repack_epoch,
            write_token_store,
        )

        docs = self._docs(spark)
        store = str(tmp_path / "store")
        write_token_store(docs, store, n_shards=3)
        victims = [5, 17, 40]
        res = purge_documents(spark, victims, token_store=store)
        assert res["token_store"]["rows_purged"] == 3
        assert 1 <= res["token_store"]["leaves_rewritten"] <= 3
        back = spark.read.parquet(store)
        assert back.filter(F.col("doc_id").isin(victims)).count() == 0
        assert back.count() == 57
        # sidecar survives the swap
        assert os.path.exists(f"{store}/{TOKEN_STORE_META}")
        key = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        got = repack_epoch(
            spark, store, str(tmp_path / "re"), window_ids=16,
            n_shards=3, order_salt="ep1:",
        )
        want, _ = export_training_set(
            docs.filter(~F.col("doc_id").isin(victims)),
            str(tmp_path / "ex"), n_shards=3, window_ids=16,
            order_salt="ep1:",
        )
        assert key(got) == key(want)
        # idempotent: nothing left to purge
        again = purge_documents(spark, victims, token_store=store)
        assert again["token_store"] == {
            "leaves_rewritten": 0, "rows_purged": 0,
        }

    def test_untouched_leaves_not_rewritten(self, spark, tmp_path):
        """The victim rule: leaves holding no purged id keep their
        exact files (path + size), proving they were never read back
        or rewritten."""
        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )

        docs = self._docs(spark)
        store = str(tmp_path / "store")
        write_token_store(docs, store, n_shards=4)
        # one victim -> exactly one affected shard leaf
        victim = 7
        shard_dirs = sorted(
            d for d in os.listdir(store) if d.startswith("shard=")
        )
        before = {
            d: sorted(
                (f, os.path.getsize(f"{store}/{d}/{f}"))
                for f in os.listdir(f"{store}/{d}")
                if f.endswith(".parquet")
            )
            for d in shard_dirs
        }
        res = purge_documents(spark, [victim], token_store=store)
        assert res["token_store"]["leaves_rewritten"] == 1
        changed = 0
        for d in shard_dirs:
            after = sorted(
                (f, os.path.getsize(f"{store}/{d}/{f}"))
                for f in os.listdir(f"{store}/{d}")
                if f.endswith(".parquet")
            )
            if after != before[d]:
                changed += 1
        assert changed == 1

    def test_wrong_store_kind_fails_loud(self, spark, tmp_path):
        p = str(tmp_path / "notastore")
        spark.createDataFrame(
            [(1, "x")], "some_id long, text string"
        ).write.partitionBy().parquet(p)
        with pytest.raises(ValueError, match="no 'doc_id' column"):
            purge_documents(spark, [1], token_store=p)

    def test_non_integral_id_store_fails_loud(self, spark, tmp_path):
        """ADVICE r12 (pinned r14): a store whose id column is not an
        integral dtype must raise — Spark's implicit cast against the
        bigint purge-id frame would NULL unmatched values and report a
        vacuous rows_purged=0 for a takedown."""
        p = str(tmp_path / "strstore")
        spark.createDataFrame(
            [("1", [1, 2], 0)], "doc_id string, ids array<int>, shard int"
        ).write.partitionBy("shard").parquet(p)
        with pytest.raises(ValueError, match="non-integral id stores"):
            purge_documents(spark, [1], token_store=p)

    def test_id_set_guard(self, spark, monkeypatch, tmp_path):
        import s3_access_logs_spark.operators.purge as P

        monkeypatch.setattr(P, "MAX_PURGE_IDS", 5)
        with pytest.raises(ValueError, match="more than 5"):
            P.purge_documents(spark, list(range(10)))
        big = spark.range(10).select(F.col("id").alias("doc_id"))
        with pytest.raises(ValueError, match="more than 5"):
            P.purge_documents(spark, big)


class TestPurgeStreamFamily:
    def _drop(self, src, name, rows):
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_purge_digest_band_stores_and_no_resurrection(
        self, spark, tmp_path
    ):
        from s3_access_logs_spark.streaming import (
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")
        self._drop(src, "b0.jsonl", [
            {"doc_id": i,
             "text": f"stream document {i} with enough distinct words "
                     f"for banding u{i}"}
            for i in range(12)
        ])
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            band_store=bands,
        ).awaitTermination(120)
        victims = [3, 8]
        res = purge_documents(
            spark, victims, digest_store=store, band_store=bands
        )
        assert res["digest_store"]["rows_purged"] == 2
        assert res["band_store"]["rows_purged"] > 0
        assert spark.read.parquet(store).filter(
            F.col("keep_id").isin(victims)
        ).count() == 0
        assert spark.read.parquet(bands).filter(
            F.col("id").isin(victims)
        ).count() == 0
        # a LATER drain of new documents does not resurrect them
        self._drop(src, "b1.jsonl", [
            {"doc_id": 100 + i, "text": f"later document {i} words x{i}"}
            for i in range(5)
        ])
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            band_store=bands,
        ).awaitTermination(120)
        back = spark.read.parquet(store)
        assert back.filter(F.col("keep_id").isin(victims)).count() == 0
        assert back.filter(F.col("keep_id") >= 100).count() == 5
        # and the purged documents' CONTENT would re-ingest (removal
        # forgets, by contract) — the digest gate no longer knows it
        self._drop(src, "b2.jsonl", [
            {"doc_id": 200,
             "text": "stream document 3 with enough distinct words "
                     "for banding u3"},
        ])
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            band_store=bands,
        ).awaitTermination(120)
        assert spark.read.parquet(store).filter(
            F.col("keep_id") == 200
        ).count() == 1

    def test_purge_streaming_token_store(self, spark, tmp_path):
        from s3_access_logs_spark.operators.export import repack_epoch
        from s3_access_logs_spark.streaming import (
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        shards = str(tmp_path / "shards")
        self._drop(src, "b0.jsonl", [
            {"doc_id": i, "text": f"unique shard document {i} words"}
            for i in range(10)
        ])
        self._drop(src, "b1.jsonl", [
            {"doc_id": 10 + i, "text": f"unique shard document {10+i} w"}
            for i in range(10)
        ])
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=3,
            max_files_per_trigger=1,
        ).awaitTermination(120)
        victims = [2, 13]
        res = purge_documents(spark, victims, token_store=shards)
        assert res["token_store"]["rows_purged"] == 2
        back = spark.read.parquet(shards)
        assert back.filter(F.col("doc_id").isin(victims)).count() == 0
        assert back.count() == 18
        # the two-level layout survives (leaves still shard=/batch_id=)
        wins = repack_epoch(
            spark, shards, str(tmp_path / "re"), window_ids=16,
            n_shards=3,
        )
        assert wins.count() > 0

    def test_purge_ivf_index(self, spark, tmp_path):
        from s3_access_logs_spark.operators.similarity import (
            build_ivf_index,
            probe_ivf_index,
        )
        from s3_access_logs_spark.sources.tables import load_table

        emb = load_table(
            spark, "/root/testdata/sf0.001", "embeddings"
        ).select("vec_id", "embedding").limit(200)
        emb = emb.withColumn(
            "label", (F.col("vec_id") % 4).cast("int")
        )
        idx = str(tmp_path / "ivf")
        cents = build_ivf_index(emb, idx)
        victims = [r.vec_id for r in emb.limit(3).collect()]
        res = purge_documents(spark, victims, ivf_index=idx)
        assert res["ivf_index"]["rows_purged"] == 3
        back = spark.read.parquet(idx)
        assert back.filter(
            F.col("neighbor_id").isin(victims)
        ).count() == 0
        # the index still probes fine
        out = probe_ivf_index(
            spark, idx, emb.limit(5), cents, k=3
        )
        assert out.count() > 0
        assert out.filter(F.col("neighbor_id").isin(victims)).count() == 0

    def test_ids_from_contamination_report(self, spark, tmp_path):
        """Composition with the decontamination finder: ngram_overlap
        names the contaminated ids, purge_documents takes the report
        frame directly."""
        from s3_access_logs_spark.operators.dedup import ngram_overlap
        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )

        bench = spark.createDataFrame(
            [(0, "the secret benchmark question about ancient rivers")],
            "doc_id long, text string",
        )
        rows = [
            (i, f"ordinary training document {i} words", "web")
            for i in range(20)
        ] + [
            (77, "the secret benchmark question about ancient rivers "
                 "verbatim leak", "web"),
        ]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        )
        store = str(tmp_path / "store")
        write_token_store(docs, store, n_shards=2)
        report = ngram_overlap(docs, bench)  # contaminated ids as `id`
        assert report.count() == 1
        res = purge_documents(
            spark, report.select("id"), token_store=store
        )
        assert res["token_store"]["rows_purged"] == 1
        assert spark.read.parquet(store).filter(
            F.col("doc_id") == 77
        ).count() == 0


class TestPurgeGuards:
    def test_multi_column_id_frame_fails_loud(self, spark):
        df = spark.createDataFrame(
            [(1, 2)], "n_hits long, doc_id long"
        )
        with pytest.raises(ValueError, match="ONE-column"):
            purge_documents(spark, df)

    def test_crashed_purge_does_not_flatten_stream_layout(
        self, spark, tmp_path
    ):
        """review r12: layout detection must run AFTER crash recovery
        and read the DIRECTORY tree — a crash that moved every leaf
        aside would otherwise make the data-read sniff see the batch
        layout and flatten the batch_id level on the re-run."""
        import json as _json
        import os
        import shutil

        from s3_access_logs_spark.operators.purge import (
            _STAGING,
            _TRASH,
        )
        from s3_access_logs_spark.streaming import (
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        shards = str(tmp_path / "shards")
        (src / "b0.jsonl").write_text(
            "\n".join(
                _json.dumps(
                    {"doc_id": i, "text": f"unique doc {i} words"}
                )
                for i in range(12)
            )
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=3,
        ).awaitTermination(120)
        # simulate the worst crash window: EVERY leaf moved aside,
        # staging exists without a marker
        os.makedirs(f"{shards}/{_STAGING}", exist_ok=True)
        for d in list(os.listdir(shards)):
            if not d.startswith("shard="):
                continue
            for b in list(os.listdir(f"{shards}/{d}")):
                if b.startswith("batch_id="):
                    os.makedirs(
                        f"{shards}/{_TRASH}/{d}", exist_ok=True
                    )
                    shutil.move(
                        f"{shards}/{d}/{b}",
                        f"{shards}/{_TRASH}/{d}/{b}",
                    )
        res = purge_documents(spark, [2], token_store=shards)
        assert res["token_store"]["rows_purged"] == 1
        # the two-level layout SURVIVED: every shard dir still nests
        # batch_id leaves, and the store reads cleanly
        for d in os.listdir(shards):
            if d.startswith("shard="):
                kids = os.listdir(f"{shards}/{d}")
                assert all(
                    k.startswith("batch_id=") or k.startswith(".")
                    or k.startswith("_")
                    for k in kids
                ), (d, kids)
        back = spark.read.parquet(shards)
        assert back.count() == 11
        assert "batch_id" in back.columns  # the partition level lives
        assert back.filter(F.col("doc_id") == 2).count() == 0


class TestPurgeCrashRecovery:
    def test_both_crash_windows_converge(self, spark, tmp_path):
        """Reconstructed crash states (the compaction test's method):
        before the marker recovery restores the moved-aside leaves and
        the purge re-runs; after the marker it installs the staged
        rewrite. No row outside the victim set is ever lost."""
        import shutil

        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )
        from s3_access_logs_spark.operators.purge import (
            _MOVED_OK,
            _STAGING,
            _TRASH,
        )

        docs = spark.createDataFrame(
            [(i, f"doc {i} with words", "s") for i in range(40)],
            "doc_id long, text string, source string",
        )
        store = str(tmp_path / "store")
        write_token_store(docs, store, n_shards=2)
        victims = [1, 2]
        want_after = sorted(
            r.doc_id
            for r in spark.read.parquet(store).collect()
            if r.doc_id not in victims
        )
        # --- crash BEFORE the marker: leaves in trash, no marker ----
        os.makedirs(f"{store}/{_STAGING}", exist_ok=True)
        for d in list(os.listdir(store)):
            if d.startswith("shard="):
                os.makedirs(f"{store}/{_TRASH}", exist_ok=True)
                shutil.move(f"{store}/{d}", f"{store}/{_TRASH}/{d}")
        res = purge_documents(spark, victims, token_store=store)
        assert res["token_store"]["rows_purged"] == 2
        got = sorted(
            r.doc_id for r in spark.read.parquet(store).collect()
        )
        assert got == want_after
        assert not os.path.exists(f"{store}/{_TRASH}")
        # --- crash AFTER the marker: staged rewrite + trash + marker,
        # install never ran (purge doc 3 this time) ------------------
        kept = spark.read.parquet(store).filter(F.col("doc_id") != 3)
        (
            kept.repartition(2, "shard")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(f"{store}/{_STAGING}")
        )
        for d in list(os.listdir(store)):
            if d.startswith("shard="):
                os.makedirs(f"{store}/{_TRASH}", exist_ok=True)
                shutil.move(f"{store}/{d}", f"{store}/{_TRASH}/{d}")
        open(f"{store}/{_STAGING}/{_MOVED_OK}", "w").close()
        res = purge_documents(spark, [3], token_store=store)
        # recovery installed the staged rewrite; 3 was already gone
        assert res["token_store"]["rows_purged"] == 0
        got = sorted(
            r.doc_id for r in spark.read.parquet(store).collect()
        )
        assert got == [d for d in want_after if d != 3]
        assert not os.path.exists(f"{store}/{_TRASH}")
        assert not os.path.exists(f"{store}/{_STAGING}")


class TestMaintenanceComposition:
    """Round 13 (VERDICT r12 item 7): purge and the token-store fold
    share the store and the one-maintenance-writer contract, but had no
    COMPOSED pin. purge→compact and compact→purge must leave
    ``repack_epoch``'s output equal to the straight-line (purge-only)
    result — including when op A crashed and was recovered (by its own
    rerun, per the crashed-op's-successor-first contract) before op B
    touched the store."""

    def _drop(self, src, name, rows):
        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def _stream_store(self, spark, tmp_path, name):
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / name / "in"
        src.mkdir(parents=True)
        for f in range(3):
            self._drop(src, f"b{f}.jsonl", [
                {"doc_id": i,
                 "text": f"unique composed maintenance doc {i} words"}
                for i in range(f * 8, (f + 1) * 8)
            ])
        shards = str(tmp_path / name / "shards")
        ingest_documents_stream(
            spark, str(src), str(tmp_path / name / "store"),
            str(tmp_path / name / "ckpt"), shard_store=shards,
            n_shards=3, max_files_per_trigger=1,
        ).awaitTermination(180)
        return shards

    def _rk(self, spark, store, dst):
        from s3_access_logs_spark.operators.export import repack_epoch

        wins = repack_epoch(
            spark, store, str(dst), window_ids=16, n_shards=3
        )
        return sorted(
            (r.shard, r.window_idx, tuple(r.ids))
            for r in wins.collect()
        )

    def test_op_orders_and_crashed_op_composition(self, spark, tmp_path):
        import shutil

        from s3_access_logs_spark.streaming.pipeline import (
            compact_token_store,
        )

        victims = [3, 11, 19]
        # five identical stores: reference (purge only), the two op
        # orders, and the two crashed-op-A-then-op-B sequences — one
        # streamed store, copied byte for byte
        streamed = self._stream_store(spark, tmp_path, "streamed")
        stores = {}
        for n in ("ref", "pc", "cp", "crashp", "crashc"):
            stores[n] = str(tmp_path / n / "shards")
            shutil.copytree(streamed, stores[n])
        purge_documents(spark, victims, token_store=stores["ref"])
        ref = self._rk(spark, stores["ref"], tmp_path / "r_ref")
        assert ref  # non-vacuous
        # purge -> compact
        purge_documents(spark, victims, token_store=stores["pc"])
        compact_token_store(spark, stores["pc"], keep_recent=0)
        assert self._rk(spark, stores["pc"], tmp_path / "r_pc") == ref
        # compact -> purge (purge over the folded batch_id=-1 layout)
        compact_token_store(spark, stores["cp"], keep_recent=0)
        res = purge_documents(spark, victims, token_store=stores["cp"])
        assert res["token_store"]["rows_purged"] == 3
        assert self._rk(spark, stores["cp"], tmp_path / "r_cp") == ref
        # both sequences preserved the two-level hive tree
        for st in (stores["pc"], stores["cp"]):
            for d in os.listdir(st):
                if d.startswith("shard="):
                    kids = [b for b in os.listdir(f"{st}/{d}")
                            if not b.startswith((".", "_"))]
                    assert kids and all(
                        b.startswith("batch_id=") for b in kids
                    ), (st, d)
        # crashed PURGE (before its marker) -> its rerun recovers and
        # purges -> compact
        st = stores["crashp"]
        os.makedirs(f"{st}/_purge_staging", exist_ok=True)
        for d in list(os.listdir(st)):
            if d.startswith("shard="):
                os.makedirs(f"{st}/_purge_trash", exist_ok=True)
                shutil.move(f"{st}/{d}", f"{st}/_purge_trash/{d}")
        res = purge_documents(spark, victims, token_store=st)
        assert res["token_store"]["rows_purged"] == 3
        compact_token_store(spark, st, keep_recent=0)
        assert self._rk(spark, st, tmp_path / "r_crashp") == ref
        # crashed COMPACT (before its marker) -> its rerun recovers and
        # folds -> purge
        st = stores["crashc"]
        os.makedirs(f"{st}/_fold_staging/shard=0", exist_ok=True)
        for d in list(os.listdir(st)):
            if not d.startswith("shard="):
                continue
            for b in list(os.listdir(f"{st}/{d}")):
                if b.startswith("batch_id="):
                    os.makedirs(f"{st}/_fold_trash/{d}", exist_ok=True)
                    shutil.move(
                        f"{st}/{d}/{b}", f"{st}/_fold_trash/{d}/{b}"
                    )
        res = compact_token_store(spark, st, keep_recent=0)
        assert res["folded"] == [0, 1, 2]
        res = purge_documents(spark, victims, token_store=st)
        assert res["token_store"]["rows_purged"] == 3
        assert self._rk(spark, st, tmp_path / "r_crashc") == ref


class TestPurgeCli:
    """`purge` subcommand (round 12): library semantics + the command
    family's strict exit contracts."""

    def test_purge_cli_matches_library_and_exits(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_purge
        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )

        docs = spark.createDataFrame(
            [(i, f"cli purge doc {i} words", "s") for i in range(30)],
            "doc_id long, text string, source string",
        )
        store = str(tmp_path / "store")
        write_token_store(docs, store, n_shards=2)
        # comma list
        assert run_purge(["3,7", "--token-store", store]) == 0
        back = spark.read.parquet(store)
        assert back.filter(F.col("doc_id").isin([3, 7])).count() == 0
        assert back.count() == 28
        # @file form (one id per line — a report export)
        ids_file = tmp_path / "ids.txt"
        ids_file.write_text("11\n12\n")
        assert run_purge([f"@{ids_file}", "--token-store", store]) == 0
        assert spark.read.parquet(store).count() == 26
        # idempotent re-run is exit 0
        assert run_purge(["3,7", "--token-store", store]) == 0
        # usage errors: no stores / empty or bad ids / unknown flag /
        # wrong store kind
        assert run_purge(["1,2"]) == 2
        assert run_purge([",", "--token-store", store]) == 2
        assert run_purge(["x,y", "--token-store", store]) == 2
        assert run_purge(
            ["1", "--token-store", store, "--bogus", "2"]
        ) == 2
        assert run_purge(
            [f"@{tmp_path}/nowhere.txt", "--token-store", store]
        ) == 2
        wrong = str(tmp_path / "wrong")
        spark.createDataFrame(
            [(1, "x")], "some_id long, text string"
        ).write.parquet(wrong)
        assert run_purge(["1", "--token-store", wrong]) == 2


class TestCrossOpRecovery:
    def test_fold_heals_a_purge_crashed_before_its_marker(
        self, spark, tmp_path
    ):
        """Every maintenance op runs the ONE swap recovery over every
        op's staging/trash names, so a purge that died after moving a
        leaf aside (no commit marker) is rolled back by the next
        ``compact_ingest_store`` — not only by a second purge. The
        moved-aside rows come back and are then folded; the staged
        rewrite that never committed is discarded."""
        import shutil

        from s3_access_logs_spark.streaming import compact_ingest_store

        store = str(tmp_path / "digests")
        spark.createDataFrame(
            [(i, f"d{i}", i % 3) for i in range(12)],
            "keep_id long, digest string, batch_id int",
        ).write.partitionBy("batch_id").parquet(store)
        # crash state: batch 1 rewritten into staging without keep_id 1,
        # its live leaf moved under _purge_trash, marker never stamped
        (
            spark.read.parquet(store)
            .filter("batch_id = 1 AND keep_id != 1")
            .write.partitionBy("batch_id")
            .parquet(f"{store}/_purge_staging")
        )
        os.makedirs(f"{store}/_purge_trash")
        shutil.move(
            f"{store}/batch_id=1", f"{store}/_purge_trash/batch_id=1"
        )
        res = compact_ingest_store(spark, store, keep_recent=0)
        assert res["folded"] == [0, 1, 2]
        back = spark.read.parquet(store).collect()
        assert sorted(r.keep_id for r in back) == list(range(12))
        assert {r.batch_id for r in back} == {-1}
        assert sorted(
            d for d in os.listdir(store) if not d.startswith(".")
        ) == ["_SUCCESS", "batch_id=-1"]
