"""End-to-end ETL tests: read -> parse -> partitioned write -> pruned read
(reference job semantics, cmd/export.py main)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from s3_access_logs_spark.operators.etl import export_hour, read_parsed, write_logs
from s3_access_logs_spark.operators.parse import parse_logs
from s3_access_logs_spark.schema import PARTITION_COLS
from s3_access_logs_spark.sources.logs import read_logs
from tests.test_parse import AWS_DOC_LINE


@pytest.fixture()
def log_dir(tmp_path):
    lines_h0 = [
        AWS_DOC_LINE,
        AWS_DOC_LINE.replace("REST.GET.VERSIONING", "REST.PUT.OBJECT"),
        AWS_DOC_LINE.replace("awsexamplebucket1 ", "otherbucket ", 1),
    ]
    lines_h1 = [AWS_DOC_LINE.replace("00:00:38", "01:02:03")]
    (tmp_path / "2019-02-06-00-00-38-AAAA").write_text("\n".join(lines_h0) + "\n")
    (tmp_path / "2019-02-06-01-02-03-BBBB").write_text("\n".join(lines_h1) + "\n")
    return str(tmp_path)


class TestReadLogs:
    def test_hour_glob_prunes_files(self, spark, log_dir):
        assert read_logs(spark, log_dir, hour="2019-02-06-00").count() == 3
        assert read_logs(spark, log_dir, hour="2019-02-06-01").count() == 1
        assert read_logs(spark, log_dir).count() == 4

    def test_file_info_columns(self, spark, log_dir):
        df = read_logs(spark, log_dir, hour="2019-02-06-00", with_file_info=True)
        row = df.select("source_file", "file_dt").first()
        assert row.source_file == "2019-02-06-00-00-38-AAAA"
        assert row.file_dt.strftime("%Y-%m-%d %H:%M:%S") == "2019-02-06 00:00:38"


class TestWriteLogs:
    def test_hive_layout_and_partition_col_drop(self, spark, log_dir, tmp_path):
        dst = str(tmp_path / "out")
        parsed = parse_logs(read_logs(spark, log_dir))
        write_logs(parsed, dst)
        # hive dirs for every partition column, in order
        leaf = None
        for root, dirs, files in os.walk(dst):
            if any(f.endswith(".parquet") for f in files):
                leaf = root
                break
        assert leaf is not None
        rel = os.path.relpath(leaf, dst)
        got_cols = [seg.split("=")[0] for seg in rel.split(os.sep)]
        assert got_cols == list(PARTITION_COLS)
        # partition cols live in dir names, not in the data files
        # (reference: s3access/parquet.py:50-61)
        import pyarrow.parquet as pq

        f = next(
            os.path.join(r, x)
            for r, _, fs in os.walk(dst)
            for x in fs
            if x.endswith(".parquet")
        )
        file_cols = set(pq.read_schema(f).names)
        assert not (file_cols & set(PARTITION_COLS))
        # snappy compression (reference: cmd/export.py:145)
        meta = pq.ParquetFile(f).metadata.row_group(0).column(0)
        assert meta.compression == "SNAPPY"

    def test_roundtrip_values(self, spark, log_dir, tmp_path):
        dst = str(tmp_path / "out")
        parsed = parse_logs(read_logs(spark, log_dir))
        write_logs(parsed, dst)
        back = read_parsed(spark, dst)
        assert back.count() == 4
        row = back.filter(F.col("operation") == "REST.PUT.OBJECT").first()
        assert row.remoteip_int == 3221225987
        assert row.ts == 1549411238
        assert row.bucket_name == "awsexamplebucket1"

    def test_idempotent_hour_rerun(self, spark, log_dir, tmp_path):
        dst = str(tmp_path / "out")
        n1 = export_hour(spark, log_dir, dst, hour="2019-02-06-00")
        n2 = export_hour(spark, log_dir, dst, hour="2019-02-06-00")
        assert n1 == n2 == 3
        assert read_parsed(spark, dst).count() == 3  # no dup rows

    def test_hour_without_files_writes_nothing(self, spark, log_dir, tmp_path):
        dst = tmp_path / "out"
        assert export_hour(spark, log_dir, str(dst), hour="2019-02-06-05") == 0
        assert not dst.exists() or not [p for p in dst.iterdir() if p.is_dir()]

    def test_hot_partition_salting_spreads_files(self, spark, tmp_path):
        # files_per_partition > 1: one hot bucket x op x hour partition is
        # split across multiple writer tasks/files (straggler mitigation);
        # content is unchanged and the layout stays a valid hive dir.
        lines = [
            AWS_DOC_LINE.replace("user/alice", f"user/u{i:04d}")
            for i in range(200)
        ]
        src = tmp_path / "src"
        src.mkdir()
        (src / "2019-02-06-00-00-38-AAAA").write_text("\n".join(lines) + "\n")
        dst = str(tmp_path / "out")
        parsed = parse_logs(read_logs(spark, str(src)))
        # at production sizes AQE keeps the salted splits apart (they exceed
        # the advisory partition size); at 200 test rows it would coalesce
        # them back into one task, hiding the very thing under test
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            write_logs(parsed, dst, files_per_partition=4)
        finally:
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", "true"
            )
        files = [
            os.path.join(r, f)
            for r, _, fs in os.walk(dst)
            for f in fs
            if f.endswith(".parquet")
        ]
        assert len(files) > 1  # hot partition split across writers
        assert read_parsed(spark, dst).count() == 200

    def test_partition_pruned_read(self, spark, log_dir, tmp_path):
        dst = str(tmp_path / "out")
        export_hour(spark, log_dir, dst)
        pruned = read_parsed(spark, dst).filter(
            (F.col("hour") == 1) & (F.col("bucket_name") == "awsexamplebucket1")
        )
        assert pruned.count() == 1
        # the physical plan must carry partition filters (pruning, not scan)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan and "hour" in plan


class TestReferenceFilenames:
    """Deterministic per-partition file names, byte-parity with the
    reference's ``partition_filename_cb`` (cmd/export.py:147): the
    partition VALUES joined by '-' + '.parquet', one data file per
    bucket x op x hour dir (SURVEY §7 hard-part 3, closed round 4)."""

    @staticmethod
    def _leaf_files(dst):
        out = {}
        for r, _, fs in os.walk(dst):
            pq_files = [f for f in fs if f.endswith(".parquet")]
            if pq_files:
                out[os.path.relpath(r, dst)] = sorted(pq_files)
        return out

    def test_one_reference_named_file_per_partition(
        self, spark, log_dir, tmp_path
    ):
        dst = str(tmp_path / "out")
        parsed = parse_logs(read_logs(spark, log_dir))
        write_logs(parsed, dst, reference_filenames=True)
        leaves = self._leaf_files(dst)
        assert leaves  # at least one partition written
        for rel, files in leaves.items():
            values = [seg.split("=", 1)[1] for seg in rel.split(os.sep)]
            assert files == ["-".join(values) + ".parquet"]
        # data unaffected by the rename pass
        back = read_parsed(spark, dst)
        assert back.count() == 4
        assert back.filter(F.col("operation") == "REST.PUT.OBJECT").count() == 1

    def test_rerun_and_second_pass_are_noops(self, spark, log_dir, tmp_path):
        from s3_access_logs_spark.operators.etl import (
            apply_reference_filenames,
        )

        dst = str(tmp_path / "out")
        parsed = parse_logs(read_logs(spark, log_dir))
        write_logs(parsed, dst, reference_filenames=True)
        first = self._leaf_files(dst)
        # rerun the whole hour: dynamic overwrite replaces the partitions,
        # names converge to the same layout
        write_logs(parsed, dst, reference_filenames=True)
        assert self._leaf_files(dst) == first
        # an extra rename pass finds nothing to do
        assert apply_reference_filenames(spark, dst) == 0

    def test_multi_file_partitions_get_stable_suffixes(self, spark, tmp_path):
        dst = str(tmp_path / "out")
        rows = [("b", "REST.GET.OBJECT", 2019, 2, 6, 0, i) for i in range(50)]
        df = spark.createDataFrame(
            rows, "bucket_name string, operation string, year int, "
            "month int, day int, hour int, v int"
        )
        write_logs(df, dst, max_records_per_file=20, reference_filenames=True)
        (files,) = self._leaf_files(dst).values()
        stem = "b-REST.GET.OBJECT-2019-2-6-0"
        assert len(files) > 1  # maxRecordsPerFile split the partition
        assert set(files) == {f"{stem}.parquet"} | {
            f"{stem}-{i:04d}.parquet" for i in range(1, len(files))
        }
        assert read_parsed(spark, dst).count() == 50

    def test_hive_escaped_values_in_filename(self, spark, tmp_path):
        dst = str(tmp_path / "out")
        df = spark.createDataFrame(
            [("buck:et", "REST GET", 2019, 2, 6, 0, 1)],
            "bucket_name string, operation string, year int, month int, "
            "day int, hour int, v int",
        )
        write_logs(df, dst, reference_filenames=True)
        (files,) = self._leaf_files(dst).values()
        # a space unescapes to the raw value (reference str(value) parity);
        # ':' must STAY encoded — Hadoop Path parses it as a URI scheme and
        # the local ChecksumFileSystem's .crc sibling rejects it outright,
        # and real bucket/operation values never contain one
        assert files == ["buck%3Aet-REST GET-2019-2-6-0.parquet"]

    def test_env_flag_and_export_hour_plumb_through(
        self, spark, log_dir, tmp_path
    ):
        from s3_access_logs_spark.config import JobConfig

        cfg = JobConfig.from_env(
            {"SRC": log_dir, "DST": str(tmp_path), "REFERENCE_FILENAMES": "1"}
        )
        assert cfg.reference_filenames is True
        dst = str(tmp_path / "out")
        export_hour(
            spark, log_dir, dst, hour="2019-02-06-00",
            reference_filenames=True,
        )
        for rel, files in self._leaf_files(dst).items():
            values = [seg.split("=", 1)[1] for seg in rel.split(os.sep)]
            assert files == ["-".join(values) + ".parquet"]

    def test_append_mode_never_loses_files(self, spark, tmp_path):
        dst = str(tmp_path / "out")
        schema = (
            "bucket_name string, operation string, year int, month int, "
            "day int, hour int, v int"
        )
        df1 = spark.createDataFrame(
            [("b", "REST.GET.OBJECT", 2019, 2, 6, 0, 1)], schema
        )
        df2 = spark.createDataFrame(
            [("b", "REST.GET.OBJECT", 2019, 2, 6, 0, 2)], schema
        )
        write_logs(df1, dst, reference_filenames=True)
        write_logs(df2, dst, mode="append", reference_filenames=True)
        (files,) = self._leaf_files(dst).values()
        stem = "b-REST.GET.OBJECT-2019-2-6-0"
        assert files == [f"{stem}-0001.parquet", f"{stem}.parquet"]
        assert read_parsed(spark, dst).count() == 2  # both rows survive


class TestCliContract:
    """Env-var entry point parity (reference cmd/export.py main)."""

    def test_previous_hour_default(self):
        from datetime import datetime, timezone

        from s3_access_logs_spark.config import previous_hour

        now = datetime(2019, 2, 6, 0, 30, tzinfo=timezone.utc)
        assert previous_hour(now) == "2019-02-05-23"

    def test_config_from_env_and_endpoint_fallback(self):
        from s3_access_logs_spark.config import JobConfig

        cfg = JobConfig.from_env(
            {"SRC": "/in/", "DST": "/out/", "HOUR": "2019-02-06-00",
             "OUTPUT_S3_ENDPOINT": "https://s3-fips.us-gov-west-1.amazonaws.com"}
        )
        assert cfg.src == "/in" and cfg.dst == "/out"  # trailing / normalized
        # reference bug compat: input endpoint falls back to the output var
        assert cfg.input_endpoint == cfg.output_endpoint

    def test_cli_runs_and_tracking_gate_skips(self, spark, log_dir, tmp_path):
        from s3_access_logs_spark.cli import main

        dst, trk = tmp_path / "out", tmp_path / "tracking"
        env = {"SRC": str(log_dir), "DST": str(dst),
               "TRACKING_DST": str(trk), "HOUR": "2019-02-06-00"}
        assert main(env) == 0
        assert read_parsed(spark, str(dst)).count() == 3
        marker = trk / "2019-02-06-00"
        assert marker.exists() and "3 rows" in marker.read_text()
        # second run hits the gate: no-op, still exit 0
        marker.write_text("sentinel")
        assert main(env) == 0
        assert marker.read_text() == "sentinel"  # untouched -> gate fired

    def test_cli_empty_hour_exits_zero(self, log_dir, tmp_path):
        from s3_access_logs_spark.cli import main

        env = {"SRC": str(log_dir), "DST": str(tmp_path / "o"),
               "HOUR": "2030-01-01-00"}
        assert main(env) == 0

    def test_preflight_missing_src_exits_nonzero(self, tmp_path):
        # reference preflight parity (cmd/export.py:346-360): a source that
        # cannot be listed/read fails fast with exit 1, before any export
        from s3_access_logs_spark.cli import main

        env = {"SRC": str(tmp_path / "does-not-exist"),
               "DST": str(tmp_path / "o"), "HOUR": "2019-02-06-00"}
        assert main(env) == 1

    def test_preflight_unwritable_dst_exits_nonzero(self, log_dir, tmp_path):
        # reference preflight parity (cmd/export.py:362-376): the DST
        # write/delete probe fails -> exit 1, and no partial export happens.
        # (chmod can't make a dir unwritable for root, so the blocker is a
        # plain FILE where a parent directory is required)
        from s3_access_logs_spark.cli import main

        blocker = tmp_path / "blocker"
        blocker.write_text("i am a file, not a directory")
        env = {"SRC": str(log_dir), "DST": str(blocker / "out"),
               "HOUR": "2019-02-06-00"}
        assert main(env) == 1
        assert blocker.read_text() == "i am a file, not a directory"

    def test_timeout_parsed_from_env(self):
        from s3_access_logs_spark.config import JobConfig

        assert JobConfig.from_env({"SRC": "/i", "DST": "/o"}).timeout == 300
        assert (
            JobConfig.from_env(
                {"SRC": "/i", "DST": "/o", "TIMEOUT": "7"}
            ).timeout == 7
        )

    def test_timeout_kills_long_export(
        self, spark, log_dir, tmp_path, monkeypatch
    ):
        # TIMEOUT parity (reference export.py:259 + wg.py:27-31): the
        # watchdog cancels the running Spark jobs at the deadline and the
        # CLI exits 1 instead of hanging the cron slot.
        import time

        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        from s3_access_logs_spark import cli

        def slow_export(spark_, src, dst, hour=None, **kw):
            sleeper = F.udf(lambda x: time.sleep(60) or x, LongType())
            # sum (not count) so column pruning can't drop the sleeping UDF
            return (
                spark_.range(4, numPartitions=4)
                .select(sleeper("id").alias("id"))
                .agg(F.sum("id"))
                .collect()[0][0]
            )

        monkeypatch.setattr(cli, "export_hour", slow_export)
        env = {"SRC": str(log_dir), "DST": str(tmp_path / "o"),
               "HOUR": "2019-02-06-00", "TIMEOUT": "3"}
        t0 = time.monotonic()
        assert cli.main(env) == 1
        assert time.monotonic() - t0 < 45  # killed, not run to completion


class TestEnsureSplits:
    def test_small_file_untouched_big_single_rowgroup_split(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from s3_access_logs_spark.sources.tables import load_table

        sf_dir = str(tmp_path)
        # small dim-sized file: remediation must NOT fire
        small = pa.table({"r_regionkey": list(range(5))})
        pq.write_table(small, f"{sf_dir}/region.parquet")
        assert (
            load_table(spark, sf_dir, "region").rdd.getNumPartitions() == 1
        )
        # >512 KiB single-row-group file: scans as ONE task without the
        # remediation; with it, the session's full parallelism
        big = pa.table({"doc_id": list(range(200_000)),
                        "text": [f"t{i}" * 4 for i in range(200_000)]})
        pq.write_table(big, f"{sf_dir}/documents.parquet", row_group_size=1_000_000)
        assert pq.ParquetFile(f"{sf_dir}/documents.parquet").metadata.num_row_groups == 1
        df = load_table(spark, sf_dir, "documents")
        assert (
            df.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
        assert load_table(
            spark, sf_dir, "documents", parallelize=False
        ).rdd.getNumPartitions() < spark.sparkContext.defaultParallelism


class TestQueryCli:
    def test_list_and_unknown(self, capsys):
        from s3_access_logs_spark.cli import run_query

        assert run_query(["list"]) == 0
        names = capsys.readouterr().out.split()
        # 116 = 97 granular + 19 folds (round 13 added
        # bpe_gpt2_byte_tokens + the suite_tokenizer_lifecycle fold —
        # driver surface 50 -> 49; round 12 added
        # store_preflight_report, standalone; round 11 added
        # packed_window_spans, packed_padded_windows, vocab_fit_report,
        # window_fill_report, sql_preflight_gate — all folded)
        assert "q1_pricing_summary" in names and len(names) == 116
        assert run_query(["no_such_query"]) == 2


class TestExportTrainingCli:
    """`export-training` subcommand (round 11, VERDICT r10 item 4):
    the one-call corpus→shards flagship from the command line."""

    def _write_docs(self, spark, path, n=40):
        rows = [
            (i, f"cli export document {i} with plenty of words " * 3,
             f"src{i % 2}")
            for i in range(n)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.parquet(path)

    def test_exports_and_prints_waterfall(self, spark, tmp_path, caplog):
        import logging

        from s3_access_logs_spark.cli import run_export_training

        caplog.set_level(logging.INFO, logger="s3_access_logs_spark")
        src = str(tmp_path / "docs.parquet")
        dst = str(tmp_path / "shards")
        self._write_docs(spark, src)
        rc = run_export_training(
            [src, dst, "--shards", "2", "--window", "32",
             "--epoch", "epoch1:"]
        )
        assert rc == 0
        got = spark.read.parquet(dst)
        assert got.count() > 0
        assert sorted(got.columns) == ["ids", "shard", "window_idx"]
        # the artifact equals the library call under the same knobs
        from s3_access_logs_spark.operators.export import (
            export_training_set,
        )

        want, _ = export_training_set(
            spark.read.parquet(src), str(tmp_path / "lib"),
            n_shards=2, window_ids=32, order_salt="epoch1:",
        )
        key = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        assert key(got) == key(want)
        assert "windows" in caplog.text  # waterfall + summary printed

    def test_sf_dir_source_and_flags(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_export_training

        sf = tmp_path / "sf"
        sf.mkdir()
        self._write_docs(spark, str(sf / "documents.parquet"), 20)
        rc = run_export_training(
            [str(sf), str(tmp_path / "out"), "--min-quality", "0.0",
             "--mixture-alpha", "0.9", "--pad-id", "200"]
        )
        assert rc == 0
        got = spark.read.parquet(str(tmp_path / "out"))
        # pad-id: static shapes everywhere (default window 256)
        assert got.filter("size(ids) <> 256").count() == 0

    def test_usage_errors_exit_2(self, tmp_path):
        from s3_access_logs_spark.cli import run_export_training

        assert run_export_training([]) == 2
        assert run_export_training(["one_positional"]) == 2
        assert run_export_training(["a", "b", "--frobnicate", "1"]) == 2
        assert run_export_training(["a", "b", "--shards"]) == 2
        assert run_export_training(["a", "b", "--shards", "x"]) == 2
        # a flag where a value belongs is "needs a value", not a value
        # (ADVICE r11: '--epoch --spans' must not use '--spans' as the
        # salt) — for string-typed flags too
        assert run_export_training(["a", "b", "--epoch", "--shards"]) == 2
        assert run_export_training(["a", "b", "--shards", "--epoch"]) == 2

    def test_colliding_pad_id_exits_2(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_export_training

        src = str(tmp_path / "docs.parquet")
        self._write_docs(spark, src, 5)
        assert run_export_training(
            [src, str(tmp_path / "o"), "--pad-id", "0"]
        ) == 2

    def test_zero_survivors_exits_3(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_export_training

        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, ""), (2, None)], "doc_id long, text string"
        ).write.parquet(src)
        rc = run_export_training([src, str(tmp_path / "out")])
        assert rc == 3


class TestTokenStoreCli:
    """`token-store` + `repack-epoch` subcommands (round 11): the
    multi-epoch story at the operational layer."""

    def test_store_then_two_epochs_match_direct_export(
        self, spark, tmp_path
    ):
        from s3_access_logs_spark.cli import (
            run_export_training,
            run_repack_epoch,
            run_token_store,
        )

        src = str(tmp_path / "docs.parquet")
        rows = [
            (i, f"token store cli document {i} many words here " * 2)
            for i in range(30)
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).write.parquet(src)
        store = str(tmp_path / "store")
        assert run_token_store([src, store, "--shards", "2"]) == 0
        key = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        for salt in ("e1:", "e2:"):
            dst = str(tmp_path / f"re_{salt.rstrip(':')}")
            assert run_repack_epoch(
                [store, dst, "--window", "32", "--shards", "2",
                 "--epoch", salt]
            ) == 0
            ref = str(tmp_path / f"ex_{salt.rstrip(':')}")
            assert run_export_training(
                [src, ref, "--window", "32", "--shards", "2",
                 "--epoch", salt]
            ) == 0
            assert key(spark.read.parquet(dst)) == key(
                spark.read.parquet(ref)
            ), salt

    def test_usage_and_empty_store_exits(self, spark, tmp_path):
        from s3_access_logs_spark.cli import (
            run_repack_epoch,
            run_token_store,
        )

        assert run_token_store(["only_one"]) == 2
        assert run_token_store(["a", "b", "--bogus", "1"]) == 2
        assert run_repack_epoch(["a"]) == 2
        assert run_repack_epoch(["a", "b", "--window"]) == 2
        assert run_repack_epoch(["a", "b", "--mixture-alpha", "x"]) == 2
        # empty/missing store is exit 3 (operational, not usage)
        assert run_repack_epoch(
            [str(tmp_path / "nowhere"), str(tmp_path / "out")]
        ) == 3
        # zero survivors through the store path is exit 3 too
        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, ""), (2, None)], "doc_id long, text string"
        ).write.parquet(src)
        assert run_token_store([src, str(tmp_path / "s")]) == 3

    def test_mixture_alpha_flag_matches_library(self, spark, tmp_path):
        """CLI `repack-epoch --mixture-alpha` == repack_epoch(mixture=)
        bit-for-bit; a sourceless store under the flag exits 2."""
        from s3_access_logs_spark.cli import (
            run_repack_epoch,
            run_token_store,
        )
        from s3_access_logs_spark.operators.export import repack_epoch

        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(i, f"document {i} words of text", f"s{i % 2}")
             for i in range(40)],
            "doc_id long, text string, source string",
        ).write.parquet(src)
        store = str(tmp_path / "store")
        assert run_token_store([src, store, "--shards", "2"]) == 0
        dst = str(tmp_path / "cli_out")
        assert run_repack_epoch(
            [store, dst, "--window", "16", "--shards", "2",
             "--epoch", "ep1:", "--mixture-alpha", "0.5"]
        ) == 0
        want = repack_epoch(
            spark, store, str(tmp_path / "lib_out"), window_ids=16,
            n_shards=2, order_salt="ep1:", mixture={"alpha": 0.5},
        )
        key = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        assert key(spark.read.parquet(dst)) == key(want)
        # sourceless store + the flag is usage-class exit 2
        src2 = str(tmp_path / "plain.parquet")
        spark.createDataFrame(
            [(i, f"plain doc {i} text") for i in range(10)],
            "doc_id long, text string",
        ).write.parquet(src2)
        store2 = str(tmp_path / "store2")
        assert run_token_store([src2, store2, "--shards", "2"]) == 0
        assert run_repack_epoch(
            [store2, str(tmp_path / "x"), "--mixture-alpha", "0.5"]
        ) == 2

    def test_spans_and_pad_flags(self, spark, tmp_path):
        from s3_access_logs_spark.cli import (
            run_repack_epoch,
            run_token_store,
        )

        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(i, f"pad flag doc {i} words") for i in range(10)],
            "doc_id long, text string",
        ).write.parquet(src)
        store = str(tmp_path / "store")
        assert run_token_store([src, store]) == 0
        dst = str(tmp_path / "win")
        assert run_repack_epoch(
            [store, dst, "--window", "16", "--pad-id", "500", "--spans"]
        ) == 0
        got = spark.read.parquet(dst)
        assert "doc_spans" in got.columns
        assert got.filter("size(ids) <> 16").count() == 0


class TestPreflightCli:
    """`preflight <src-or-store>` (round 12): the gate at the
    operational layer — exit 0 under the threshold, exit 3 when any
    source's unk_flag fires, exit 2 on usage."""

    def test_store_mode_gate_and_exit_codes(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_preflight
        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )
        from s3_access_logs_spark.plans.text_queries import _fit_merges

        docs = spark.createDataFrame(
            [(i, f"document {i} plain words here", f"s{i % 2}")
             for i in range(30)],
            "doc_id long, text string, source string",
        )
        store = str(tmp_path / "store")
        # 40-merge table -> real non-zero unk rate, but well under 0.25
        write_token_store(docs, store, n_shards=2, merges=_fit_merges())
        assert run_preflight([store]) == 0
        # a hair-trigger threshold fires the gate
        assert run_preflight(
            [store, "--unk-threshold", "0.0001"]
        ) == 3
        # usage errors
        assert run_preflight([]) == 2
        assert run_preflight([store, "--unk-threshold"]) == 2
        assert run_preflight([store, "--bogus", "1"]) == 2
        assert run_preflight([str(tmp_path / "nowhere")]) == 2

    def test_corpus_mode_routes_through_sql_gate(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_preflight

        sf = "/root/testdata/sf0.001"
        # the corpus-mode fit view's 40-merge unk rate (~6.6%) sits
        # under the default 0.25 gate and over a hair-trigger one
        assert run_preflight([sf]) == 0
        assert run_preflight([sf, "--unk-threshold", "0.0001"]) == 3
        # --window is a store-mode knob
        assert run_preflight([sf, "--window", "64"]) == 2


class TestSqlCli:
    """`sql` subcommand — the Athena-replacement entry point from the
    command line (round 8): arbitrary ANSI SQL over the registered
    warehouse views."""

    SF = "/root/testdata/sf0.001"

    def test_statement_runs_and_writes(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_sql

        out = str(tmp_path / "res")
        rc = run_sql([
            "SELECT r_name, COUNT(*) AS n FROM region "
            "JOIN nation ON n_regionkey = r_regionkey GROUP BY r_name",
            self.SF, "--no-logs", "--out", out,
        ])
        assert rc == 0
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 5 and all(r["n"] > 0 for r in rows)

    def test_logs_view_reachable_without_no_logs(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_sql

        out = str(tmp_path / "logs_res")
        rc = run_sql([
            "SELECT COUNT(*) AS n FROM logs WHERE is_user",
            self.SF, "--out", out,
        ])
        assert rc == 0
        assert spark.read.parquet(out).first()["n"] > 0

    def test_bad_sql_and_missing_statement_exit_2(self, spark):
        from s3_access_logs_spark.cli import run_sql

        assert run_sql(["SELEKT 1", self.SF, "--no-logs"]) == 2
        assert run_sql(["--no-logs"]) == 2
        assert run_sql(["SELECT 1", self.SF, "--out"]) == 2

    def test_execution_time_failure_exits_2(self, spark, tmp_path):
        """ADVICE r8: a statement that parses and analyzes but fails at
        EXECUTION (here: raise_error fires when the action runs) must
        hit the same exit-2 contract as a parse failure, not escape as
        an unhandled traceback."""
        from s3_access_logs_spark.cli import run_sql

        assert run_sql(
            ["SELECT raise_error('boom') AS x", self.SF, "--no-logs"]
        ) == 2
        assert run_sql(
            ["SELECT raise_error('boom') AS x", self.SF, "--no-logs",
             "--out", str(tmp_path / "never")]
        ) == 2


class TestTimestampLoading:
    def test_naive_micros_load_as_instant_timestamp(self, spark, tmp_path):
        """Tz-naive timestamp[us] parquet (what the driver's generator
        writes) must load as plain TIMESTAMP — stored micros = UTC
        instant, matching DuckDB epoch() — never TIMESTAMP_NTZ, which
        supports no numeric cast and breaks every epoch-seconds
        expression (r3 driver regression)."""
        import datetime as dt

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampType

        from s3_access_logs_spark.sources.tables import load_table

        d = tmp_path / "sf"
        d.mkdir()
        ts = dt.datetime(2024, 1, 1, 0, 9, 58, 778549)  # naive wall clock
        pq.write_table(
            pa.table(
                {
                    "ts": pa.array([ts], type=pa.timestamp("us")),
                    "v": pa.array([1], type=pa.int64()),
                }
            ),
            d / "events.parquet",
        )
        df = load_table(spark, str(d), "events", parallelize=False)
        assert isinstance(df.schema["ts"].dataType, TimestampType)
        epoch = df.select(F.col("ts").cast("double").alias("e")).first()["e"]
        assert abs(epoch - 1704067798.778549) < 1e-6


class TestCompaction:
    def _fragmented_table(self, spark, root):
        """3 partitions x 6 tiny files each, one hive level."""
        df = spark.range(600).select(
            (F.col("id") % 3).alias("part"),
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        df.repartition(6).write.mode("overwrite").partitionBy("part").parquet(
            root
        )

    def test_compacts_to_target_and_preserves_rows(self, spark, tmp_path):
        from s3_access_logs_spark.operators.etl import (
            compact_partitions,
            partition_file_stats,
        )

        root = str(tmp_path / "tbl")
        self._fragmented_table(spark, root)
        before = {d["partition"]: d for d in partition_file_stats(spark, root)}
        assert all(d["n_files"] == 6 for d in before.values())
        rows_before = sorted(
            map(tuple, spark.read.parquet(root).collect())
        )

        victims = compact_partitions(spark, root)  # 128 MB target -> 1 file
        assert {v["partition"] for v in victims} == set(before)
        assert all(v["target_files"] == 1 for v in victims)

        after = {d["partition"]: d for d in partition_file_stats(spark, root)}
        assert all(d["n_files"] == 1 for d in after.values())
        rows_after = sorted(map(tuple, spark.read.parquet(root).collect()))
        assert rows_after == rows_before
        assert not (tmp_path / "tbl" / "_compact_staging").exists()

    def test_rerun_is_noop_and_healthy_partitions_untouched(
        self, spark, tmp_path
    ):
        import os

        from s3_access_logs_spark.operators.etl import compact_partitions

        root = str(tmp_path / "tbl")
        self._fragmented_table(spark, root)
        compact_partitions(spark, root)
        # snapshot file mtimes, then rerun: nothing is selected or rewritten
        def snapshot():
            out = {}
            for dirpath, _, files in os.walk(root):
                for f in files:
                    if not f.startswith(("_", ".")):
                        p = os.path.join(dirpath, f)
                        out[p] = os.path.getmtime(p)
            return out

        snap = snapshot()
        assert compact_partitions(spark, root) == []
        assert snapshot() == snap

    def test_compacts_table_with_nested_map_column(self, spark, tmp_path):
        """xxhash64 rejects maps even nested inside structs/arrays — the
        deterministic salt must skip such columns recursively, not just
        top-level MapType (round-3 ADVICE finding)."""
        from s3_access_logs_spark.operators.etl import compact_partitions

        root = str(tmp_path / "tbl")
        df = spark.range(60).select(
            (F.col("id") % 2).alias("part"),
            F.col("id").alias("k"),
            F.struct(
                F.create_map(F.lit("a"), F.col("id")).alias("m"),
                F.col("id").alias("plain"),
            ).alias("meta"),
            F.array(
                F.create_map(F.lit("b"), F.col("id").cast("string"))
            ).alias("tags"),
        )
        df.repartition(4).write.mode("overwrite").partitionBy("part").parquet(
            root
        )
        rows_before = spark.read.parquet(root).count()
        victims = compact_partitions(spark, root)
        assert victims  # something was rewritten, and without raising
        assert spark.read.parquet(root).count() == rows_before

    def test_dry_run_plans_without_writing(self, spark, tmp_path):
        from s3_access_logs_spark.operators.etl import (
            compact_partitions,
            partition_file_stats,
        )

        root = str(tmp_path / "tbl")
        self._fragmented_table(spark, root)
        plan = compact_partitions(spark, root, dry_run=True)
        assert len(plan) == 3
        after = partition_file_stats(spark, root)
        assert all(d["n_files"] == 6 for d in after)


class TestCompactionRecovery:
    def test_crashed_swap_is_recovered_before_compacting(
        self, spark, tmp_path
    ):
        """Simulate a run that died between moving a partition aside and
        installing its replacement: the partition's ONLY copy sits under
        _compact_trash. The next run must restore it first — deleting the
        trash without recovery would destroy the data — then compact
        normally and clean up."""
        import shutil

        from s3_access_logs_spark.operators.etl import (
            compact_partitions,
            partition_file_stats,
        )

        root = tmp_path / "tbl"
        df = spark.range(600).select(
            (F.col("id") % 3).alias("part"),
            F.col("id").alias("k"),
        )
        df.repartition(6).write.mode("overwrite").partitionBy("part").parquet(
            str(root)
        )
        # crash window: part=2 moved aside, replacement never installed
        (root / "_compact_trash").mkdir()
        shutil.move(str(root / "part=2"), str(root / "_compact_trash" / "part=2"))
        # stale staging junk from the same crashed run
        d = root / "_compact_staging" / "part=2"
        d.mkdir(parents=True)
        (d / "part-00000.parquet").write_bytes(b"junk")

        victims = compact_partitions(spark, str(root))
        assert {v["partition"] for v in victims} == {
            "part=0", "part=1", "part=2"  # restored partition compacts too
        }
        assert spark.read.parquet(str(root)).count() == 600  # nothing lost
        after = {x["partition"]: x for x in partition_file_stats(spark, str(root))}
        assert all(x["n_files"] == 1 for x in after.values())
        assert not (root / "_compact_trash").exists()
        assert not (root / "_compact_staging").exists()

    def test_zero_padded_string_partitions_compact_exactly(
        self, spark, tmp_path
    ):
        """Partition values must match on the exact path representation:
        a string column holding '01' must not be type-inferred into int 1
        (whose string cast would match nothing and silently empty the
        rewrite)."""
        from s3_access_logs_spark.operators.etl import (
            compact_partitions,
            partition_file_stats,
        )

        root = str(tmp_path / "tbl")
        df = spark.range(300).select(
            F.format_string("%02d", (F.col("id") % 3)).alias("part"),
            F.col("id").alias("k"),
        )
        df.repartition(5).write.mode("overwrite").partitionBy("part").parquet(
            root
        )
        before = sorted(map(tuple, spark.read.parquet(root).collect()))
        victims = compact_partitions(spark, root)
        assert {v["partition"] for v in victims} == {
            "part=00", "part=01", "part=02"
        }
        after = {d["partition"]: d for d in partition_file_stats(spark, root)}
        assert set(after) == {"part=00", "part=01", "part=02"}
        assert all(d["n_files"] == 1 for d in after.values())
        assert sorted(map(tuple, spark.read.parquet(root).collect())) == before


class TestJsonlCorpus:
    def test_corrupt_lines_quarantined_not_dropped(self, spark, tmp_path):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from s3_access_logs_spark.sources.corpus import (
            ingest_report,
            read_jsonl_corpus,
            split_corrupt,
        )

        f = tmp_path / "dump.jsonl"
        f.write_text(
            '{"doc_id": 1, "text": "good one"}\n'
            '{"doc_id": 2, "text": "also fine"}\n'
            "{truncated nonsense\n"
            '{"doc_id": "not-a-number", "text": 3}\n'
        )
        schema = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
            ]
        )
        df = read_jsonl_corpus(spark, str(f), schema)
        rep = ingest_report(df)
        assert rep["rows"] == 4 and rep["corrupt"] == 2
        assert abs(rep["corrupt_pct"] - 50.0) < 1e-9
        clean, quarantine = split_corrupt(df)
        assert sorted(r.doc_id for r in clean.collect()) == [1, 2]
        q = quarantine.collect()
        assert len(q) == 2
        assert all(r.raw_line and "dump.jsonl" in r.source_file for r in q)


class TestCompactionPathEncoding:
    def test_escaped_chars_and_null_partitions_match(self, spark, tmp_path):
        """Partition values that don't round-trip trivially through hive
        paths: ':' is %-escaped in the dir name, and NULL becomes the
        __HIVE_DEFAULT_PARTITION__ sentinel. The victim match must hit
        both (a silent mismatch would empty the staged rewrite and fail
        the swap)."""
        from s3_access_logs_spark.operators.etl import (
            compact_partitions,
            partition_file_stats,
        )

        root = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [("ts 00:00", i) for i in range(100)]
            + [(None, 1000 + i) for i in range(100)],
            ["part", "k"],
        )
        df.repartition(5).write.mode("overwrite").partitionBy("part").parquet(
            root
        )
        before = {d["partition"]: d for d in partition_file_stats(spark, root)}
        assert len(before) == 2 and all(
            d["n_files"] == 5 for d in before.values()
        )
        rows_before = sorted(
            map(tuple, spark.read.parquet(root).collect()),
            key=repr,
        )
        victims = compact_partitions(spark, root)
        assert {v["partition"] for v in victims} == set(before)
        after = {d["partition"]: d for d in partition_file_stats(spark, root)}
        assert set(after) == set(before)
        assert all(d["n_files"] == 1 for d in after.values())
        rows_after = sorted(
            map(tuple, spark.read.parquet(root).collect()), key=repr
        )
        assert rows_after == rows_before


class TestConfigParsing:
    def test_timeout_env_fails_soft(self):
        from s3_access_logs_spark.config import JobConfig

        base = {"SRC": "/tmp/a", "DST": "/tmp/b"}
        assert JobConfig.from_env({**base}).timeout == 300
        assert JobConfig.from_env({**base, "TIMEOUT": ""}).timeout == 300
        assert JobConfig.from_env({**base, "TIMEOUT": "300s"}).timeout == 300
        assert JobConfig.from_env({**base, "TIMEOUT": "42"}).timeout == 42


class TestCliMaintenance:
    """The maintenance subcommands drive the same entry points the
    library exposes — argv parsing + exit codes are the contract."""

    def test_fold_store_cli(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from s3_access_logs_spark.cli import run_fold_store

        store = str(tmp_path / "store")
        for b in range(3):
            (
                spark.range(5)
                .select(
                    F.col("id").alias("digest"),
                    F.lit(b).alias("batch_id"),
                )
                .write.mode("append")
                .partitionBy("batch_id")
                .parquet(store)
            )
        assert run_fold_store([store, "--keep-recent", "0"]) == 0
        rows = spark.read.parquet(store)
        assert rows.count() == 15
        assert [r["batch_id"] for r in rows.select("batch_id").distinct().collect()] == [-1]

    def test_fold_store_bad_argv(self, spark, tmp_path):
        from s3_access_logs_spark.cli import run_fold_store

        assert run_fold_store([]) == 2
        assert run_fold_store(["--keep-recent"]) == 2
        assert run_fold_store(
            [str(tmp_path / "s"), "--keep-recent", "x"]
        ) == 2
