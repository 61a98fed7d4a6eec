"""Structured Streaming variant (streaming/pipeline.py): exactly-once file
ingestion, batch/stream parser parity, windowed aggs, watermark late-drop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from s3_access_logs_spark.operators.etl import read_parsed
from s3_access_logs_spark.operators.parse import parse_logs
from s3_access_logs_spark.sources.logs import read_logs
from s3_access_logs_spark.streaming import (
    hourly_rollup,
    parse_log_stream,
    read_log_stream,
    run_export_stream,
    sessionize,
)
from tests.test_parse import AWS_DOC_LINE


def at_time(hhmmss: str) -> str:
    return AWS_DOC_LINE.replace("00:00:38", hhmmss)


def write_file(path, name: str, lines: list[str]) -> None:
    (path / name).write_text("\n".join(lines) + "\n")


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "logs"
    d.mkdir()
    write_file(d, "2019-02-06-00-00-38-AAAA", [at_time("00:00:38"), at_time("00:20:00")])
    write_file(d, "2019-02-06-01-02-03-BBBB", [at_time("01:02:03")])
    return d


class TestExportStream:
    def test_end_to_end_matches_batch(self, spark, log_dir, tmp_path):
        dst, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        q = run_export_stream(spark, str(log_dir), dst, ckpt)
        q.awaitTermination(120)
        got = read_parsed(spark, dst)
        batch = parse_logs(read_logs(spark, str(log_dir)))
        assert got.count() == batch.count() == 3
        assert (
            got.select("requestid", "ts", "remoteip_int").orderBy("ts").collect()
            == batch.select("requestid", "ts", "remoteip_int").orderBy("ts").collect()
        )

    def test_exactly_once_across_restarts(self, spark, log_dir, tmp_path):
        dst, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        run_export_stream(spark, str(log_dir), dst, ckpt).awaitTermination(120)
        assert read_parsed(spark, dst).count() == 3
        # new file arrives; restart drains only the new file
        write_file(log_dir, "2019-02-06-02-00-00-CCCC", [at_time("02:30:00")])
        run_export_stream(spark, str(log_dir), dst, ckpt).awaitTermination(120)
        assert read_parsed(spark, dst).count() == 4
        # idle restart reprocesses nothing (tracking-file parity,
        # reference cmd/export.py:319-324)
        run_export_stream(spark, str(log_dir), dst, ckpt).awaitTermination(120)
        assert read_parsed(spark, dst).count() == 4


class TestWindowedAggs:
    def _run_complete(self, df, name: str):
        q = (
            df.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_hourly_rollup_matches_batch(self, spark, log_dir):
        parsed = parse_log_stream(read_log_stream(spark, str(log_dir)))
        self._run_complete(hourly_rollup(parsed), "hr_stream")
        got = {
            (r.window_start.hour, r.bucket_name, r.operation): r.n_requests
            for r in spark.table("hr_stream").collect()
        }
        batch = parse_logs(read_logs(spark, str(log_dir)), keep_native_ts=True)
        expect = {
            (r.h, r.bucket_name, r.operation): r.n
            for r in batch.groupBy(
                F.hour("ts_ts").alias("h"), "bucket_name", "operation"
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == expect and sum(got.values()) == 3

    def test_sessionize_matches_batch(self, spark, log_dir):
        parsed = parse_log_stream(read_log_stream(spark, str(log_dir)))
        self._run_complete(sessionize(parsed, gap="30 minutes"), "sess_stream")
        got = sorted(
            (r.requester, r.session_start, r.n_requests)
            for r in spark.table("sess_stream").collect()
        )
        batch = parse_logs(read_logs(spark, str(log_dir)), keep_native_ts=True)
        expect = sorted(
            (r.requester, r.session_start, r.n_requests)
            for r in sessionize(batch, gap="30 minutes").collect()
        )
        # 00:00:38 and 00:20:00 merge (gap < 30m); 01:02:03 is its own session
        assert got == expect and len(got) == 2


class TestWatermark:
    def test_late_rows_dropped_after_watermark(self, spark, tmp_path):
        """Append mode emits a window only once the watermark passes its
        end, and late rows behind the watermark never mutate it — the
        event-time correctness the reference's cron-by-arrival-file design
        lacks (a line for hour H arriving two hours late was exported
        under the wrong hour)."""
        d = tmp_path / "wm_logs"
        d.mkdir()
        out, ckpt = str(tmp_path / "wm_out"), str(tmp_path / "wm_ckpt")

        def run():
            parsed = parse_log_stream(read_log_stream(spark, str(d)))
            q = (
                hourly_rollup(parsed, watermark="1 hour")
                .writeStream.outputMode("append")
                .format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return {
                r.window_start.hour: r.n_requests
                for r in spark.read.parquet(out).collect()
            }

        # run 1: 00:10 and 03:00 -> watermark 02:00 -> hour-0 finalized
        write_file(d, "2019-02-06-00-10-00-AAAA", [at_time("00:10:00")])
        write_file(d, "2019-02-06-03-00-00-BBBB", [at_time("03:00:00")])
        assert run() == {0: 1}
        # run 2: a late row (00:20 < watermark) + an on-time row at 03:10;
        # hour-0 stays closed, hour-3 still open
        write_file(d, "2019-02-06-03-10-00-CCCC",
                   [at_time("00:20:00"), at_time("03:10:00")])
        assert run() == {0: 1}
        # run 3: 06:00 pushes the watermark past hour 3 -> emitted with
        # both on-time rows and without the dropped late row
        write_file(d, "2019-02-06-06-00-00-DDDD", [at_time("06:00:00")])
        assert run() == {0: 1, 3: 2}


class TestCustomState:
    def test_running_totals_accumulate_across_restarts(self, spark, tmp_path):
        from s3_access_logs_spark.streaming.custom_state import running_totals

        d = tmp_path / "st_logs"
        d.mkdir()
        ckpt = str(tmp_path / "st_ckpt")
        out = str(tmp_path / "st_out")

        def run(name: str):
            parsed = parse_log_stream(read_log_stream(spark, str(d)))
            q = (
                running_totals(parsed, quota_bytes=200)
                .writeStream.outputMode("update")
                .foreachBatch(
                    lambda bdf, bid: bdf.write.mode("append").parquet(out)
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            latest: dict = {}
            for r in spark.read.parquet(out).collect():
                cur = latest.get(r.requester)
                if cur is None or r.n_requests > cur[0]:
                    latest[r.requester] = (r.n_requests, r.total_bytes,
                                           r.over_quota)
            return latest

        # AWS_DOC_LINE requester sends bytessent=113 per line
        write_file(d, "2019-02-06-00-00-38-AAAA", [AWS_DOC_LINE])
        out1 = run("st_r1")
        req = next(iter(out1))
        assert out1[req] == (1, 113, False)
        # restart with a second file: state survived the restart, quota trips
        write_file(d, "2019-02-06-01-00-00-BBBB", [AWS_DOC_LINE])
        out2 = run("st_r2")
        assert out2[req] == (2, 226, True)


class TestStreamStreamJoin:
    def _line(self, hhmmss: str, op: str, key: str) -> str:
        return AWS_DOC_LINE.replace("00:00:38", hhmmss).replace(
            "REST.GET.VERSIONING -", f"{op} {key}"
        )

    def test_get_after_put_interval_join(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import correlate_reads_after_writes

        d = tmp_path / "logs"
        d.mkdir()
        write_file(
            d,
            "2019-02-06-00-00-10-AAAA",
            [
                self._line("00:00:10", "REST.PUT.OBJECT", "photo.jpg"),
                self._line("00:20:00", "REST.GET.OBJECT", "photo.jpg"),
                self._line("00:30:00", "REST.GET.OBJECT", "other.txt"),
            ],
        )
        write_file(
            d,
            "2019-02-06-02-30-00-BBBB",
            # outside the 1h horizon after the PUT -> must not match
            [self._line("02:30:00", "REST.GET.OBJECT", "photo.jpg")],
        )
        parsed = parse_log_stream(read_log_stream(spark, str(d)))
        joined = correlate_reads_after_writes(parsed, horizon="1 hour")
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName("ss_join")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = [
            (r.key, r.put_ts.strftime("%H:%M:%S"), r.get_ts.strftime("%H:%M:%S"))
            for r in spark.table("ss_join").collect()
        ]
        assert got == [("photo.jpg", "00:00:10", "00:20:00")]

    def test_batch_reuse_same_plan(self, spark, tmp_path):
        """The identical function body runs as a batch interval join
        (withWatermark is a no-op on batch inputs)."""
        from s3_access_logs_spark.streaming import correlate_reads_after_writes

        d = tmp_path / "logs"
        d.mkdir()
        write_file(
            d,
            "2019-02-06-00-00-10-AAAA",
            [
                self._line("00:00:10", "REST.PUT.OBJECT", "photo.jpg"),
                self._line("00:20:00", "REST.GET.OBJECT", "photo.jpg"),
                self._line("02:30:00", "REST.GET.OBJECT", "photo.jpg"),
            ],
        )
        batch = parse_logs(read_logs(spark, str(d)), keep_native_ts=True)
        rows = correlate_reads_after_writes(batch, horizon="1 hour").collect()
        assert [(r.key, r.requester is not None) for r in rows] == [
            ("photo.jpg", True)
        ]


class TestStreamingDedup:
    def test_redelivered_requests_deduped(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import dedup_request_stream

        d = tmp_path / "logs"
        d.mkdir()
        # one request delivered twice across files + one distinct request
        other = at_time("00:20:00").replace("3E57427F3EXAMPLE", "OTHERREQ1EXAMPLE")
        write_file(d, "2019-02-06-00-00-38-AAAA", [at_time("00:00:38"), other])
        write_file(d, "2019-02-06-00-00-38-DUPL", [at_time("00:00:38")])
        parsed = parse_log_stream(read_log_stream(spark, str(d)))
        deduped = dedup_request_stream(parsed)
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName("dedup_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(r.requestid for r in spark.table("dedup_stream").collect())
        assert got == ["3E57427F3EXAMPLE", "OTHERREQ1EXAMPLE"]


class TestIngestStream:
    def test_incremental_dedup_across_batches(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")

        def drop(name, rows):
            (src / name).write_text(
                "\n".join(json.dumps(r) for r in rows) + "\n"
            )

        drop("b1.jsonl", [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "ALPHA  beta"},   # within-batch dup of 1
            {"doc_id": 3, "text": "gamma delta"},
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        first = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert first == {1, 3}

        drop("b2.jsonl", [
            {"doc_id": 10, "text": "alpha beta"},   # already in the store
            {"doc_id": 11, "text": "epsilon zeta"},
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert {r.keep_id for r in rows} == {1, 3, 11}
        digests = [r.digest for r in rows]
        assert len(digests) == len(set(digests))  # store stays unique

    def test_duplicate_ids_fail_stream_when_gate_opted_in(
        self, spark, tmp_path
    ):
        """VERDICT r8 item 6, streaming twin: the id-uniqueness gate is
        OPT-IN here — the pipeline's own (id, digest) keys make id
        reuse well-defined (pinned by the per-(id, digest) LM-scoring
        and band-store tests), so the gate exists for feeds that
        PROMISE unique ids, where a collision is an upstream producer
        bug. Default-off drains the duplicate-id batch; opted-in fails
        the stream loudly."""
        import json

        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        (src / "b1.jsonl").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 1, "text": "alpha beta"},
                    {"doc_id": 1, "text": "a DIFFERENT text, same id"},
                ]
            )
            + "\n"
        )
        with pytest.raises(StreamingQueryException, match="duplicate doc_id"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store"),
                str(tmp_path / "ckpt"), verify_unique_ids=True,
            ).awaitTermination(120)
        # default: duplicate-id-safe drain (fresh checkpoint: the
        # failed run's offsets would otherwise replay the same batch)
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store2"),
            str(tmp_path / "ckpt2"),
        ).awaitTermination(120)
        kept = spark.read.parquet(str(tmp_path / "store2"))
        assert kept.count() == 2

    def test_ingest_with_quality_filter_and_pii_scrub(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")

        long_text = (
            "the quick brown fox jumps over the lazy dog and then "
            "it runs far away into the green forest to rest for a while"
        )
        (src / "b1.jsonl").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    # passes quality, contains an email to scrub
                    {"doc_id": 1, "text": long_text + " contact bob@example.com"},
                    # junk: one repeated token -> low quality score, dropped
                    {"doc_id": 2, "text": "zz zz zz zz"},
                    # same page crawled with a different email: after the
                    # scrub both digests match -> within-batch dedup to doc 1
                    {"doc_id": 3, "text": long_text + " contact eve@example.org"},
                ]
            )
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, min_quality=0.5, scrub_pii=True
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        # doc 2 dropped by the quality gate; docs 1 and 3 differ ONLY in
        # their email address, so keep == {1} is itself the proof the PII
        # scrub ran before digesting (unscrubbed they digest differently
        # and both would survive).
        assert {r.keep_id for r in rows} == {1}


class TestIngestBloom:
    """Bloom-gated streaming ingest: cross-batch dedup through the
    persistent filter store, write-order exactness, mid-stream
    enablement guard, backfill path."""

    @staticmethod
    def _drop(src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_bloom_gated_ingest_dedups_across_batches(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        ckpt = str(tmp_path / "ckpt")

        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "alpha beta"},
            {"doc_id": 2, "text": "ALPHA  beta"},  # within-batch dup
            {"doc_id": 3, "text": "gamma delta"},
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt,
            bloom_store=bloom, bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        assert {r.keep_id for r in spark.read.parquet(store).collect()} == {1, 3}
        # the filter store got batch 0's partition, meta rows included
        b0 = spark.read.parquet(bloom)
        assert b0.filter(F.col("word") < 0).count() == 2

        self._drop(src, "b2.jsonl", [
            {"doc_id": 10, "text": "alpha beta"},     # dup of batch 0
            {"doc_id": 11, "text": "epsilon zeta"},   # new
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt,
            bloom_store=bloom, bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert {r.keep_id for r in rows} == {1, 3, 11}
        digests = [r.digest for r in rows]
        assert len(digests) == len(set(digests))
        # every committed batch carries its filter partition
        assert (
            spark.read.parquet(bloom)
            .select("batch_id").distinct().count() == 2
        )

    def test_partial_coverage_gap_fails_loud(self, spark, tmp_path):
        # the gate ON -> OFF -> ON sequence: batches committed while the
        # gate was off have no filter partition, and re-enabling must
        # raise (an existence-only check would silently under-probe)
        import pytest

        from s3_access_logs_spark.streaming import (
            backfill_bloom_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        ckpt = str(tmp_path / "ckpt")

        self._drop(src, "b0.jsonl", [{"doc_id": 1, "text": "alpha beta"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom,
            bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        # gate OFF for batch 1
        self._drop(src, "b1.jsonl", [{"doc_id": 2, "text": "gamma delta"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        # gate back ON: batch 1's digests are invisible to the filter
        self._drop(src, "b2.jsonl", [{"doc_id": 3, "text": "GAMMA delta"}])
        q = ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom,
            bloom_num_bits=1 << 12,
        )
        with pytest.raises(Exception, match="no filter partition"):
            q.awaitTermination(120)
        # backfill repairs coverage; the replayed batch drops the dup
        backfill_bloom_store(spark, store, bloom, num_bits=1 << 12)
        ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom,
            bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert {r.keep_id for r in rows} == {1, 2}

    def test_bloom_store_survives_compaction(self, spark, tmp_path):
        # the (word, bits) representation is union-idempotent, so folding
        # batch partitions into the base partition preserves probes
        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        ckpt = str(tmp_path / "ckpt")

        for i, text in enumerate(["alpha beta", "gamma delta", "eps zeta"]):
            self._drop(src, f"b{i}.jsonl", [{"doc_id": i * 10, "text": text}])
            ingest_documents_stream(
                spark, str(src), store, ckpt,
                bloom_store=bloom, bloom_num_bits=1 << 12,
            ).awaitTermination(120)
        assert (
            spark.read.parquet(bloom).select("batch_id").distinct().count()
            == 3
        )
        res = compact_ingest_store(spark, bloom, keep_recent=1)
        assert res["folded"] == [0, 1]
        # dups of EVERY earlier batch are still caught post-fold
        self._drop(src, "b3.jsonl", [
            {"doc_id": 90, "text": "ALPHA beta"},
            {"doc_id": 91, "text": "eps  zeta"},
            {"doc_id": 92, "text": "brand new content"},
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt,
            bloom_store=bloom, bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert {r.keep_id for r in rows} == {0, 10, 20, 92}
        assert len({r.digest for r in rows}) == 4

    def test_enabling_on_unfiltered_history_fails_loud_then_backfill(
        self, spark, tmp_path
    ):
        import pytest

        from s3_access_logs_spark.streaming import (
            backfill_bloom_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        ckpt = str(tmp_path / "ckpt")

        # batch 0: filter-less history
        self._drop(src, "b1.jsonl", [{"doc_id": 1, "text": "alpha beta"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)

        # turning the bloom on over that history must not silently ingest
        # duplicates: batch 1 fails loudly instead
        self._drop(src, "b2.jsonl", [
            {"doc_id": 2, "text": "alpha beta"},     # dup of batch 0
            {"doc_id": 20, "text": "eta theta"},     # genuinely new
        ])
        q = ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom
        )
        with pytest.raises(Exception, match="backfill_bloom_store"):
            q.awaitTermination(120)

        # backfill once, restart the SAME checkpoint: batch 1 replays
        # through the backfilled filter — the dup is flagged maybe by the
        # batch_id=-1 base partition and dropped against the store
        backfill_bloom_store(spark, store, bloom, num_bits=1 << 12)
        ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert {r.keep_id for r in rows} == {1, 20}
        assert len({r.digest for r in rows}) == 2

        # batch 2: a dup of batch 1's doc is caught through batch 1's OWN
        # filter partition (written with the backfill's parameters)
        self._drop(src, "b3.jsonl", [{"doc_id": 30, "text": "eta  THETA"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom
        ).awaitTermination(120)
        assert {
            r.keep_id for r in spark.read.parquet(store).collect()
        } == {1, 20}
        from s3_access_logs_spark.functions.bloom import _read_meta

        nb, nh, _ = _read_meta(
            spark.read.parquet(bloom).filter(F.col("word") < 0).collect()
        )
        assert nb == 1 << 12  # every partition shares the backfill sizing


class TestIngestNormalize:
    def test_unicode_variants_dedup_across_batches(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        ckpt = str(tmp_path / "ckpt")
        nfc = "café society report"
        nfd = "cafe\u0301 society report"  # e + combining acute
        moj = "cafÃ© society report"  # mojibake corpse

        (src / "b0.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": nfc}) + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, normalize_text=True
        ).awaitTermination(120)
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 2, "text": nfd}) + "\n"
            + json.dumps({"doc_id": 3, "text": moj}) + "\n"
            + json.dumps({"doc_id": 4, "text": "genuinely new"}) + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, normalize_text=True
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        # NFD and mojibake variants collapsed onto batch 0's canonical doc
        assert {r.keep_id for r in rows} == {1, 4}
        assert all("Ã" not in r.text for r in rows)  # stored text clean


class TestIngestNearDup:
    def test_near_dup_gate_drops_edited_recrawl(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")

        base = (
            "the quick brown fox jumps over the lazy dog and then it runs "
            "far away into the deep green forest to rest for a long while"
        )
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": base}) + "\n"
        )
        ckpt = str(tmp_path / "ckpt_nd")
        ingest_documents_stream(
            spark, str(src), store, ckpt, band_store=bands
        ).awaitTermination(120)
        assert {r.keep_id for r in spark.read.parquet(store).collect()} == {1}
        assert spark.read.parquet(bands).count() == 4  # 4 bands per doc

        # batch 2: an edited re-crawl (different digest, same shingle mass)
        # plus a genuinely new doc
        (src / "b2.jsonl").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 10, "text": base + " minor footer edit"},
                    {
                        "doc_id": 11,
                        "text": "completely unrelated fresh content about "
                        "cooking pasta with garlic and olive oil tonight",
                    },
                ]
            )
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, band_store=bands
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert kept == {1, 11}  # 10 caught by the band store, not digests
        band_ids = {r.id for r in spark.read.parquet(bands).collect()}
        assert band_ids == {1, 11}  # dropped near-dup leaves no bands


class TestIngestSemanticGate:
    """Round 8 (VERDICT r7 item 3): the streaming semantic near-dup
    gate — batch/stream parity for curate_corpus's SemDeDup stage. A
    paraphrased re-crawl (different digest, different shingles, same
    meaning) passes the digest and band gates; only the embedding gate
    catches it."""

    DIMS = 64

    @classmethod
    def _vec(cls, axis, noise=0.0):
        v = [0.0] * cls.DIMS
        v[axis] = 1.0
        if noise:
            v[(axis + 1) % cls.DIMS] = noise
        return v

    @classmethod
    def _cents(cls, spark):
        return spark.createDataFrame(
            [(0, cls._vec(0)), (1, cls._vec(1))],
            "label int, centroid array<double>",
        )

    def test_dims_mismatch_fails_loud_not_silent_noop(self, spark, tmp_path):
        """ADVICE r8 (medium): semantic_dims that disagrees with the
        centroid vectors would make well_formed_vector filter EVERY
        embedding out — every doc passes un-probed and is never indexed
        while the caller believes the gate is on. The gate now derives
        dims from the materialized centroids and raises on an explicit
        mismatch, and on a mixed-length centroid table."""
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        kw = dict(
            semantic_index=str(tmp_path / "ivf"),
            semantic_centroids=self._cents(spark),
            semantic_embeddings=spark.createDataFrame(
                [(1, self._vec(0))], "doc_id long, embedding array<double>"
            ),
        )
        with pytest.raises(ValueError, match="silently filter"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store"),
                str(tmp_path / "ckpt"), semantic_dims=32, **kw
            )
        mixed = spark.createDataFrame(
            [(0, self._vec(0)), (1, [1.0, 0.0])],
            "label int, centroid array<double>",
        )
        kw["semantic_centroids"] = mixed
        with pytest.raises(ValueError, match="mixed vector lengths"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store2"),
                str(tmp_path / "ckpt2"), **kw
            )

    def test_semantic_dup_caught_across_batches(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        idx = str(tmp_path / "ivf")
        cents = self._cents(spark)
        emb = spark.createDataFrame(
            [
                (1, self._vec(0, 0.01)),
                (20, self._vec(0, 0.02)),  # cosine ~0.9996 to doc 1
                (21, self._vec(1)),        # orthogonal: genuinely new
                # doc 22 intentionally ABSENT: no embedding -> passes
                # un-probed, never indexed
            ],
            "doc_id long, embedding array<double>",
        )
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": "the original essay about "
                        "climate change impacts on coastal cities"}) + "\n"
        )
        kw = dict(
            semantic_index=idx,
            semantic_centroids=cents,
            semantic_embeddings=emb,
            semantic_threshold=0.9,
        )
        ckpt = str(tmp_path / "ckpt")
        ingest_documents_stream(
            spark, str(src), store, ckpt, **kw
        ).awaitTermination(120)
        assert {r.keep_id for r in spark.read.parquet(store).collect()} == {1}
        stored = spark.read.parquet(idx)
        assert {r.neighbor_id for r in stored.collect()} == {1}

        # batch 2: 20 is a PARAPHRASE of 1 (no shared text, same
        # meaning = near-identical embedding), 21 is new, 22 has no
        # embedding at all
        (src / "b2.jsonl").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 20, "text": "a fully reworded piece on how "
                     "rising seas threaten shoreline metropolises"},
                    {"doc_id": 21, "text": "unrelated fresh content about "
                     "cooking pasta with garlic and olive oil"},
                    {"doc_id": 22, "text": "doc with no embedding row in "
                     "the side table at all"},
                ]
            )
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, **kw
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert kept == {1, 21, 22}  # 20 caught ONLY by the semantic gate
        idx_ids = {r.neighbor_id for r in spark.read.parquet(idx).collect()}
        assert idx_ids == {1, 21}  # dropped dup and no-embedding doc absent

    def test_replay_after_index_append_does_not_self_collide(
        self, spark, tmp_path
    ):
        """Crash window: the first attempt of batch 0 committed its doc
        partition AND appended to the IVF index, but the checkpoint
        never committed. The replay probes an index that already holds
        the batch's own vectors — without the current-batch id
        exclusion every document would vanish (and dynamic partition
        overwrite would then EMPTY the committed partition)."""
        import json

        from s3_access_logs_spark.operators.dedup import normalized_digest
        from s3_access_logs_spark.operators.similarity import build_ivf_index
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        idx = str(tmp_path / "ivf")
        cents = self._cents(spark)
        text = "a one of a kind document that must survive the replay"
        emb = spark.createDataFrame(
            [(1, self._vec(0, 0.01))], "doc_id long, embedding array<double>"
        )
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": text}) + "\n"
        )
        # fabricate the crashed attempt: doc partition + index entry
        doc_df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        doc_df.select(
            normalized_digest(F.col("text")).alias("digest"),
            F.col("doc_id").alias("keep_id"),
            F.col("text"),
            F.lit(0).alias("batch_id"),
        ).write.partitionBy("batch_id").parquet(store)
        build_ivf_index(
            emb.withColumnRenamed("doc_id", "vec_id"), idx, centroids=cents
        )
        # fresh checkpoint -> this run IS batch 0, the replay
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            semantic_index=idx, semantic_centroids=cents,
            semantic_embeddings=emb, semantic_threshold=0.9,
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert kept == {1}  # survived its own crashed attempt's vector
        # skip_existing: the replayed append added nothing
        assert spark.read.parquet(idx).count() == 1

    def test_partial_semantic_gate_fails_loud(self, spark, tmp_path):
        import pytest

        from s3_access_logs_spark.streaming import ingest_documents_stream

        with pytest.raises(ValueError, match="passed together"):
            ingest_documents_stream(
                spark, str(tmp_path / "in"), str(tmp_path / "s"),
                str(tmp_path / "c"), semantic_index=str(tmp_path / "ivf"),
            )


class TestIngestStoreMaintenance:
    def test_compact_folds_history_and_near_dup_gate_still_fires(
        self, spark, tmp_path
    ):
        """VERDICT r3 item 6: the append-only stores grow one batch_id
        partition per micro-batch forever. Fold committed history into
        the base partition, then prove an edited re-crawl of a FOLDED
        batch's document is still caught by the band store."""
        import json
        import os

        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")
        ckpt = str(tmp_path / "ckpt")
        texts = {
            1: "the quick brown fox jumps over the lazy dog and then it "
            "runs far away into the deep green forest to rest a while",
            2: "completely unrelated fresh content about cooking pasta "
            "with garlic and olive oil for dinner again tonight folks",
            3: "a third totally distinct document discussing distributed "
            "query engines shuffling partitions across big clusters",
        }
        for i in (1, 2, 3):  # three separate micro-batches
            (src / f"b{i}.jsonl").write_text(
                json.dumps({"doc_id": i, "text": texts[i]}) + "\n"
            )
            ingest_documents_stream(
                spark, str(src), store, ckpt, band_store=bands
            ).awaitTermination(120)

        def part_dirs(path):
            return sorted(
                d for d in os.listdir(path) if d.startswith("batch_id=")
            )

        assert len(part_dirs(store)) == 3 and len(part_dirs(bands)) == 3
        res_s = compact_ingest_store(spark, store)
        res_b = compact_ingest_store(spark, bands)
        # keep_recent=1: batches 0,1 folded into base; newest kept intact
        assert res_s["folded"] == [0, 1] and res_s["kept"] == [2]
        assert res_b["folded"] == [0, 1]
        assert part_dirs(store) == ["batch_id=-1", "batch_id=2"]
        assert part_dirs(bands) == ["batch_id=-1", "batch_id=2"]
        # no rows lost, no duplicates introduced
        assert {r.keep_id for r in spark.read.parquet(store).collect()} == {
            1, 2, 3,
        }
        assert spark.read.parquet(bands).count() == 12  # 4 bands x 3 docs

        # batch 4: edited re-crawl of doc 1 (whose bands now live ONLY in
        # the folded base partition) + one genuinely new doc
        (src / "b4.jsonl").write_text(
            "\n".join(
                json.dumps(r)
                for r in [
                    {"doc_id": 10, "text": texts[1] + " minor footer edit"},
                    {
                        "doc_id": 11,
                        "text": "entirely new material on growing tomatoes "
                        "in small gardens with plenty of afternoon sun",
                    },
                ]
            )
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, ckpt, band_store=bands
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert kept == {1, 2, 3, 11}  # 10 caught via the FOLDED bands
        band_ids = {r.id for r in spark.read.parquet(bands).collect()}
        assert band_ids == {1, 2, 3, 11}

    def test_guards(self, spark, tmp_path):
        import pytest

        from s3_access_logs_spark.streaming import compact_ingest_store

        with pytest.raises(ValueError, match="keep_recent"):
            compact_ingest_store(spark, str(tmp_path / "s"), keep_recent=-1)
        # empty / never-written store is a no-op, not a crash
        out = compact_ingest_store(spark, str(tmp_path / "nope"))
        assert out == {"folded": [], "kept": [], "compacted": []}


class TestIngestShardHandoff:
    """Round 10 (VERDICT r9 item 8): survivors land in the training-
    shard layout the batch export writes — the streaming ingest story
    ends at the same artifact."""

    def _drop(self, src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_shard_layout_content_and_order(self, spark, tmp_path):
        import hashlib
        import os

        from s3_access_logs_spark.functions import bpe as B
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        shards = str(tmp_path / "shards")
        docs = {
            i: f"unique document number {i} with several ordinary words"
            for i in range(8)
        }
        self._drop(src, "b1.jsonl", [
            {"doc_id": i, "text": t} for i, t in docs.items()
        ])
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            shard_store=shards, n_shards=4,
        ).awaitTermination(120)
        dirs = sorted(d for d in os.listdir(shards) if d.startswith("shard="))
        assert dirs and all(d.startswith("shard=") for d in dirs)
        back = spark.read.parquet(shards)
        assert sorted(r.doc_id for r in back.collect()) == sorted(docs)
        # content: the exact demo-vocab id stream + EOS, per document
        ms = list(B.default_merges())
        vocab = B.bpe_vocab(ms)
        ids = {t: i for i, t in enumerate(vocab)}
        eos = len(vocab)
        got = {r.doc_id: list(r.ids) for r in back.collect()}
        for i, t in docs.items():
            want = [ids.get(s, -1) for s in B.bpe_encode_py(t, ms)] + [eos]
            assert got[i] == want, i
        # shard assignment is the layout module's salted hash, and
        # within a shard file rows ride the epoch permutation
        for r in back.select("doc_id", "shard").collect():
            exp = (
                int(
                    hashlib.md5(f"shards:{r.doc_id}".encode())
                    .hexdigest()[:8],
                    16,
                )
                % 4
            )
            assert r.shard == exp
        for d in dirs:
            in_file = [
                r.doc_id
                for r in spark.read.parquet(f"{shards}/{d}").collect()
            ]
            assert in_file == sorted(
                in_file,
                key=lambda i: hashlib.md5(
                    f"order:{i}".encode()
                ).hexdigest(),
            )

    def test_replayed_batch_is_append_idempotent(self, spark, tmp_path):
        """The restart/replay case: the same micro-batch re-runs (ckpt
        lost after the stores committed — the at-least-once window).
        Dynamic overwrite on the (shard, batch_id) leaves must leave
        the shard store EXACTLY as the first attempt did — no
        double-append, no phantom rows."""
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        shards = str(tmp_path / "shards")
        self._drop(src, "b1.jsonl", [
            {"doc_id": i, "text": f"replayed corpus document {i} body"}
            for i in range(6)
        ])
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt1"),
            shard_store=shards, n_shards=3,
        ).awaitTermination(120)
        first = sorted(
            (r.doc_id, r.shard, r.batch_id, tuple(r.ids))
            for r in spark.read.parquet(shards).collect()
        )
        assert len(first) == 6
        # fresh checkpoint, same source and stores -> this run IS the
        # replay of batch 0 against stores already holding its output
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt2"),
            shard_store=shards, n_shards=3,
        ).awaitTermination(120)
        second = sorted(
            (r.doc_id, r.shard, r.batch_id, tuple(r.ids))
            for r in spark.read.parquet(shards).collect()
        )
        assert second == first

    def test_pack_shard_windows_equals_batch_export(self, spark, tmp_path):
        """The whole point of the hand-off: a corpus drained through
        the STREAM (two micro-batches, arbitrary batching) and packed
        with pack_shard_windows yields bit-identical windows to the
        one-call BATCH export over the same corpus — the epoch
        permutation, not arrival order, defines the read order."""
        from s3_access_logs_spark.operators.export import (
            export_training_set,
            pack_shard_windows,
        )
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        docs = {
            i: f"distinct streaming corpus document {i} with words"
            for i in range(10)
        }
        items = list(docs.items())
        self._drop(src, "b1.jsonl", [
            {"doc_id": i, "text": t} for i, t in items[:6]
        ])
        shards = str(tmp_path / "shards")
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=3,
            max_files_per_trigger=1,
        ).awaitTermination(120)
        self._drop(src, "b2.jsonl", [
            {"doc_id": i, "text": t} for i, t in items[6:]
        ])
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=3,
            max_files_per_trigger=1,
        ).awaitTermination(120)
        streamed = pack_shard_windows(
            spark, shards, str(tmp_path / "wins_stream"), window_ids=32
        )
        batch_docs = spark.createDataFrame(
            list(docs.items()), "doc_id long, text string"
        )
        batched, _ = export_training_set(
            batch_docs, str(tmp_path / "wins_batch"),
            n_shards=3, window_ids=32,
        )
        k = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        assert k(streamed) == k(batched) and len(k(streamed)) > 0
        # round 11: a NEW EPOCH from the STREAMING store too —
        # repack_epoch ignores the stored shard_order (the ingest
        # salt) and re-derives under the new salt, matching the batch
        # export's fresh-salt windows bit-for-bit
        from s3_access_logs_spark.operators.export import repack_epoch

        re_wins = repack_epoch(
            spark, shards, str(tmp_path / "wins_e2"),
            window_ids=32, n_shards=3, order_salt="epoch2:",
        )
        batched2, _ = export_training_set(
            batch_docs, str(tmp_path / "wins_batch2"),
            n_shards=3, window_ids=32, order_salt="epoch2:",
        )
        assert k(re_wins) == k(batched2) and len(k(re_wins)) > 0
        # the stream stamped the id-space sidecar at setup (review
        # r11, second pass), so a colliding pad fails loud here too
        with pytest.raises(ValueError, match="pad_id"):
            repack_epoch(
                spark, shards, str(tmp_path / "wins_bad"), pad_id=5
            )

    def test_shard_params_without_store_fail_loud(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import ingest_documents_stream

        with pytest.raises(ValueError, match="shard_store"):
            ingest_documents_stream(
                spark, str(tmp_path / "in"), str(tmp_path / "s"),
                str(tmp_path / "c"), shard_merges=[("a", "b")],
            )
        # a non-default pretokenizer is sink config too (round 12)
        with pytest.raises(ValueError, match="shard_store"):
            ingest_documents_stream(
                spark, str(tmp_path / "in"), str(tmp_path / "s"),
                str(tmp_path / "c"), shard_pretokenizer="gpt2",
            )


class TestIngestSourceCurriculum:
    """Round 13 (VERDICT r12 item 2): ``keep_source=True`` carries the
    feed's ``source`` labels through every gate into BOTH stores, so the
    per-epoch curriculum (``pack_shard_windows``/``repack_epoch`` with
    ``mixture=``) — previously fail-loud on every stream-built store by
    construction — works over streaming corpora exactly as over
    batch-built ones."""

    def _drop(self, src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def _corpus(self):
        # 40 "web" + 8 "books": alpha=0.3 re-weights web to ~0.74 keep
        # rate, so the mixture filter MUST drop rows — a rate landing at
        # 1.0 would make the equality below vacuously true of the
        # unmixed packs too
        return [
            (i, f"distinct curriculum corpus document {i} body words",
             "web" if i < 40 else "books")
            for i in range(48)
        ]

    def test_stream_mixture_equals_batch_export(self, spark, tmp_path):
        from s3_access_logs_spark.operators.export import (
            export_training_set,
            pack_shard_windows,
            repack_epoch,
        )
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        docs = self._corpus()
        # two micro-batches in one drain: arbitrary batching must not
        # affect the packed windows (the epoch permutation defines the
        # read order, not arrival)
        self._drop(src, "b1.jsonl", [
            {"doc_id": i, "text": t, "source": s} for i, t, s in docs[:25]
        ])
        self._drop(src, "b2.jsonl", [
            {"doc_id": i, "text": t, "source": s} for i, t, s in docs[25:]
        ])
        shards = str(tmp_path / "shards")
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), keep_source=True,
            shard_store=shards, n_shards=3, max_files_per_trigger=1,
        ).awaitTermination(120)
        M = {"alpha": 0.3, "salt": "ep1:"}
        k = lambda df: sorted(  # noqa: E731
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )
        mixed = pack_shard_windows(
            spark, shards, str(tmp_path / "w_mix"), window_ids=32,
            n_shards=3, mixture=M,
        )
        plain = pack_shard_windows(
            spark, shards, str(tmp_path / "w_plain"), window_ids=32,
            n_shards=3,
        )
        batch_docs = spark.createDataFrame(
            docs, "doc_id long, text string, source string"
        )
        batched, _ = export_training_set(
            batch_docs, str(tmp_path / "w_batch"), n_shards=3,
            window_ids=32, mixture=M,
        )
        assert k(mixed) == k(batched) and len(k(mixed)) > 0
        # the mixture actually thinned the stream store's pack
        n_ids = lambda ws: sum(len(i) for _, _, i in ws)  # noqa: E731
        assert n_ids(k(mixed)) < n_ids(k(plain))
        # a NEW curriculum epoch over the STREAM store: repack_epoch
        # re-derives the permutation under a fresh salt and applies the
        # same store-side mixture filter — bit-identical to the batch
        # export under that salt
        re_wins = repack_epoch(
            spark, shards, str(tmp_path / "w_e2"), window_ids=32,
            n_shards=3, order_salt="epoch2:", mixture=M,
        )
        batched2, _ = export_training_set(
            batch_docs, str(tmp_path / "w_batch2"), n_shards=3,
            window_ids=32, order_salt="epoch2:", mixture=M,
        )
        assert k(re_wins) == k(batched2) and len(k(re_wins)) > 0

    def test_source_mode_switch_fails_loud(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "switch guard corpus document one"}
        ])
        store = str(tmp_path / "store")
        shards = str(tmp_path / "shards")
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            shard_store=shards, n_shards=2,
        ).awaitTermination(120)
        # same SHARD store, fresh doc store -> the sidecar's has_source
        # provenance key fails the resume (a mixed store would hand
        # temperature_mixture NULLs that really mean 'pre-switch rows')
        with pytest.raises(ValueError, match="has_source"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store2"),
                str(tmp_path / "ckpt2"), keep_source=True,
                shard_store=shards, n_shards=2,
            )
        # same DOC store (no shard sink) -> the schema sniff fails it
        with pytest.raises(ValueError, match="keep_source=False"):
            ingest_documents_stream(
                spark, str(src), store, str(tmp_path / "ckpt3"),
                keep_source=True,
            )
        # and the reverse direction: a source-carrying doc store must
        # not be continued sourceless
        store4 = str(tmp_path / "store4")
        self._drop(src, "b2.jsonl", [
            {"doc_id": 2, "text": "second corpus document body",
             "source": "web"}
        ])
        ingest_documents_stream(
            spark, str(src), store4, str(tmp_path / "ckpt4"),
            keep_source=True,
        ).awaitTermination(120)
        with pytest.raises(ValueError, match="keep_source=True"):
            ingest_documents_stream(
                spark, str(src), store4, str(tmp_path / "ckpt5"),
            )
        # review r13: a PRE-round-13 sidecar (no has_source key at
        # all) means sourceless BY CONSTRUCTION — resuming it with
        # keep_source=True must fail the same way, not silently
        # upgrade the key onto a store whose leaves have no source
        import json as _json

        from s3_access_logs_spark.operators.export import (
            TOKEN_STORE_META,
        )

        sidecar = f"{shards}/{TOKEN_STORE_META}"
        meta = _json.load(open(sidecar))
        del meta["has_source"]
        with open(sidecar, "w") as f:
            _json.dump(meta, f)
        # the direct edit stales Hadoop's local-FS checksum shadow
        import os as _os

        crc = f"{shards}/.{TOKEN_STORE_META}.crc"
        if _os.path.exists(crc):
            _os.remove(crc)
        with pytest.raises(ValueError, match="has_source"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store5"),
                str(tmp_path / "ckpt6"), keep_source=True,
                shard_store=shards, n_shards=2,
            )

    def test_replay_idempotent_null_and_min_source(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        # doc 1 arrives twice with one text and TWO source labels (the
        # deterministic min wins); doc 2's feed row has no source field
        # at all (NULL-safe optional column)
        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "twice-labeled document body",
             "source": "web"},
            {"doc_id": 1, "text": "twice-labeled document body",
             "source": "books"},
            {"doc_id": 2, "text": "unlabeled document body here"},
        ])
        store = str(tmp_path / "store")
        shards = str(tmp_path / "shards")

        def run(ck):
            ingest_documents_stream(
                spark, str(src), store, str(tmp_path / ck),
                keep_source=True, shard_store=shards, n_shards=2,
            ).awaitTermination(120)

        run("ckpt1")
        key = lambda p: sorted(  # noqa: E731
            (r.doc_id, r.source, r.shard, r.batch_id, tuple(r.ids))
            for r in spark.read.parquet(p).collect()
        )
        first = key(shards)
        assert [(d, s) for d, s, *_ in first] == [
            (1, "books"), (2, None)
        ]
        doc_src = {
            r.keep_id: r.source
            for r in spark.read.parquet(store).collect()
        }
        assert doc_src == {1: "books", 2: None}
        # fresh checkpoint over committed stores IS the replay window:
        # every byte, source included, must come out identical
        run("ckpt2")
        assert key(shards) == first
        # and the store-mode pre-flight composes: per-SOURCE fit rows
        # over a stream-built sourced store (NULL source is its own
        # row, the batch-store contract)
        from s3_access_logs_spark.operators.export import (
            store_preflight_report,
        )

        pf = store_preflight_report(spark, shards, window_ids=16)
        got = {r.source: r.n_docs for r in pf.collect()}
        assert got == {"books": 1, None: 1}


class TestTokenStoreCompaction:
    """Round 12 (VERDICT r11 item 3): fold a streaming token store's
    ``shard=<s>/batch_id=<b>`` leaves into one base file per shard —
    the batch store's file shape — with every consumer bit-unchanged
    and the sidecar preserved."""

    def _drop(self, src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def _stream_store(self, spark, tmp_path, n_docs=24, n_files=3):
        """Drain n_files micro-batches into a shard store; returns its
        path."""
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir(parents=True)
        per = n_docs // n_files
        for f in range(n_files):
            self._drop(src, f"b{f}.jsonl", [
                {"doc_id": i,
                 "text": f"unique stream document {i} with words"}
                for i in range(f * per, (f + 1) * per)
            ])
        shards = str(tmp_path / "shards")
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=3,
            max_files_per_trigger=1,
        ).awaitTermination(180)
        return shards

    @staticmethod
    def _wkey(df):
        return sorted(
            (r.shard, r.window_idx, tuple(r.ids)) for r in df.collect()
        )

    def test_fold_is_invisible_to_both_pack_paths(self, spark, tmp_path):
        import os

        from s3_access_logs_spark.operators.export import (
            TOKEN_STORE_META,
            pack_shard_windows,
            repack_epoch,
        )
        from s3_access_logs_spark.streaming.pipeline import (
            compact_token_store,
        )

        shards = self._stream_store(spark, tmp_path)
        sdirs = sorted(
            d for d in os.listdir(shards) if d.startswith("shard=")
        )
        # three batches -> three leaves per populated shard
        assert all(
            len([b for b in os.listdir(f"{shards}/{d}")
                 if b.startswith("batch_id=")]) >= 2
            for d in sdirs
        )
        before_rows = sorted(
            (r.doc_id, tuple(r.ids), r.shard, r.shard_order)
            for r in spark.read.parquet(shards).collect()
        )
        before_re = self._wkey(repack_epoch(
            spark, shards, str(tmp_path / "re0"), window_ids=16,
            n_shards=3, order_salt="ep7:",
        ))
        before_pk = self._wkey(pack_shard_windows(
            spark, shards, str(tmp_path / "pk0"), window_ids=16,
            n_shards=3,
        ))
        res = compact_token_store(spark, shards, keep_recent=0)
        assert res["folded"] == [0, 1, 2] and res["kept"] == []
        # leaves collapsed: per shard dir exactly one batch_id=-1 leaf
        # holding exactly ONE data file
        for d in sdirs:
            kids = [b for b in os.listdir(f"{shards}/{d}")
                    if b.startswith("batch_id=")]
            assert kids == ["batch_id=-1"], d
            files = [f for f in os.listdir(f"{shards}/{d}/batch_id=-1")
                     if f.endswith(".parquet")]
            assert len(files) == 1, d
        # sidecar preserved; rows (incl. shard_order) identical
        assert os.path.exists(f"{shards}/{TOKEN_STORE_META}")
        after_rows = sorted(
            (r.doc_id, tuple(r.ids), r.shard, r.shard_order)
            for r in spark.read.parquet(shards).collect()
        )
        assert after_rows == before_rows
        # both pack paths bit-identical across the fold
        assert self._wkey(repack_epoch(
            spark, shards, str(tmp_path / "re1"), window_ids=16,
            n_shards=3, order_salt="ep7:",
        )) == before_re
        assert self._wkey(pack_shard_windows(
            spark, shards, str(tmp_path / "pk1"), window_ids=16,
            n_shards=3,
        )) == before_pk
        # rerun is a no-op
        assert compact_token_store(spark, shards, keep_recent=0) == {
            "folded": [], "kept": [],
        }

    def test_keep_recent_and_guards(self, spark, tmp_path):
        import os

        import pytest

        from s3_access_logs_spark.operators.export import (
            write_token_store,
        )
        from s3_access_logs_spark.streaming.pipeline import (
            compact_token_store,
        )

        shards = self._stream_store(spark, tmp_path)
        with pytest.raises(ValueError, match=">= 0"):
            compact_token_store(spark, shards, keep_recent=-1)
        # keep_recent=1 (the live-stream default) folds all but the
        # newest batch — the replay-window rule
        res = compact_token_store(spark, shards, keep_recent=1)
        assert res["folded"] == [0, 1] and res["kept"] == [2]
        for d in os.listdir(shards):
            if not d.startswith("shard="):
                continue
            kids = sorted(
                b for b in os.listdir(f"{shards}/{d}")
                if b.startswith("batch_id=")
            )
            assert "batch_id=-1" in kids
            assert all(b in ("batch_id=-1", "batch_id=2") for b in kids)
        # a BATCH-layout token store has nothing to fold -> loud
        docs = spark.createDataFrame(
            [(i, f"doc {i} words") for i in range(10)],
            "doc_id long, text string",
        )
        bstore = str(tmp_path / "bstore")
        write_token_store(docs, bstore, n_shards=2)
        with pytest.raises(ValueError, match="write_token_store layout"):
            compact_token_store(spark, bstore)
        # CLI surface: --token routes here, layout misuse exits 2
        from s3_access_logs_spark.cli import run_fold_store

        assert run_fold_store([bstore, "--token"]) == 2
        # --target-mb has no effect under --token: strict exit 2
        assert run_fold_store(
            [bstore, "--token", "--target-mb", "64"]
        ) == 2
        shards2 = self._stream_store(
            spark, tmp_path / "second", n_docs=12, n_files=2
        )
        assert run_fold_store(
            [shards2, "--token", "--keep-recent", "0"]
        ) == 0
        for d in os.listdir(shards2):
            if d.startswith("shard="):
                assert sorted(
                    b for b in os.listdir(f"{shards2}/{d}")
                    if b.startswith("batch_id=")
                ) == ["batch_id=-1"]

    def test_crash_recovery_converges_both_directions(
        self, spark, tmp_path
    ):
        """The fold's two crash windows, reconstructed on disk: before
        the ``_moved_ok`` marker recovery ROLLS BACK (trash restored,
        the rerun re-folds from the original state); after it recovery
        ROLLS FORWARD (staged base installed). Either way no row is
        lost or duplicated."""
        import os
        import shutil

        from pyspark.sql import functions as F

        from s3_access_logs_spark.streaming.pipeline import (
            _MOVED_OK,
            compact_token_store,
        )

        shards = self._stream_store(spark, tmp_path)
        want = sorted(
            (r.doc_id, tuple(r.ids), r.shard)
            for r in spark.read.parquet(shards).collect()
        )
        # --- crash BEFORE the marker: leaves moved aside, no marker --
        os.makedirs(f"{shards}/_fold_staging/shard=0", exist_ok=True)
        for d in list(os.listdir(shards)):
            if not d.startswith("shard="):
                continue
            for b in list(os.listdir(f"{shards}/{d}")):
                if b.startswith("batch_id="):
                    os.makedirs(
                        f"{shards}/_fold_trash/{d}", exist_ok=True
                    )
                    shutil.move(
                        f"{shards}/{d}/{b}",
                        f"{shards}/_fold_trash/{d}/{b}",
                    )
        res = compact_token_store(spark, shards, keep_recent=0)
        assert res["folded"] == [0, 1, 2]
        got = sorted(
            (r.doc_id, tuple(r.ids), r.shard)
            for r in spark.read.parquet(shards).collect()
        )
        assert got == want
        assert not os.path.exists(f"{shards}/_fold_trash")
        assert not os.path.exists(f"{shards}/_fold_staging")
        # --- crash AFTER the marker: staged base written, leaves in
        # trash, marker present, install never ran ------------------
        rows = spark.read.parquet(shards)
        (
            rows.withColumn("batch_id", F.lit(-1))
            .repartition(3, "shard")
            .write.mode("overwrite")
            .partitionBy("shard", "batch_id")
            .parquet(f"{shards}/_fold_staging")
        )
        for d in list(os.listdir(shards)):
            if not d.startswith("shard="):
                continue
            for b in list(os.listdir(f"{shards}/{d}")):
                if b.startswith("batch_id="):
                    os.makedirs(
                        f"{shards}/_fold_trash/{d}", exist_ok=True
                    )
                    shutil.move(
                        f"{shards}/{d}/{b}",
                        f"{shards}/_fold_trash/{d}/{b}",
                    )
        open(f"{shards}/_fold_staging/{_MOVED_OK}", "w").close()
        res = compact_token_store(spark, shards, keep_recent=0)
        assert res == {"folded": [], "kept": []}  # already folded
        got = sorted(
            (r.doc_id, tuple(r.ids), r.shard)
            for r in spark.read.parquet(shards).collect()
        )
        assert got == want
        assert not os.path.exists(f"{shards}/_fold_trash")
        assert not os.path.exists(f"{shards}/_fold_staging")


class TestIngestReplaySafety:
    def test_stale_same_batch_rows_do_not_self_collide(self, spark, tmp_path):
        """Simulate the at-least-once crash window: a prior ATTEMPT of this
        same micro-batch wrote its batch_id=0 partitions (docs in the band
        store, digests in the doc store) but the checkpoint never
        committed. The replay must NOT see those rows as history — with
        self-collision every document would silently vanish."""
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream
        from s3_access_logs_spark.operators.dedup import (
            minhash_bands,
            normalized_digest,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")
        text = (
            "the quick brown fox jumps over the lazy dog and then it runs "
            "far away into the deep green forest to rest for a long while"
        )
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": text}) + "\n"
        )
        # fabricate the crashed attempt's partitions: batch_id=0 rows for
        # exactly this document in BOTH stores
        doc_df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
        doc_df.select(
            normalized_digest(F.col("text")).alias("digest"),
            F.col("doc_id").alias("keep_id"),
            F.lit(0).alias("batch_id"),
        ).write.partitionBy("batch_id").parquet(store)
        minhash_bands(doc_df).withColumn("batch_id", F.lit(0)).write.partitionBy(
            "batch_id"
        ).parquet(bands)

        # fresh checkpoint -> this run IS batch 0, i.e. the replay
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"), band_store=bands
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        assert kept == {1}  # survived: stale self-rows were excluded
        assert spark.read.parquet(bands).filter("id = 1").count() == 4

    def test_bloom_without_docs_crash_window_is_safe(self, spark, tmp_path):
        """The bloom gate's write order (filter partition BEFORE the doc
        partition) means a crash can leave a batch's filter with no
        matching documents. The replay of that batch — and every later
        batch — must tolerate the orphan: it only OVER-approximates
        (false positives), never drops documents, and the coverage check
        must not demand a doc partition for it."""
        import json

        from s3_access_logs_spark.functions.bloom import bloom_build
        from s3_access_logs_spark.operators.dedup import normalized_digest
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        (src / "b0.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": "alpha beta"}) + "\n"
        )
        # fabricate the crashed attempt: batch 0's FILTER committed, its
        # documents did not
        crashed = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
        bloom_build(
            crashed.select(normalized_digest(F.col("text")).alias("d")),
            "d",
            num_bits=1 << 12,
        ).withColumn("batch_id", F.lit(0)).write.partitionBy(
            "batch_id"
        ).parquet(bloom)

        # fresh checkpoint -> this run IS batch 0, the replay
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            bloom_store=bloom, bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        assert {
            r.keep_id for r in spark.read.parquet(store).collect()
        } == {1}  # not dropped by its own crashed filter
        # and a later batch still dedups against batch 0 correctly
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 2, "text": "ALPHA  beta"}) + "\n"
            + json.dumps({"doc_id": 3, "text": "new thing"}) + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            bloom_store=bloom, bloom_num_bits=1 << 12,
        ).awaitTermination(120)
        assert {
            r.keep_id for r in spark.read.parquet(store).collect()
        } == {1, 3}


class TestFrequencyStream:
    """Streaming count-min store: bounded-state all-time token counts."""

    @staticmethod
    def _drop(src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_estimates_accumulate_across_batches(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import (
            frequency_estimates,
            heavy_hitters,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        cd = str(tmp_path / "cands")
        ckpt = str(tmp_path / "ckpt")
        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "alpha alpha beta"},
            {"doc_id": 2, "text": "alpha gamma"},
        ])
        track_frequencies_stream(
            spark, str(src), sk, ckpt, candidates_store=cd
        ).awaitTermination(120)
        self._drop(src, "b2.jsonl", [
            {"doc_id": 3, "text": "alpha beta beta delta"},
        ])
        track_frequencies_stream(
            spark, str(src), sk, ckpt, candidates_store=cd
        ).awaitTermination(120)
        probe = spark.createDataFrame(
            [("alpha",), ("beta",), ("delta",), ("never-seen",)],
            ["token"],
        )
        est = {
            r["token"]: r["est_count"]
            for r in frequency_estimates(spark, sk, probe, "token").collect()
        }
        # CMS never undercounts; at this tiny cardinality vs the default
        # 5x65536 grid a collision is essentially impossible -> exact
        assert est == {
            "alpha": 4, "beta": 3, "delta": 1, "never-seen": 0
        }
        top = heavy_hitters(spark, sk, cd, k=2).collect()
        assert [(r["token"], r["est_count"]) for r in top] == [
            ("alpha", 4), ("beta", 3)
        ]

    def test_replay_rewrites_own_partition(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import (
            frequency_estimates,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "omega omega"},
        ])
        track_frequencies_stream(
            spark, str(src), sk, str(tmp_path / "ckpt")
        ).awaitTermination(120)
        # crashed-attempt replay: same files, FRESH checkpoint -> the
        # rerun IS batch 0 again; dynamic overwrite must rewrite the
        # partition, not double the counts
        track_frequencies_stream(
            spark, str(src), sk, str(tmp_path / "ckpt2")
        ).awaitTermination(120)
        probe = spark.createDataFrame([("omega",)], ["token"])
        [r] = frequency_estimates(spark, sk, probe, "token").collect()
        assert r["est_count"] == 2

    def test_param_mismatch_fails_loud(self, spark, tmp_path):
        import pytest

        from s3_access_logs_spark.streaming import track_frequencies_stream

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        self._drop(src, "b1.jsonl", [{"doc_id": 1, "text": "x y"}])
        track_frequencies_stream(
            spark, str(src), sk, str(tmp_path / "c1"), width=1 << 10
        ).awaitTermination(120)
        self._drop(src, "b2.jsonl", [{"doc_id": 2, "text": "z"}])
        q = track_frequencies_stream(
            spark, str(src), sk, str(tmp_path / "c1"), width=1 << 11
        )
        with pytest.raises(Exception, match="never merge"):
            q.awaitTermination(120)

    def test_compaction_preserves_estimates(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            frequency_estimates,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        ckpt = str(tmp_path / "ckpt")
        for i, text in enumerate(
            ["red red blue", "red green", "blue blue blue"]
        ):
            self._drop(src, f"b{i}.jsonl", [{"doc_id": i, "text": text}])
            track_frequencies_stream(
                spark, str(src), sk, ckpt
            ).awaitTermination(120)
        # stream stopped -> folding ALL partitions is legal
        res = compact_ingest_store(spark, sk, keep_recent=0)
        assert res["folded"] == [0, 1, 2]
        probe = spark.createDataFrame(
            [("red",), ("blue",), ("green",)], ["token"]
        )
        est = {
            r["token"]: r["est_count"]
            for r in frequency_estimates(spark, sk, probe, "token").collect()
        }
        assert est == {"red": 3, "blue": 4, "green": 1}


class TestProfileStream:
    """Streaming length-distribution profiling via the quantile sketch."""

    @staticmethod
    def _drop(src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_profile_accumulates_and_matches_exact(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import (
            profile_quantiles,
            track_profile_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "profile")
        ckpt = str(tmp_path / "ckpt")
        texts1 = ["a" * n for n in (10, 20, 30)]
        texts2 = ["b" * n for n in (40, 50)]
        self._drop(src, "b1.jsonl", [
            {"doc_id": i, "text": t} for i, t in enumerate(texts1)
        ])
        track_profile_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        self._drop(src, "b2.jsonl", [
            {"doc_id": 10 + i, "text": t} for i, t in enumerate(texts2)
        ])
        track_profile_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        got = profile_quantiles(spark, store, [0.0, 0.5, 1.0])
        # k >> 5 docs -> every batch sample is its whole batch, the
        # merged sample is the whole corpus -> exact quantiles of
        # lengths {10,20,30,40,50}
        assert got == {0.0: 10.0, 0.5: 30.0, 1.0: 50.0}

    def test_replay_does_not_skew_sample(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import (
            profile_quantiles,
            track_profile_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "profile")
        self._drop(src, "b1.jsonl", [
            {"doc_id": 1, "text": "x" * 100},
            {"doc_id": 2, "text": "y" * 200},
        ])
        track_profile_stream(
            spark, str(src), store, str(tmp_path / "c1")
        ).awaitTermination(120)
        # crashed-attempt replay on a fresh checkpoint rewrites batch 0
        track_profile_stream(
            spark, str(src), store, str(tmp_path / "c2")
        ).awaitTermination(120)
        got = profile_quantiles(spark, store, [0.5])
        assert got == {0.5: 150.0}


class TestIngestHtmlGate:
    def test_markup_variants_dedup_to_one(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        (src / "b1.jsonl").write_text(
            json.dumps(
                {"doc_id": 1,
                 "text": "<div class='a1'><p>same article text</p></div>"}
            )
            + "\n"
            + json.dumps(
                {"doc_id": 2,
                 "text": "<div class='zz9'><p>same  article text</p></div>"}
            )
            + "\n"
            + json.dumps({"doc_id": 3, "text": "<p>another piece</p>"})
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"), html=True
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        # markup-only variants collapse; stored text is stripped prose
        assert {r.keep_id for r in rows} == {1, 3}
        texts = {r.keep_id: r.text for r in rows}
        assert texts[1] == "same article text"
        assert "<" not in texts[3]


class TestAssetIngest:
    """Streaming multimodal ingestion: digest + perceptual gates."""

    @staticmethod
    def _drop_assets(spark, src, name, rows):
        import os

        df = spark.createDataFrame(rows, "asset_id long, payload binary")
        tmp = str(src / ("_stage_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        [part] = glob.glob(tmp + "/part-*.parquet")
        shutil.move(part, str(src / name))
        shutil.rmtree(tmp)

    def test_digest_and_perceptual_gates(self, spark, tmp_path):
        import numpy as np

        from s3_access_logs_spark.operators import multimodal as MM
        from s3_access_logs_spark.streaming import ingest_assets_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "assets")
        fps = str(tmp_path / "fps")
        ckpt = str(tmp_path / "ckpt")
        rng = np.random.default_rng(3)
        img_a = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        img_c = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        self._drop_assets(spark, src, "b1.parquet", [
            (1, MM._png_encode_pixels(img_a)),
        ])
        ingest_assets_stream(
            spark, str(src), store, ckpt, fingerprint_store=fps
        ).awaitTermination(120)
        assert {
            r.asset_id for r in spark.read.parquet(store).collect()
        } == {1}

        # batch 2: exact byte copy (digest gate), one-pixel re-encode
        # (perceptual gate), genuinely new image (kept)
        tweak = img_a.copy()
        tweak[0, 0, 0] ^= 0x40
        self._drop_assets(spark, src, "b2.parquet", [
            (10, MM._png_encode_pixels(img_a)),
            (11, MM._png_encode_pixels(tweak)),
            (12, MM._png_encode_pixels(img_c)),
        ])
        ingest_assets_stream(
            spark, str(src), store, ckpt, fingerprint_store=fps
        ).awaitTermination(120)
        kept = {r.asset_id for r in spark.read.parquet(store).collect()}
        assert kept == {1, 12}
        # band store only carries kept assets' fingerprints
        assert {
            r.id for r in spark.read.parquet(fps).collect()
        } == {1, 12}

    def test_replay_rewrites_own_partition(self, spark, tmp_path):
        import numpy as np

        from s3_access_logs_spark.operators import multimodal as MM
        from s3_access_logs_spark.streaming import ingest_assets_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "assets")
        fps = str(tmp_path / "fps")
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        self._drop_assets(spark, src, "b1.parquet", [
            (1, MM._png_encode_pixels(img)),
        ])
        ingest_assets_stream(
            spark, str(src), store, str(tmp_path / "c1"),
            fingerprint_store=fps,
        ).awaitTermination(120)
        # crashed-attempt replay (fresh checkpoint, same files): the
        # batch must not self-collide with its own stored fingerprint
        ingest_assets_stream(
            spark, str(src), store, str(tmp_path / "c2"),
            fingerprint_store=fps,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert [r.asset_id for r in rows] == [1]


class TestAssetIngestReviewFixes:
    def test_null_payload_dropped_not_crash_not_reingested(
        self, spark, tmp_path
    ):
        import numpy as np

        from s3_access_logs_spark.operators import multimodal as MM
        from s3_access_logs_spark.streaming import ingest_assets_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "assets")
        fps = str(tmp_path / "fps")
        ckpt = str(tmp_path / "ckpt")
        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        for b in range(2):
            TestAssetIngest._drop_assets(spark, src, f"b{b}.parquet", [
                (100 * b + 1, MM._png_encode_pixels(img) if b == 0 else
                 MM._png_encode_pixels(
                     rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
                 )),
                (100 * b + 2, None),  # NULL payload every batch
            ])
            ingest_assets_stream(
                spark, str(src), store, ckpt, fingerprint_store=fps
            ).awaitTermination(120)
        kept = {r.asset_id for r in spark.read.parquet(store).collect()}
        # NULL rows neither crash the stream nor accumulate in the store
        assert kept == {1, 101}

    def test_within_batch_near_dups_collapse(self, spark, tmp_path):
        import numpy as np

        from s3_access_logs_spark.operators import multimodal as MM
        from s3_access_logs_spark.streaming import ingest_assets_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "assets")
        fps = str(tmp_path / "fps")
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, size=(16, 24, 3)).astype(np.uint8)
        tweak = img.copy()
        tweak[0, 0, 0] ^= 0x40
        TestAssetIngest._drop_assets(spark, src, "b1.parquet", [
            (1, MM._png_encode_pixels(img)),
            (2, MM._png_encode_pixels(tweak)),  # same-batch re-encode
        ])
        ingest_assets_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            fingerprint_store=fps,
        ).awaitTermination(120)
        kept = {r.asset_id for r in spark.read.parquet(store).collect()}
        assert kept == {1}  # smallest id of the near group survives
        assert {
            r.id for r in spark.read.parquet(fps).collect()
        } == {1}


class TestIngestLmGate:
    def test_high_xent_docs_rejected(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.functions.lm import train_bigram_lm
        from s3_access_logs_spark.streaming import ingest_documents_stream

        # reference slice: natural-ish English phrasing
        ref = spark.createDataFrame(
            [
                (i, "the quick brown fox jumps over the lazy dog again")
                for i in range(20)
            ],
            ["doc_id", "text"],
        )
        model = spark.createDataFrame(
            train_bigram_lm(ref).collect(),
            "kind string, w1 string, w2 string, cnt bigint",
        )
        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1,
                        "text": "the quick brown fox jumps over the dog"})
            + "\n"
            + json.dumps({"doc_id": 2,
                          "text": "zzq vvk wjj qqx bbn mmz ppl kkt rrw"})
            + "\n"
            + json.dumps({"doc_id": 3, "text": "oneword"})  # no bigrams
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            lm_model=model, max_xent=3.0,
        ).awaitTermination(120)
        kept = {r.keep_id for r in spark.read.parquet(store).collect()}
        # in-model text passes, OOV soup fails, no-bigram doc passes
        assert 1 in kept and 2 not in kept and 3 in kept


class TestIngestLmGatePerText:
    def test_duplicate_id_distinct_texts_scored_separately(
        self, spark, tmp_path
    ):
        import json

        from s3_access_logs_spark.functions.lm import train_bigram_lm
        from s3_access_logs_spark.streaming import ingest_documents_stream

        ref = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog again")
             for i in range(20)],
            ["doc_id", "text"],
        )
        model = train_bigram_lm(ref)
        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        # ONE doc_id, two texts: a clean one and OOV soup — pooled
        # scoring would average them into one verdict for both
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 7,
                        "text": "the quick brown fox jumps over the dog"})
            + "\n"
            + json.dumps({"doc_id": 7,
                          "text": "zzq vvk wjj qqx bbn mmz ppl kkt rrw"})
            + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            lm_model=model, max_xent=3.0,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        texts = {r.text for r in rows}
        assert texts == {"the quick brown fox jumps over the dog"}


class TestPipelineReviewFixes:
    """Regression pins for the path-targeted pipeline review."""

    def test_same_hour_across_batches_not_clobbered(
        self, spark, log_dir, tmp_path
    ):
        # the reproduced data-loss case: a later micro-batch adding rows
        # to an hour an earlier batch already wrote must ADD, not wipe
        dst, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
        run_export_stream(spark, str(log_dir), dst, ckpt).awaitTermination(120)
        assert read_parsed(spark, dst).count() == 3
        # new file lands with MORE hour-00 lines (same partition as the
        # first batch's two hour-00 rows)
        write_file(log_dir, "2019-02-06-00-50-00-CCCC", [at_time("00:50:00")])
        run_export_stream(spark, str(log_dir), dst, ckpt).awaitTermination(120)
        got = read_parsed(spark, dst)
        assert got.count() == 4
        assert got.filter("hour = 0").count() == 3  # 2 old + 1 new

    def test_gate_off_after_backfill_raises(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import (
            backfill_bloom_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bloom = str(tmp_path / "bloom")
        ckpt = str(tmp_path / "ckpt")

        def drop(name, rows):
            (src / name).write_text(
                "\n".join(json.dumps(r) for r in rows) + "\n"
            )

        drop("b1.jsonl", [{"doc_id": 1, "text": "alpha beta"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        backfill_bloom_store(spark, store, bloom, num_bits=1 << 12)
        # gate OFF for a batch after the backfill...
        drop("b2.jsonl", [{"doc_id": 2, "text": "gamma delta"}])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        # ...then ON again: batch 1's digests are in no filter — the
        # vacuous-coverage acceptance previously let this through into
        # silent duplicates
        drop("b3.jsonl", [{"doc_id": 3, "text": "epsilon zeta"}])
        q = ingest_documents_stream(
            spark, str(src), store, ckpt, bloom_store=bloom,
        )
        with pytest.raises(Exception, match="no filter partition"):
            q.awaitTermination(120)

    def test_duplicate_docid_rows_stay_unique_with_band_store(
        self, spark, tmp_path
    ):
        import json

        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")
        line = json.dumps({"doc_id": 5, "text": "repeated delivery text"})
        (src / "b1.jsonl").write_text(line + "\n" + line + "\n")
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt"),
            band_store=bands,
        ).awaitTermination(120)
        rows = spark.read.parquet(store).collect()
        assert len(rows) == 1  # join multiplicity must not duplicate
        digests = [r.digest for r in rows]
        assert len(digests) == len(set(digests))

    def test_keep_recent_beyond_live_folds_nothing(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import compact_ingest_store

        store = str(tmp_path / "st")
        for b in range(2):
            (
                spark.range(3)
                .selectExpr("id as digest", f"{b} as batch_id")
                .write.mode("append")
                .partitionBy("batch_id")
                .parquet(store)
            )
        res = compact_ingest_store(spark, store, keep_recent=5)
        assert res["folded"] == [] and res["kept"] == [0, 1]

    def test_junk_batch_dir_does_not_crash_fold(self, spark, tmp_path):
        import os

        from s3_access_logs_spark.streaming import compact_ingest_store

        store = str(tmp_path / "st")
        (
            spark.range(3)
            .selectExpr("id as digest", "0 as batch_id")
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(store)
        )
        os.makedirs(store + "/batch_id=__HIVE_DEFAULT_PARTITION__")
        res = compact_ingest_store(spark, store, keep_recent=0)
        assert res["folded"] == [0]

    def test_backfill_restores_overwrite_mode(self, spark, tmp_path):
        import json

        from s3_access_logs_spark.streaming import (
            backfill_bloom_store,
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        (src / "b1.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": "alpha"}) + "\n"
        )
        ingest_documents_stream(
            spark, str(src), store, str(tmp_path / "ckpt")
        ).awaitTermination(120)
        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            backfill_bloom_store(
                spark, store, str(tmp_path / "bloom"), num_bits=1 << 10
            )
            assert spark.conf.get(key) == "static"
        finally:
            spark.conf.set(key, prev)

    def test_half_specified_lm_gate_raises(self, spark, tmp_path):
        from s3_access_logs_spark.functions.lm import train_bigram_lm
        from s3_access_logs_spark.streaming import ingest_documents_stream

        ref = spark.createDataFrame(
            [(1, "some text here")], ["doc_id", "text"]
        )
        with pytest.raises(ValueError, match="together"):
            ingest_documents_stream(
                spark, "/tmp/x", "/tmp/y", "/tmp/z",
                lm_model=train_bigram_lm(ref),
            )


class TestAdviceR5Fixes:
    """Regression pins for the round-4 advisor findings fixed in r5."""

    @staticmethod
    def _drop(src, name, rows):
        import json

        (src / name).write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )

    def test_fold_crash_before_install_never_doubles_counts(
        self, spark, tmp_path
    ):
        """ADVICE r4: a crash between staging the fold and installing it
        leaves the folded partitions' only live copies in ``_fold_trash``.
        Recovery must restore them and the re-fold must not double any
        count-min counter (the summing-store failure mode)."""
        import os
        import shutil

        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            frequency_estimates,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        ckpt = str(tmp_path / "ckpt")
        for i, text in enumerate(["red red blue", "red green"]):
            self._drop(src, f"b{i}.jsonl", [{"doc_id": i, "text": text}])
            track_frequencies_stream(
                spark, str(src), sk, ckpt
            ).awaitTermination(120)
        # Manufacture the pre-install crash state the protocol can reach:
        # staged base written, live partitions moved aside, the install
        # rename never happened.
        (
            spark.read.parquet(sk)
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{sk}/_fold_staging")
        )
        os.makedirs(f"{sk}/_fold_trash", exist_ok=True)
        for b in (0, 1):
            shutil.move(
                f"{sk}/batch_id={b}", f"{sk}/_fold_trash/batch_id={b}"
            )
        res = compact_ingest_store(spark, sk, keep_recent=0)
        assert res["folded"] == [0, 1]
        probe = spark.createDataFrame(
            [("red",), ("blue",), ("green",)], ["token"]
        )
        est = {
            r["token"]: r["est_count"]
            for r in frequency_estimates(spark, sk, probe, "token").collect()
        }
        assert est == {"red": 3, "blue": 1, "green": 1}  # never doubled

    def test_fold_crash_after_install_drops_superseded_trash(
        self, spark, tmp_path
    ):
        """The mirror crash window: install committed, trash deletes never
        ran. Recovery must classify the trash as superseded and drop it —
        restoring it would double the folded counters."""
        import os
        import shutil

        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            frequency_estimates,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        ckpt = str(tmp_path / "ckpt")
        for i, text in enumerate(["red red blue", "red green"]):
            self._drop(src, f"b{i}.jsonl", [{"doc_id": i, "text": text}])
            track_frequencies_stream(
                spark, str(src), sk, ckpt
            ).awaitTermination(120)
        assert compact_ingest_store(spark, sk, keep_recent=0)["folded"] == [
            0,
            1,
        ]
        # post-install leftovers: a superseded copy in trash, staging
        # still carrying the _moved_ok commit marker (its batch_id child
        # was renamed away by the install — the state a crash between
        # the install and the cleanup deletes leaves behind)
        shutil.copytree(
            f"{sk}/batch_id=-1", f"{sk}/_fold_trash/batch_id=0"
        )
        os.makedirs(f"{sk}/_fold_staging", exist_ok=True)
        open(f"{sk}/_fold_staging/_moved_ok", "w").close()
        res = compact_ingest_store(spark, sk, keep_recent=0)
        assert res["folded"] == []
        probe = spark.createDataFrame(
            [("red",), ("blue",), ("green",)], ["token"]
        )
        est = {
            r["token"]: r["est_count"]
            for r in frequency_estimates(spark, sk, probe, "token").collect()
        }
        assert est == {"red": 3, "blue": 1, "green": 1}

    def _two_batch_sketch(self, spark, tmp_path):
        from s3_access_logs_spark.streaming import track_frequencies_stream

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        ckpt = str(tmp_path / "ckpt")
        for i, text in enumerate(["red red blue", "red green"]):
            self._drop(src, f"b{i}.jsonl", [{"doc_id": i, "text": text}])
            track_frequencies_stream(
                spark, str(src), sk, ckpt
            ).awaitTermination(120)
        return sk

    def _est(self, spark, sk):
        from s3_access_logs_spark.streaming import frequency_estimates

        probe = spark.createDataFrame(
            [("red",), ("blue",), ("green",)], ["token"]
        )
        return {
            r["token"]: r["est_count"]
            for r in frequency_estimates(spark, sk, probe, "token").collect()
        }

    def test_fold_crash_mid_move_split_partition_reassembles(
        self, spark, tmp_path
    ):
        """Review r5: on object stores a directory rename is per-object
        copy+delete, so a crash mid-move leaves a partition SPLIT — some
        files only in ``_fold_trash``, the mid-flight object in BOTH
        places. The old recovery skipped restoring any partition whose
        live dir still existed and then deleted the trash, permanently
        losing the moved-aside files. The merge recovery must reassemble
        exactly one copy of every file: no loss, no double counts."""
        import os
        import shutil

        from s3_access_logs_spark.streaming import compact_ingest_store

        sk = self._two_batch_sketch(spark, tmp_path)
        # staged base written, NO commit marker (crash before _moved_ok)
        (
            spark.read.parquet(sk)
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{sk}/_fold_staging")
        )
        # batch 1: fully moved aside (its only live copy is the trash)
        os.makedirs(f"{sk}/_fold_trash", exist_ok=True)
        shutil.move(f"{sk}/batch_id=1", f"{sk}/_fold_trash/batch_id=1")
        # batch 0: every object copied but none deleted yet — the same
        # files exist in BOTH live and trash (per-object copy+delete
        # caught between the phases)
        shutil.copytree(f"{sk}/batch_id=0", f"{sk}/_fold_trash/batch_id=0")
        res = compact_ingest_store(spark, sk, keep_recent=0)
        assert res["folded"] == [0, 1]
        assert self._est(spark, sk) == {"red": 3, "blue": 1, "green": 1}

    def test_fold_crash_mid_install_rolls_forward(self, spark, tmp_path):
        """Review r5: a crash mid-install (after the ``_moved_ok`` commit
        marker) can leave the staged base split between staging and the
        live dir on an object store. Recovery must finish the install by
        merging — restoring the trash instead would resurrect the folded
        partitions next to the (partial) base and double every count."""
        import os
        import shutil

        from s3_access_logs_spark.streaming import compact_ingest_store

        sk = self._two_batch_sketch(spark, tmp_path)
        (
            spark.read.parquet(sk)
            .withColumn("batch_id", F.lit(-1))
            .write.mode("overwrite")
            .partitionBy("batch_id")
            .parquet(f"{sk}/_fold_staging")
        )
        os.makedirs(f"{sk}/_fold_trash", exist_ok=True)
        for b in (0, 1):
            shutil.move(
                f"{sk}/batch_id={b}", f"{sk}/_fold_trash/batch_id={b}"
            )
        open(f"{sk}/_fold_staging/_moved_ok", "w").close()
        # install crashed mid-flight: ONE staged object already copied
        # into the live base dir, the rest still in staging
        staged = f"{sk}/_fold_staging/batch_id=-1"
        os.makedirs(f"{sk}/batch_id=-1", exist_ok=True)
        first = sorted(os.listdir(staged))[0]
        shutil.copy2(f"{staged}/{first}", f"{sk}/batch_id=-1/{first}")
        res = compact_ingest_store(spark, sk, keep_recent=0)
        assert res["folded"] == []  # the base is already installed
        assert self._est(spark, sk) == {"red": 3, "blue": 1, "green": 1}

    def test_band_store_only_carries_surviving_texts(self, spark, tmp_path):
        """ADVICE r4: a batch carrying one doc_id with two distinct texts
        must band only the text that survives the digest gate. The old
        doc_id-alone join banded both, so the store-dup text's bands
        collided with history and dropped the id's genuinely NEW text."""
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store = str(tmp_path / "store")
        bands = str(tmp_path / "bands")
        ckpt = str(tmp_path / "ckpt")
        t1 = (
            "the quick brown fox jumps over the lazy dog and then it runs "
            "far away into the deep green forest to rest for a long while"
        )
        t2 = (
            "completely unrelated fresh content about cooking pasta with "
            "garlic and olive oil for dinner again tonight with friends"
        )
        self._drop(src, "b1.jsonl", [{"doc_id": 1, "text": t1}])
        ingest_documents_stream(
            spark, str(src), store, ckpt, band_store=bands
        ).awaitTermination(120)
        # batch 2: ONE doc_id carrying the store-dup text AND a new text
        self._drop(src, "b2.jsonl", [
            {"doc_id": 10, "text": t1},
            {"doc_id": 10, "text": t2},
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt, band_store=bands
        ).awaitTermination(120)
        stored = {
            (r.keep_id, r.text)
            for r in spark.read.parquet(store).collect()
        }
        assert (1, t1) in stored
        assert (10, t2) in stored  # the new text survives
        assert (10, t1) not in stored  # the dup text does not
        # bands for id 10: exactly one document's worth (t2's), none of t1's
        assert (
            spark.read.parquet(bands).filter(F.col("id") == 10).count() == 4
        )

    def test_foreachbatch_writers_leave_session_conf_alone(
        self, spark, tmp_path
    ):
        """ADVICE r4: the streaming sinks use write-scoped dynamic
        overwrite; they must not flip the shared session's
        partitionOverwriteMode for unrelated later writes."""
        from s3_access_logs_spark.streaming import ingest_documents_stream

        key = "spark.sql.sources.partitionOverwriteMode"
        prev = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            src = tmp_path / "in"
            src.mkdir()
            store = str(tmp_path / "store")
            self._drop(src, "d.jsonl", [
                {"doc_id": 1, "text": "alpha beta gamma"},
            ])
            ingest_documents_stream(
                spark, str(src), store, str(tmp_path / "ckpt")
            ).awaitTermination(120)
            assert spark.conf.get(key) == "static"
            # ...and the write itself still committed per-partition
            assert spark.read.parquet(store).count() == 1
        finally:
            spark.conf.set(key, prev)


class TestBoundedCatchUp:
    def test_backlog_drains_in_bounded_batches(self, spark, tmp_path):
        """VERDICT r4 item 8: a pre-populated (backlogged) source dir
        under availableNow + maxFilesPerTrigger drains as SEVERAL
        bounded micro-batches — one batch_id partition per file here —
        with the same final store state as an unbounded drain."""
        import json
        import os

        from s3_access_logs_spark.streaming import ingest_documents_stream

        rows = [
            {"doc_id": 1, "text": "alpha beta gamma delta"},
            {"doc_id": 2, "text": "epsilon zeta eta theta"},
            {"doc_id": 3, "text": "ALPHA  beta gamma delta"},  # dup of 1
            {"doc_id": 4, "text": "iota kappa lambda mu nu"},
        ]
        for variant in ("bounded", "unbounded"):
            src = tmp_path / f"in_{variant}"
            src.mkdir()
            for i, r in enumerate(rows):  # one file per doc = a backlog
                p = src / f"d{r['doc_id']}.jsonl"
                p.write_text(json.dumps(r) + "\n")
                # explicit increasing mtimes: the file source orders the
                # backlog by timestamp, and the dedup outcome (doc 1
                # beats its later dup, doc 3) depends on that order
                os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
            store = str(tmp_path / f"store_{variant}")
            ingest_documents_stream(
                spark, str(src), store, str(tmp_path / f"ckpt_{variant}"),
                max_files_per_trigger=(
                    1 if variant == "bounded" else None
                ),
            ).awaitTermination(120)
            parts = sorted(
                d for d in os.listdir(store) if d.startswith("batch_id=")
            )
            kept = {
                (r.keep_id, r.text)
                for r in spark.read.parquet(store).collect()
            }
            if variant == "bounded":
                # four bounded single-file batches ran (ids 0..3); the
                # dup's batch had no survivors, so no partition for it
                assert parts == ["batch_id=0", "batch_id=1", "batch_id=3"]
                bounded_kept = kept
            else:
                assert len(parts) == 1  # one giant batch without the cap
        # same final corpus either way (doc 3 deduped against doc 1 —
        # across batches in the bounded drain, within the batch otherwise)
        assert {k for k, _ in bounded_kept} == {1, 2, 4}
        assert bounded_kept == kept


class TestFoldResidueGuard:
    def test_readers_fail_loud_on_crashed_fold_residue(self, spark, tmp_path):
        """Review r5: a crashed fold's moved-aside history lives under
        _fold_trash, which every parquet reader silently skips — so the
        store readers must REFUSE to read past residue (silent duplicate
        ingestion) and point at compact_ingest_store's recovery."""
        import json
        import shutil

        from s3_access_logs_spark.streaming import (
            compact_ingest_store,
            frequency_estimates,
            ingest_documents_stream,
            track_frequencies_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        sk = str(tmp_path / "sketch")
        (src / "b0.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": "red red blue"}) + "\n"
        )
        track_frequencies_stream(
            spark, str(src), sk, str(tmp_path / "ckpt")
        ).awaitTermination(120)
        # crashed-fold state exactly as the protocol can leave it:
        # staged base written, history moved aside, install rename
        # never happened
        (tmp_path / "sketch" / "_fold_staging" / "batch_id=-1").mkdir(
            parents=True
        )
        shutil.move(f"{sk}/batch_id=0", f"{sk}/_fold_trash_tmp")
        (tmp_path / "sketch" / "_fold_trash").mkdir()
        shutil.move(
            f"{sk}/_fold_trash_tmp", f"{sk}/_fold_trash/batch_id=0"
        )
        probe = spark.createDataFrame([("red",)], ["token"])
        with pytest.raises(Exception, match="fold residue"):
            frequency_estimates(spark, sk, probe, "token").collect()
        # the ingest gate refuses too (via _read_prior_batches)
        src2 = tmp_path / "in2"
        src2.mkdir()
        (src2 / "d.jsonl").write_text(
            json.dumps({"doc_id": 1, "text": "alpha"}) + "\n"
        )
        q = ingest_documents_stream(
            spark, str(src2), sk, str(tmp_path / "ckpt2")
        )
        with pytest.raises(Exception, match="fold residue"):
            q.awaitTermination(120)
        # the maintenance entry point converges the store and unblocks
        compact_ingest_store(spark, sk, keep_recent=0)
        [r] = frequency_estimates(spark, sk, probe, "token").collect()
        assert r["est_count"] == 2


class TestSwapResidueGuard:
    @pytest.mark.parametrize("trash", ["_purge_trash", "_compact_trash"])
    def test_prior_batch_read_refuses_any_ops_residue(
        self, spark, tmp_path, trash
    ):
        """A leaf moved under ANY maintenance op's trash is invisible to
        parquet readers; a gate reading past it would take half the
        history for all of it and re-ingest the rest as new."""
        import os
        import shutil

        from s3_access_logs_spark.streaming.pipeline import (
            _read_prior_batches,
        )

        store = str(tmp_path / "store")
        spark.createDataFrame(
            [(f"d{i}", i % 2) for i in range(10)],
            "digest string, batch_id int",
        ).write.partitionBy("batch_id").parquet(store)
        os.makedirs(f"{store}/{trash}")
        shutil.move(f"{store}/batch_id=0", f"{store}/{trash}/batch_id=0")
        with pytest.raises(RuntimeError, match=f"residue \\({trash}\\)"):
            _read_prior_batches(spark, store, "digest string", 99)
        # curate's digest gate reads history through the same helper
        from s3_access_logs_spark.operators.curate import curate_corpus

        docs = spark.createDataFrame([(1, "alpha")], "doc_id long, text string")
        with pytest.raises(RuntimeError, match=f"residue \\({trash}\\)"):
            curate_corpus(docs, digest_store=store)[0].collect()


class TestShardStoreTokenizerSwitch:
    def test_restart_under_different_tokenizer_fails_loud(
        self, spark, tmp_path
    ):
        """review r12 (second pass): re-stamping the sidecar on every
        stream start would let a restart under different merges mix two
        id spaces in one store while the sidecar asserts the new one —
        the exact heterogeneity the provenance keys exist to expose."""
        import json

        from s3_access_logs_spark.functions import bpe as B
        from s3_access_logs_spark.streaming import (
            ingest_documents_stream,
        )

        src = tmp_path / "in"
        src.mkdir()
        (src / "b0.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": i, "text": f"doc {i} words"})
                for i in range(5)
            )
            + "\n"
        )
        shards = str(tmp_path / "shards")
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=2,
        ).awaitTermination(120)
        # same tokenizer restarts fine (identical bytes re-stamped)
        ingest_documents_stream(
            spark, str(src), str(tmp_path / "store"),
            str(tmp_path / "ckpt"), shard_store=shards, n_shards=2,
        ).awaitTermination(120)
        # a DIFFERENT merges table over the same store fails at setup
        other = B.train_bpe_merges(B.SEED_CORPUS, num_merges=30)
        with pytest.raises(ValueError, match="different"):
            ingest_documents_stream(
                spark, str(src), str(tmp_path / "store"),
                str(tmp_path / "ckpt2"), shard_store=shards,
                n_shards=2, shard_merges=other,
            )


def _drop_jsonl(src, name, rows):
    import json

    (src / name).write_text("\n".join(json.dumps(r) for r in rows) + "\n")


class TestScopedCacheRelease:
    """A raising op releases every cache it took: no persisted RDD the
    op created outlives the raise (the set-difference pattern of
    TestCurateSemantic::test_failing_stage_releases_scoped_caches)."""

    @staticmethod
    def _stream_bloom_gap(spark, tmp_path):
        # a digest store with one unfiltered batch; the LM + Bloom stream
        # over it fails its coverage check
        from s3_access_logs_spark.functions.lm import train_bigram_lm
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        store, ckpt = str(tmp_path / "store"), str(tmp_path / "ckpt")
        _drop_jsonl(src, "b0.jsonl", [
            {"doc_id": 0, "text": "unfiltered history document"}
        ])
        ingest_documents_stream(
            spark, str(src), store, ckpt
        ).awaitTermination(120)
        model = train_bigram_lm(spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog")
             for i in range(5)],
            ["doc_id", "text"],
        ))
        _drop_jsonl(src, "b1.jsonl", [
            {"doc_id": 10 + i, "text": f"the quick brown fox number {i}"}
            for i in range(3)
        ])
        q = ingest_documents_stream(
            spark, str(src), store, ckpt, lm_model=model, max_xent=3.0,
            bloom_store=str(tmp_path / "bloom"),
        )
        with pytest.raises(Exception, match="no filter partition"):
            q.awaitTermination(120)

    @staticmethod
    def _export_mixture(spark, tmp_path):
        # two sources over a one-source bound: temperature_mixture
        # raises after its count collect ran over the cached survivors
        from s3_access_logs_spark.operators.export import (
            export_training_set,
        )

        docs = spark.createDataFrame(
            [(i, f"mixture corpus document {i} with words",
              "web" if i % 2 else "books") for i in range(6)],
            "doc_id long, text string, source string",
        )
        with pytest.raises(ValueError, match="max_sources"):
            export_training_set(
                docs, str(tmp_path / "w"), n_shards=2, window_ids=16,
                mixture={"max_sources": 1},
            )

    @pytest.mark.parametrize("scenario", ["stream_bloom_gap", "export_mixture"])
    def test_raise_leaves_no_persisted_rdd(
        self, spark, tmp_path, monkeypatch, scenario
    ):
        def rdd_ids():
            jmap = spark.sparkContext._jsc.getPersistentRDDs()
            return {int(k) for k in jmap.keySet().toArray()}

        # a persist the op never ran an action over registers a cached
        # plan but no RDD yet, so the frames persisted during the op are
        # recorded and their storage level checked too
        cls = type(spark.range(1))
        persisted = []
        real_persist = cls.persist

        def persist(df, *args, **kwargs):
            persisted.append(df)
            return real_persist(df, *args, **kwargs)

        monkeypatch.setattr(cls, "persist", persist)
        before = rdd_ids()
        getattr(self, f"_{scenario}")(spark, tmp_path)
        assert not (rdd_ids() - before)
        assert not [df for df in persisted if df.storageLevel.useMemory]


class TestStreamCurateParity:
    """One gate stack: the same documents fed as a stream micro-batch and
    as an incremental curate_corpus call leave identical digest and band
    stores — with a seeded history so the digest- and band-history gates
    fire, plus case/whitespace exact dups, a low-quality doc and a blank
    doc inside the batch."""

    BASE = (
        "the quick brown fox jumps over the lazy dog and then it runs "
        "far away into the deep green forest to rest for a long while"
    )
    SEED = [
        (1, BASE),
        (2, "completely unrelated fresh content about cooking pasta with "
            "garlic and olive oil for dinner again tonight with friends"),
        (3, "a short history of the river valley towns and the people "
            "who built the old stone bridges across the water long ago"),
    ]
    NEW_A = (
        "entirely new material on growing tomatoes in small gardens with "
        "plenty of afternoon sun and rich soil for the whole summer"
    )
    NEW_C = (
        "notes on repairing an old bicycle chain with simple tools and a "
        "little patience before the long ride to the coast next week"
    )
    BATCH = [
        (10, BASE),                                  # exact dup of history
        (11, BASE + " minor footer edit"),           # near dup of history
        (12, NEW_A),
        (13, "  " + NEW_A.upper().replace(" ", "   ")),  # case/space dup
        (14, "a guide to baking bread at home with flour water salt and "
             "yeast while the kitchen stays warm through the evening"),
        (15, "zz zz zz zz"),                         # low quality
        (16, "   "),                                 # blank
        (17, NEW_C),
        (18, NEW_C.replace(" ", "\n", 3)),           # whitespace dup
        (19, "the museum opened a new wing for modern paintings and "
             "sculpture from artists who worked in the northern cities"),
        (20, "weather reports for the mountain passes warn of snow and "
             "strong winds over the weekend so travel plans may change"),
        (21, "ok ok ok ok ok"),                      # low quality
    ]

    def test_stream_batch_equals_incremental_curate(self, spark, tmp_path):
        from s3_access_logs_spark.operators.curate import curate_corpus
        from s3_access_logs_spark.streaming import ingest_documents_stream

        src = tmp_path / "in"
        src.mkdir()
        s_docs, s_bands = str(tmp_path / "s_docs"), str(tmp_path / "s_bands")
        c_docs, c_bands = str(tmp_path / "c_docs"), str(tmp_path / "c_bands")

        def stream():
            ingest_documents_stream(
                spark, str(src), s_docs, str(tmp_path / "ckpt"),
                min_quality=0.5, band_store=s_bands,
            ).awaitTermination(120)

        def curate(rows, batch_id):
            curate_corpus(
                spark.createDataFrame(rows, "doc_id long, text string"),
                min_quality=0.5, digest_store=c_docs, band_store=c_bands,
                store_batch_id=batch_id,
            )

        _drop_jsonl(src, "b0.jsonl", [
            {"doc_id": i, "text": t} for i, t in self.SEED
        ])
        stream()
        curate(self.SEED, 0)
        _drop_jsonl(src, "b1.jsonl", [
            {"doc_id": i, "text": t} for i, t in self.BATCH
        ])
        stream()
        curate(self.BATCH, 1)

        def rows(path, cols):
            return sorted(
                tuple(r) for r in spark.read.parquet(path).select(
                    "batch_id", *cols
                ).collect()
            )

        doc_cols = ("digest", "keep_id", "text")
        band_cols = ("id", "band_idx", "band_key")
        assert rows(s_docs, doc_cols) == rows(c_docs, doc_cols)
        assert rows(s_bands, band_cols) == rows(c_bands, band_cols)
        # the history gates fired: batch 1 keeps only the new documents
        kept = {r[2] for r in rows(s_docs, doc_cols) if r[0] == 1}
        assert kept == {12, 14, 17, 19, 20}


class TestStoreFileLayout:
    """A small batch through the gate stack keeps the layout AQE sizes
    for it: one parquet file in the ``batch_id`` leaf of the stream's
    doc store and of curate's digest store, not one per shuffle
    partition."""

    def test_small_batch_writes_one_file_per_leaf(self, spark, tmp_path):
        from pathlib import Path

        from s3_access_logs_spark.operators.curate import curate_corpus
        from s3_access_logs_spark.streaming import ingest_documents_stream

        def leaves(path):
            return sorted(
                p.parent.name for p in Path(path).rglob("part-*.parquet")
            )

        rows = TestStreamCurateParity.SEED + TestStreamCurateParity.BATCH
        src = tmp_path / "in"
        src.mkdir()
        _drop_jsonl(src, "b0.jsonl", [
            {"doc_id": i, "text": t} for i, t in rows
        ])
        docs = str(tmp_path / "docs")
        ingest_documents_stream(
            spark, str(src), docs, str(tmp_path / "ckpt"), min_quality=0.5,
            scrub_pii=True,
        ).awaitTermination(120)
        assert leaves(docs) == ["batch_id=0"]
        digests = str(tmp_path / "digests")
        curate_corpus(
            spark.createDataFrame(rows, "doc_id long, text string"),
            min_quality=0.5, digest_store=digests, store_batch_id=0,
        )
        assert leaves(digests) == ["batch_id=0"]
        assert spark.read.parquet(digests).count() == 8
