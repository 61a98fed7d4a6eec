"""The benchmark workloads.

Each workload is driven closed-loop by one client: the next op starts
when the previous one returned and was checked. A workload has

* ``min_warm``: the fewest warm-up ops before op time may count as settled;
* ``prepare(cache_dir, seed)``: make (or reuse) its seeded inputs and the
  expected answers; not timed;
* ``setup(spark, work_dir, tracer)``: the one-off work a user pays before
  the first op; timed into ``setup_s``;
* ``stage(i)``: make op ``i``'s input ready; not timed;
* ``op(i)``: one timed call into the program;
* ``check(i, result, tracer)``: reads the output back with DuckDB and
  compares it with the expected answer. Returns a :class:`Check`. With a
  tracer, the output is also read back through ``spark.sql``, recorded as
  spans, so the query layer can be measured;
* ``traced_op(i, tracer)``: the same call with each layer's prefix timed
  into a ``noop`` sink first; returns the op's result, its span and the
  per-layer values of the op;
* ``trace_once(tracer)``: per-layer values measured once per traced run;
* ``bytes_ratio(check, i)``: bytes the op wrote over its input text bytes.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from perfbench import gen

#: Sizes of the generated inputs (also stated in BENCHMARK.json). Each
#: call pays a fixed cost (Spark jobs, commit) besides its per-item work;
#: these sizes make the per-item work, which the program's layers do, the
#: larger share of an op (see METRICS.md, "Sizing").
HOUR_LINES = 100_000
CORPUS_DOCS = 2_000
CURATE = {"min_quality": 0.5, "langs": ("en",)}
N_SHARDS = 4
WINDOW_IDS = 256


@dataclass
class Check:
    ok: bool
    why: str = ""
    pruned_ms: float = 0.0
    scan_ms: float = 0.0
    files_written: int = 0
    leaves_written: int = 0
    bytes_written: int = 0
    layers: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def data_files(root: str) -> dict[str, tuple[int, int]]:
    """Every data file under a hive-layout table: path -> (mtime, size)."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_mtime_ns, st.st_size)
    return out


def _written(before: dict, after: dict) -> tuple[int, int, int]:
    """(files, leaf dirs, bytes) an op added or replaced."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return (
        len(new),
        len({os.path.dirname(p) for p in new}),
        sum(after[p][1] for p in new),
    )


def scan_files_read(df) -> int:
    """Data files the executed plan of ``df`` actually opened, from the
    file-scan nodes' ``numFiles`` metric (``df.inputFiles()`` lists the
    whole index, not the pruned set). Call after the query ran."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif cls == "FileSourceScanExec":
            total += int(node.metrics().apply("numFiles").value())
        else:
            children = node.children()
            stack.extend(children.apply(i) for i in range(children.size()))
    return total


def run_sql(spark, sql: str, tracer=None, n_files: int = 0, op: int | None = None):
    """``spark.sql(sql).collect()``, traced as the query layer when a
    tracer is given: the ``spark.sql`` call (parse, analysis) and the
    collect (plan, execute) are separate spans. Returns the canonical
    rows, the latency in milliseconds and the layer values."""
    if tracer is None:
        t0 = time.perf_counter()
        rows = spark.sql(sql).collect()
        return canonical(rows), (time.perf_counter() - t0) * 1e3, {}
    with tracer.span("plans.sql_surface.query", op) as q:
        with tracer.span("plans.sql_surface.analyze") as a:
            df = spark.sql(sql)
        with tracer.span("plans.sql_surface.exec") as e:
            rows = df.collect()
    layers = {
        "plans.sql_surface.analyze_ms": a.ms,
        "plans.sql_surface.exec_ms": e.ms,
        "plans.sql_surface.tasks_per_query": q.tasks,
        "plans.sql_surface.files_read_ratio": (
            scan_files_read(df) / n_files if n_files else 0.0
        ),
    }
    return canonical(rows), q.ms, layers


def read_layers(pruned: dict, scan: dict) -> dict:
    """Query-layer values of an op's two read-backs: times and tasks
    averaged over both, the file ratio of the pruned one."""
    if not pruned:
        return {}
    out = {k: (pruned[k] + scan[k]) / 2 for k in pruned}
    key = "plans.sql_surface.files_read_ratio"
    out[key] = pruned[key]
    return out


def canonical(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


def duck_rows(sql: str, files: list[str]) -> list[tuple]:
    """Run ``sql`` in DuckDB over the parquet ``files``, bound as the
    table ``t`` with a ``filename`` column; canonical rows. DuckDB reads
    the program's output independently of Spark."""
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    try:
        paths = ", ".join("'" + f.replace("'", "''") + "'" for f in sorted(files))
        con.execute(f"CREATE VIEW t AS SELECT * FROM "
                    f"read_parquet([{paths}], filename = true)")
        return canonical(con.sql(sql).fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------------------
# hour_export
# ---------------------------------------------------------------------------


class HourExport:
    """One ``export_hour`` per op, each over a distinct generated hour,
    into one table that grows hour by hour as the hourly cron's does."""

    name = "hour_export"
    min_warm = 5

    def prepare(self, cache_dir: str, seed: int) -> None:
        self.logs = gen.LogHours(cache_dir, seed, HOUR_LINES)
        self.items_per_op = HOUR_LINES
        self.hours: dict[int, gen.HourInfo] = {}

    def setup(self, spark, work_dir: str, tracer=None) -> None:
        from s3_access_logs_spark.operators.etl import export_hour, read_parsed
        from s3_access_logs_spark.operators.parse import parse_logs
        from s3_access_logs_spark.sources.logs import read_logs

        self.spark = spark
        self.dst = os.path.join(work_dir, "table")
        self.export_hour, self.read_parsed = export_hour, read_parsed
        self.parse_logs, self.read_logs = parse_logs, read_logs
        self.files = {}

    def stage(self, i: int) -> None:
        self.hours[i] = self.logs.hour(i)

    def _hour(self, i: int) -> gen.HourInfo:
        return self.hours[i]

    def op(self, i: int):
        return self.export_hour(
            self.spark, self.logs.src, self.dst, hour=self._hour(i).prefix
        )

    def traced_op(self, i: int, tracer) -> tuple:
        from pyspark.sql import functions as F

        h = self._hour(i)
        with tracer.span("op", i):
            with tracer.span("prefix.sources.logs.read_logs") as p1:
                _noop(self.read_logs(self.spark, self.logs.src, hour=h.prefix))
            with tracer.span("prefix.operators.parse.parse_logs") as p2:
                _noop(self.parse_logs(
                    self.read_logs(self.spark, self.logs.src, hour=h.prefix)
                ))
            with tracer.span("operators.etl.export_hour") as w:
                n = self.export_hour(
                    self.spark, self.logs.src, self.dst, hour=h.prefix
                )
        with tracer.span("count.operators.parse.wellformed", i):
            wf = self.parse_logs(
                self.read_logs(self.spark, self.logs.src, hour=h.prefix)
            ).agg(F.count("ts").alias("ok"), F.count(F.lit(1)).alias("n")).first()
        return n, w, {
            "sources.logs.scan_ms": p1.ms,
            "operators.parse.self_ms": p2.ms - p1.ms,
            "operators.parse.wellformed_ratio": wf["ok"] / max(wf["n"], 1),
            "operators.etl.write_self_ms": w.ms - p2.ms,
            "operators.etl.jobs_per_op": w.jobs,
            "operators.etl.tasks_per_op": w.tasks,
        }

    def trace_once(self, tracer) -> dict:
        return {}

    def check(self, i: int, n_rows, tracer=None) -> Check:
        h = self._hour(i)
        before, self.files = self.files, data_files(self.dst)
        files, leaves, nbytes = _written(before, self.files)
        if n_rows != h.n_lines:
            return Check(False, f"{h.prefix}: export_hour returned {n_rows}, "
                                f"expected {h.n_lines} lines")
        y, m, d, hh = h.part
        tail = [f"year={y}", f"month={m}", f"day={d}", f"hour={hh}"]
        leaf_of = {}  # data file of this hour -> (bucket, operation)
        for f in self.files:
            segs = os.path.relpath(os.path.dirname(f), self.dst).split("/")
            if segs[2:] == tail:
                leaf_of[f] = tuple(s.split("=", 1)[1] for s in segs[:2])
        want_dirs = {(b, o) for b, o, _, _ in h.leaves}
        if set(leaf_of.values()) != want_dirs:
            return Check(False, f"{h.prefix}: partition dirs differ from the "
                                f"expected set ({len(set(leaf_of.values()))} "
                                f"vs {len(want_dirs)})")
        per_file = duck_rows(
            "SELECT filename, count(*), coalesce(sum(bytessent), 0) FROM t "
            "GROUP BY filename", list(leaf_of),
        )
        per_leaf: dict[tuple, list[int]] = {}
        for f, n, b in per_file:
            acc = per_leaf.setdefault(leaf_of[f], [0, 0])
            acc[0] += n
            acc[1] += b
        if sorted((*k, *v) for k, v in per_leaf.items()) != canonical(h.leaves):
            return Check(False, f"{h.prefix}: the hour's files hold other rows "
                                "than the generated lines")
        if tracer is None:
            return Check(True, files_written=files, leaves_written=leaves,
                         bytes_written=nbytes)
        # traced: read the hour back through the query layer as well
        with tracer.span("operators.etl.read_parsed", i) as rp:
            view = self.read_parsed(self.spark, self.dst)
        view.createOrReplaceTempView("logs")
        where = f"year = {y} AND month = {m} AND day = {d} AND hour = {hh}"
        b, o, n, s = max(h.leaves, key=lambda x: x[2])
        rows, pruned_ms, lp = run_sql(
            self.spark,
            "SELECT count(*) AS n, sum(bytessent) AS b FROM logs "
            f"WHERE bucket_name = '{b}' AND operation = '{o}' AND {where}",
            tracer, len(self.files), i,
        )
        if rows != [(n, s)]:
            return Check(False, f"{h.prefix}: leaf {b}/{o} read back "
                                f"{rows}, expected {(n, s)}")
        rows, scan_ms, ls = run_sql(
            self.spark,
            "SELECT bucket_name, operation, count(*) AS n, sum(bytessent) AS b "
            f"FROM logs WHERE {where} GROUP BY bucket_name, operation",
            tracer, len(self.files), i,
        )
        if rows != canonical(h.leaves):
            return Check(False, f"{h.prefix}: hour read back differs from the "
                                "generated lines")
        layers = read_layers(lp, ls)
        layers["operators.etl.read_parsed_ms"] = rp.ms
        layers["operators.etl.files_written"] = files
        layers["operators.etl.bytes_written"] = nbytes
        return Check(True, pruned_ms=pruned_ms, scan_ms=scan_ms,
                     files_written=files, leaves_written=leaves,
                     bytes_written=nbytes, layers=layers)

    def bytes_ratio(self, c: Check, i: int) -> float:
        return c.bytes_written / self._hour(i).text_bytes


# ---------------------------------------------------------------------------
# corpus_export
# ---------------------------------------------------------------------------


class CorpusExport:
    """One ``export_training_set`` per op over the same seeded corpus:
    curate (exact dedup, quality and language gates), BPE-tokenise, pack
    and shard-write."""

    name = "corpus_export"
    min_warm = 5

    def prepare(self, cache_dir: str, seed: int) -> None:
        self.corpus = gen.corpus(cache_dir, seed, CORPUS_DOCS)
        self.items_per_op = self.corpus.n_docs

    def setup(self, spark, work_dir: str, tracer=None) -> None:
        from s3_access_logs_spark.functions import bpe
        from s3_access_logs_spark.operators.curate import curate_corpus
        from s3_access_logs_spark.operators.export import export_training_set

        self.spark = spark
        self.dst = os.path.join(work_dir, "shards")
        self.docs = spark.read.parquet(self.corpus.path)
        self.export_training_set, self.curate_corpus = export_training_set, curate_corpus
        self.bpe = bpe
        self.eos = len(bpe.bpe_vocab(bpe.default_merges()))
        self.reference = None

    def stage(self, i: int) -> None:
        pass

    def op(self, i: int) -> dict:
        _, report = self.export_training_set(
            self.docs, self.dst, n_shards=N_SHARDS, window_ids=WINDOW_IDS,
            curate=CURATE,
        )
        return {r["stage"]: r["dropped"] for r in report.collect()}

    def traced_op(self, i: int, tracer) -> tuple:
        with tracer.span("op", i):
            with tracer.span("prefix.operators.curate.curate_corpus") as p1:
                kept, report = self.curate_corpus(self.docs, **CURATE)
                _noop(kept)
            with tracer.span("prefix.functions.bpe.bpe_token_ids") as p2:
                kept, _ = self.curate_corpus(self.docs, **CURATE)
                _noop(kept.select(self.bpe.bpe_token_ids("text").alias("ids")))
            with tracer.span("operators.export.export_training_set") as w:
                result = self.op(i)
        dropped = sum(r["dropped"] for r in report.collect())
        return result, w, {
            "operators.curate.self_ms": p1.ms,
            "operators.curate.kept_ratio": 1 - dropped / self.corpus.n_docs,
            "functions.bpe.self_ms": p2.ms - p1.ms,
            "operators.export.self_ms": w.ms - p2.ms,
            "operators.export.jobs_per_op": w.jobs,
            "operators.export.tokens_kept": result.get("tokens_kept", 0),
        }

    def trace_once(self, tracer) -> dict:
        """The MinHash near-dup stage, which the op leaves off: the curate
        prefix with ``near_dup`` on, less the same prefix without it."""
        with tracer.span("prefix.operators.curate.curate_corpus") as p0:
            kept, _ = self.curate_corpus(self.docs, **CURATE)
            _noop(kept)
        with tracer.span("prefix.operators.dedup.minhash") as p1:
            kept, report = self.curate_corpus(self.docs, near_dup=True, **CURATE)
            _noop(kept)
        dropped = {r["stage"]: r["dropped"] for r in report.collect()}
        return {
            "operators.dedup.minhash_self_ms": p1.ms - p0.ms,
            "operators.dedup.near_dup_dropped": dropped.get("near_dup", 0),
        }

    def check(self, i: int, report: dict, tracer=None) -> Check:
        keys = ("tokens_kept", "windows_emitted", "shards_written")
        got = tuple(report.get(k) for k in keys)
        if self.reference is None:
            self.reference = got
        if got != self.reference:
            return Check(False, f"report {got} differs from the first op's "
                                f"{self.reference}")
        if report.get("exact_dup", 0) < self.corpus.n_exact_dups:
            return Check(False, f"exact_dup dropped {report.get('exact_dup')}, "
                                f"injected {self.corpus.n_exact_dups}")
        files = data_files(self.dst)
        shard_of = {
            f: int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
            for f in files
        }
        per_shard: dict[int, list[int]] = {}
        for f, nw, total, neos in duck_rows(
            "SELECT filename, count(*), sum(len(ids)), "
            f"sum(len(list_filter(ids, x -> x = {self.eos}))) "
            "FROM t GROUP BY filename", list(files),
        ):
            acc = per_shard.setdefault(shard_of[f], [0, 0, 0])
            acc[0] += nw
            acc[1] += total
            acc[2] += neos
        totals = (
            sum(total - neos for _, total, neos in per_shard.values()),
            sum(nw for nw, _, _ in per_shard.values()),
            len(per_shard),
        )
        if totals != got:
            return Check(False, f"written shards hold {totals}, report says {got}")
        written = dict(
            files_written=len(files),
            leaves_written=len(per_shard),
            bytes_written=sum(v[1] for v in files.values()),
        )
        if tracer is None:
            return Check(True, **written)
        # traced: read the shards back through the query layer as well
        self.spark.read.parquet(self.dst).createOrReplaceTempView("windows")
        rows, scan_ms, ls = run_sql(
            self.spark,
            "SELECT shard, count(*) AS nw, sum(size(ids)) AS total, "
            f"sum(size(filter(ids, x -> x = {self.eos}))) AS neos "
            "FROM windows GROUP BY shard",
            tracer, len(files), i,
        )
        if rows != canonical((k, *v) for k, v in per_shard.items()):
            return Check(False, "shards read back through spark.sql differ "
                                "from their files")
        shard = min(per_shard)
        rows, pruned_ms, lp = run_sql(
            self.spark,
            "SELECT count(*) AS nw, sum(size(ids)) AS total FROM windows "
            f"WHERE shard = {shard}",
            tracer, len(files), i,
        )
        if rows != [tuple(per_shard[shard][:2])]:
            return Check(False, f"shard {shard} read back {rows}, "
                                f"expected {per_shard[shard][:2]}")
        return Check(True, pruned_ms=pruned_ms, scan_ms=scan_ms,
                     layers=read_layers(lp, ls), **written)

    def bytes_ratio(self, c: Check, i: int) -> float:
        return c.bytes_written / self.corpus.text_bytes


WORKLOADS = {w.name: w for w in (HourExport, CorpusExport)}
