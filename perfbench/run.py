"""Benchmark entry point.

    python3 perfbench/run.py --workload hour_export --seed 1 --seconds 15 --trace 0

Run from the root of a checkout of the repository. The run generates (or
reuses) the workload's seeded inputs under ``.perfbench/cache``, starts a
Spark session from ``session.get_spark()``, performs the workload's set-up,
warms up until op time settles, then drives ops closed-loop for
``--seconds`` seconds, checking every op's output. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Earlier lines are a readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
CPUS = min(4, len(os.sched_getaffinity(0)))

# Warm-up: at least the workload's ``min_warm`` ops, then more until two
# consecutive ops agree within SETTLE, for at most MAX_WARM_S seconds.
SETTLE = 0.10
MAX_WARM_S = 40.0

# How an op runs in a traced run, in turn: untraced; as a whole under
# one tracer span (for the tracer's overhead); decomposed into layer
# prefixes (for the per-layer metrics).
PLAIN, TRACED, DECOMPOSED = range(3)


def _metric_units() -> tuple[dict, dict]:
    """Names and units of the end-to-end and per-layer metrics, as
    BENCHMARK.json defines them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple(
        {m["name"]: m["unit"] for m in spec[key]}
        for key in ("end_to_end", "per_layer")
    )


def _env() -> None:
    """Spark workers import the program from the checkout, and every
    file Spark or Python writes stays inside it."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local


def _start_spark():
    from s3_access_logs_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload, seconds: float, trace: bool) -> None:
        self.w = workload
        self.seconds = seconds
        self.trace = trace
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.i = 0

    def _one(self, mode: int):
        """Run, time and check op ``self.i``. Returns (seconds, check,
        layers) or None when the op raised or failed its check. A
        decomposed op's seconds are those of its last, whole-pipeline
        span, which its layer self times add up to."""
        i = self.i
        self.i += 1
        self.attempted += 1
        layers = {}
        try:
            self.w.stage(i)
            if mode == DECOMPOSED:
                result, span, layers = self.w.traced_op(i, self.tracer)
                dt = span.end - span.start
            elif mode == TRACED:
                t0 = time.perf_counter()
                with self.tracer.span("op.whole", i):
                    result = self.w.op(i)
                dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                result = self.w.op(i)
                dt = time.perf_counter() - t0
            tracer = self.tracer if mode == DECOMPOSED else None
            check = self.w.check(i, result, tracer)
        except Exception:  # a raising op is a failed op; keep driving
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None
        if not check.ok:
            self.failed += 1
            self.errors.append(check.why)
            return None
        layers.update(check.layers)
        return dt, check, layers

    def warm_up(self) -> list[float]:
        """Ops until op time settles. Returns the op times."""
        times: list[float] = []
        t_end = time.perf_counter() + MAX_WARM_S
        while time.perf_counter() < t_end:
            r = self._one(PLAIN)
            times.append(r[0] if r else 0.0)
            if (
                len(times) >= self.w.min_warm
                and abs(times[-1] - times[-2]) <= SETTLE * times[-2]
            ):
                break
        return times

    def measure(self) -> list[list]:
        """Drive ops for ``seconds``. Returns the passing ops of each mode
        as (op index, seconds, check, layers). With tracing, the modes take
        turns, so the tracer's overhead is measured in the same process,
        and the run goes on until each mode has an op."""
        modes = (PLAIN, TRACED, DECOMPOSED) if self.trace else (PLAIN,)
        out: list[list] = [[], [], []]
        t_end = time.perf_counter() + self.seconds
        k = 0
        while self.failed < 20 and (
            time.perf_counter() < t_end or not all(out[m] for m in modes)
        ):
            mode = modes[k % len(modes)]
            k += 1
            i = self.i
            r = self._one(mode)
            if r is not None:
                out[mode].append((i, *r))
        return out


def end_to_end(w, samples, setup_s, ok_ratio) -> dict:
    p50 = statistics.median(s[1] for s in samples)
    return {
        "setup_s": setup_s,
        "throughput": w.items_per_op / p50,
        "p50_ms": p50 * 1e3,
        "bytes_ratio": statistics.median(w.bytes_ratio(s[2], s[0]) for s in samples),
        "files_per_leaf": statistics.median(
            s[2].files_written / max(s[2].leaves_written, 1) for s in samples
        ),
        "ok_ratio": ok_ratio,
    }


def per_layer(plain, traced, decomposed, once, session_s) -> dict:
    out = {"session.start_s": session_s, **once}
    merged: dict[str, list[float]] = {}
    for s in decomposed:
        for k, v in s[3].items():
            merged.setdefault(k, []).append(v)
    for k, vs in merged.items():
        out[k] = statistics.median(vs)
    # the op's read-backs of its own output, through the query layer
    out["plans.sql_surface.pruned_read_ms"] = statistics.median(
        s[2].pruned_ms for s in decomposed
    )
    out["plans.sql_surface.scan_read_ms"] = statistics.median(
        s[2].scan_ms for s in decomposed
    )
    base = statistics.median(s[1] for s in plain) * 1e3
    op_p50 = statistics.median(s[1] for s in traced) * 1e3
    out["trace.untraced_p50_ms"] = base
    out["trace.op_p50_ms"] = op_p50
    out["trace.overhead_ratio"] = op_p50 / base
    out["trace.decomposed_op_p50_ms"] = statistics.median(
        s[1] for s in decomposed
    ) * 1e3
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "s3_access_logs_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the program "
              "(s3_access_logs_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import gen, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    end_to_end_units, per_layer_units = _metric_units()
    _env()
    w = workloads.WORKLOADS[args.workload]()
    cache_dir = os.path.join(STATE, "cache")
    w.prepare(cache_dir, args.seed)
    gen.prune(cache_dir, keep=3)
    # flush the generated files now, so their writeback does not compete
    # with the timed ops for the disk
    os.sync()
    work_dir = os.path.join(STATE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)

    t0 = time.perf_counter()
    spark = _start_spark()
    session_s = time.perf_counter() - t0
    try:
        run = Runner(w, args.seconds, bool(args.trace))
        if args.trace:
            run.tracer = trace.Tracer(spark.sparkContext)
        w.setup(spark, work_dir, run.tracer)
        warm = run.warm_up()
        setup_s = time.perf_counter() - t0
        samples, traced, decomposed = run.measure()
        once = w.trace_once(run.tracer) if args.trace else {}
    finally:
        _stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    for e in run.errors[:5]:
        print(f"op failed: {e}")
    if not samples or (args.trace and not (traced and decomposed)):
        print("no op passed its check")
        return 1
    lat = [s[1] for s in samples]
    half = len(lat) // 2
    drift = (
        statistics.median(lat[half:]) / statistics.median(lat[:half]) - 1
        if half else 0.0
    )
    print(f"{w.name}: seed {args.seed}, {CPUS} cpus, session {session_s:.2f} s, "
          f"set-up {setup_s:.2f} s, warm-up op seconds "
          f"{[round(r, 3) for r in warm]}")
    print(f"{w.name}: {len(samples)} timed ops, drift (2nd-half median / "
          f"1st-half median - 1) {drift:+.3f}")
    ok_ratio = (run.attempted - run.failed) / run.attempted
    if args.trace:
        metrics = per_layer(samples, traced, decomposed, once, session_s)
        units = per_layer_units
        path = os.path.join(STATE, "traces", f"{w.name}-seed{args.seed}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        run.tracer.dump(path)
        print(f"{w.name}: {len(run.tracer.spans)} spans written to {path}")
    else:
        metrics = end_to_end(w, samples, setup_s, ok_ratio)
        units = end_to_end_units
    # exactly the metrics BENCHMARK.json names; per layer, 0 for a layer
    # this workload leaves idle
    metrics = {k: metrics.get(k, 0.0) if args.trace else metrics[k]
               for k in units}
    for k, v in metrics.items():
        print(f"  {k:36s} {v:14.4f} {units[k]}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
