"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload tpch_mysql --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run stages its own inputs (seeded
Parquet tables, CSV, DuckDB answers) in a fresh working directory under
``.perfbench_work/``, points ``TMPDIR``, Spark's local and temp dirs and
every managed table there, and removes it at exit.

Phases: staging (untimed) → set-up, seven times, reported as the median
``setup_s`` → warm-up pass → measured passes until ``--seconds`` have
elapsed and at least the workload's ``min_passes`` (``--trace 0``), or two
untraced passes and one traced pass (``--trace 1``).  The last line of
stdout is the result: ``{"correct", "attempted", "failed", "metrics"}``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: table contents are fixed; --seed only orders statements and draws the
#: DML stream
DATA_SEED = 20240601
SF = 0.01
N_DOCS = 500
N_VECS = 500
SETUP_REPEATS = 7

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "query_geomean_ms": "ms", "jvm_peak_rss_mb": "MB",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _parse_args() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="copy the traced run's spans (JSON lines) here")
    return ap.parse_args()


def _prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update({
        "TMPDIR": tmp,
        "TZ": "UTC",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 4),
    })
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # the whole heap committed from the start, so the JVM's peak RSS does
    # not depend on when the collector chose to grow the heap; no
    # hsperfdata file in /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -Xms{heap} -XX:-UsePerfData" '
        "pyspark-shell"
    )
    time.tzset()
    import tempfile

    tempfile.tempdir = None


class Bench:
    def __init__(self, workload, args, work: str):
        self.w = workload
        self.seconds = args.seconds
        self.rng = random.Random(args.seed)
        self.work = work
        self.data_dir = os.path.join(work, "data")
        self.spark = None
        self.sess = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0

    # -- staging and set-up -------------------------------------------------
    def stage(self) -> None:
        import datagen
        import duckdb

        datagen.write(self.data_dir, SF, N_DOCS, N_VECS, DATA_SEED, self.w.tables)
        self.duck = duckdb.connect()
        self.duck.execute("SET TimeZone='UTC'")
        for t in self.w.tables:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.w.stage(self)

    def start_engine(self) -> float:
        """Engine set-up: Spark session, InfiniSession over the staged
        tables, and a first statement through ``execute()``."""
        from infinidb_spark.session import InfiniSession, get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.w.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sess = InfiniSession(self.spark, self.data_dir)
        self.sess.execute(f"SELECT COUNT(*) AS n FROM {self.w.tables[-1]}").collect()
        return time.perf_counter() - t0

    def stop_engine(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()

    # -- statements -----------------------------------------------------------
    def statement(self, sid: str, build, plans: bool = False):
        """Run one statement from submit to last row fetched.  Returns
        ``(result, DataFrame or None, rows or None, ms)``."""
        tr = self.tracer
        span = tr.span if tr else (lambda *_a: contextlib.nullcontext())
        if tr:
            tr.begin_statement(sid)
        df = rows = None
        try:
            with span("stmt", sid):
                t0 = time.perf_counter()
                with span("plans", sid) if plans else contextlib.nullcontext():
                    res = build()
                if hasattr(res, "collect"):
                    df = res
                    if tr:
                        tr.mark_fetch(sid)
                    with span("fetch", sid):
                        rows = df.collect()
                ms = (time.perf_counter() - t0) * 1000.0
        except BaseException:
            if tr:
                tr.stmt = None
            raise
        if tr:
            tr.end_statement(sid, df, None if rows is None else len(rows))
        return res, df, rows, ms

    @staticmethod
    def expect(what: str, problem: str | None) -> None:
        """Fail the statement being run when its result is wrong."""
        if problem is not None:
            raise AssertionError(f"{what}: wrong result: {problem}")

    def guarded(self, fn):
        """Count one attempted statement; a raise counts it failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            print(traceback.format_exc(limit=3), file=sys.stderr)
            return None

    # -- phases -----------------------------------------------------------------
    def run(self, trace: bool, spans_out: str | None) -> dict:
        t0 = time.perf_counter()
        self.stage()
        log(f"staged in {time.perf_counter() - t0:.1f} s")
        setups = [self.start_engine() for _ in range(SETUP_REPEATS)]
        log("set-up " + ", ".join(f"{s:.2f}" for s in setups) + " s")
        for p in range(self.w.warmup_passes):
            t0 = time.perf_counter()
            self.w.run_pass(self, -1 - p)
            log(f"warm-up pass {p} in {time.perf_counter() - t0:.1f} s")
        if trace:
            return self._traced(spans_out)
        passes = []
        t0 = time.perf_counter()
        while len(passes) < self.w.min_passes or time.perf_counter() - t0 < self.seconds:
            passes.append(self.w.run_pass(self, len(passes)))
            log(f"pass {len(passes) - 1}: {sum(ms for *_x, ms in passes[-1]) / 1000:.2f} s: "
                + " ".join(f"{name}={ms:.0f}" for name, _kind, ms in passes[-1]))
        # statements grouped per plan (llm_pipeline) or per kind
        # (dml_nightly); each group contributes its median
        groups: dict[str, list[float]] = {}
        for p in passes:
            for name, kind, ms in p:
                groups.setdefault(self.w.group(name, kind), []).append(ms)
        medians = {g: statistics.median(v) for g, v in groups.items()}
        return {
            "setup_s": statistics.median(setups),
            "pass_s": sum(medians[g] * len(v) for g, v in groups.items()) / len(passes) / 1000.0,
            "query_geomean_ms": math.exp(statistics.fmean(math.log(m) for m in medians.values())),
            "jvm_peak_rss_mb": self._rss(),
        }

    def _traced(self, spans_out: str | None) -> dict:
        from layers import Tracer

        # the untraced pass compared with the traced one is the second
        # after warm-up, so both sit late in JIT warm-up
        self.w.run_pass(self, 0)
        untraced = self.w.run_pass(self, 1)
        self.tracer = Tracer(self.spark).install()
        try:
            traced = self.w.run_pass(self, 2)
        finally:
            self.tracer.uninstall()
        out = self.tracer.per_layer()
        u_s = sum(ms for *_x, ms in untraced) / 1000.0
        t_s = sum(ms for *_x, ms in traced) / 1000.0
        out["trace.untraced_pass_s"] = u_s
        out["trace.traced_pass_s"] = t_s
        out["trace.overhead_pct"] = 100.0 * (t_s / u_s - 1.0)
        out.update(self.w.nightly_metrics(untraced))
        path = os.path.join(self.work, "spans.jsonl")
        self.tracer.dump(path)
        if spans_out:
            shutil.copyfile(path, spans_out)
        return out

    def _rss(self) -> float:
        from layers import jvm_peak_rss_mb

        return jvm_peak_rss_mb(self.spark)


def main() -> int:
    args = _parse_args()
    if not os.path.isdir(os.path.join(ROOT, "infinidb_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS
    from layers import PER_LAYER

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    if args.spans:
        args.spans = os.path.abspath(args.spans)
    cwd = os.getcwd()
    try:
        _prepare_env(work)
        os.chdir(work)
        bench = Bench(WORKLOADS[args.workload](), args, work)
        try:
            values = bench.run(bool(args.trace), args.spans)
        finally:
            bench.stop_engine()
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    units = {m: u for m, (u, _b) in PER_LAYER.items()} if args.trace else END_TO_END
    metrics = {m: {"value": float(values[m]), "unit": units[m]} for m in units}
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
