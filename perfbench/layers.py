"""Per-layer tracing from outside the engine.

``Tracer.install()`` wraps the engine's public entry points in place (every
module attribute bound to the original function is rebound, so callers
that imported the name directly are covered too).  Each call records a
span ``(id, parent, layer, name, statement, start, end)``; the spans stay
in memory and ``dump()`` writes them out at the end of the run.  A layer's
inclusive time counts only its outermost spans, so nested calls within one
layer are not counted twice; its self time subtracts every child span.

After each statement the tracer reads, with its own py4j traffic excluded
from the counts:

* the Catalyst phase times (``QueryExecution.tracker().phases()``);
* the SQL metrics of the executed plan, descending into AQE query stages,
  reused exchanges and subqueries;
* jobs, stages and tasks of the statement's job group (``statusTracker``);
* the JVM's generated-class compile count (``CodegenMetrics``).

Untraced runs never construct a Tracer, so they install no wrappers.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import sys
import threading
import time
from collections import defaultdict

#: layer -> (module, attribute filter); ``None`` = every public function
#: defined in the module
WRAPPED_MODULES = {
    "dialect": ("infinidb_spark.dialect", ("tokenize", "parse_statement", "translate_mysql")),
    "operators.dedup": ("infinidb_spark.operators.dedup", None),
    "operators.similarity": ("infinidb_spark.operators.similarity", None),
    "operators.embeddings": ("infinidb_spark.operators.embeddings", None),
    "operators.text": ("infinidb_spark.operators.text", None),
    "dml": ("infinidb_spark.operators.dml", None),
    "sources.load": ("infinidb_spark.sources.bulk_load", None),
    "sources.manifest": ("infinidb_spark.sources.manifest", None),
}

#: SQL-metric name -> per-layer counter
PLAN_METRICS = {
    ("scan", "numOutputRows"): "exec.scan_rows",
    ("scan", "filesSize"): "exec.scan_bytes",
    ("scan", "numFiles"): "exec.files_read",
    ("shuffle", "dataSize"): "exec.shuffle_bytes",
    ("broadcast", "dataSize"): "exec.broadcast_bytes",
    ("any", "spillSize"): "exec.spill_bytes",
    ("any", "peakMemory"): "exec.peak_memory_bytes",
}

#: per-layer metric -> (unit, better)
PER_LAYER = {
    "dialect.calls": ("count", "lower"),
    "dialect.ms": ("ms", "lower"),
    "session.execute_ms": ("ms", "lower"),
    "session.self_ms": ("ms", "lower"),
    "plans.build_ms": ("ms", "lower"),
    "plans.py4j_calls": ("count", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "operators.dedup_ms": ("ms", "lower"),
    "operators.similarity_ms": ("ms", "lower"),
    "operators.embeddings_ms": ("ms", "lower"),
    "operators.text_ms": ("ms", "lower"),
    "dml.ms": ("ms", "lower"),
    "dml.rows_affected": ("count", "higher"),
    "dml.files_written": ("count", "lower"),
    "dml.files_linked": ("count", "higher"),
    "dml.bytes_written": ("B", "lower"),
    "dml.bytes_per_row": ("B/row", "lower"),
    "dml.space_amp": ("ratio", "lower"),
    "sources.load_ms": ("ms", "lower"),
    "sources.load_rows": ("count", "higher"),
    "sources.load_rejects": ("count", "lower"),
    "sources.manifest_ms": ("ms", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "exec.ms": ("ms", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.scan_rows": ("count", "lower"),
    "exec.scan_bytes": ("B", "lower"),
    "exec.files_read": ("count", "lower"),
    "exec.shuffle_bytes": ("B", "lower"),
    "exec.broadcast_bytes": ("B", "lower"),
    "exec.spill_bytes": ("B", "lower"),
    "exec.peak_memory_bytes": ("B", "lower"),
    "exec.codegen_compiles": ("count", "lower"),
    "exec.result_rows": ("count", "higher"),
    "py4j.calls": ("count", "lower"),
    "nightly.load_rows_per_s": ("rows/s", "higher"),
    "nightly.write_p50_ms": ("ms", "lower"),
    "nightly.read_p50_ms": ("ms", "lower"),
    "nightly.stmt_tail_ms": ("ms", "lower"),
    "trace.untraced_pass_s": ("s", "lower"),
    "trace.traced_pass_s": ("s", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "trace.inspect_s": ("s", "lower"),
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple] = []
        self.stack: list[int] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.stmt: str | None = None
        self.py4j_paused = False
        self.inspect_s = 0.0
        self._undo: list[tuple] = []

    # -- spans -------------------------------------------------------------
    def _enter(self, layer: str, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else -1
        self.spans.append([sid, parent, layer, name, self.stmt, time.perf_counter(), None])
        self.stack.append(sid)
        return sid

    def _exit(self, sid: int) -> None:
        self.spans[sid][6] = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        sid = self._enter(layer, name)
        try:
            yield
        finally:
            self._exit(sid)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.stmt is None:  # the benchmark's own work between statements
                return fn(*a, **kw)
            sid = tracer._enter(layer, name)
            try:
                result = fn(*a, **kw)
            finally:
                tracer._exit(sid)
            if layer == "sources.load" and hasattr(result, "rows_loaded"):
                tracer.counts["sources.load_rows"] += result.rows_loaded
                tracer.counts["sources.load_rejects"] += result.rows_rejected
            return result

        return wrapper

    # -- install / uninstall -------------------------------------------------
    def _rebind_everywhere(self, original, replacement) -> None:
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("infinidb_spark") or name.startswith("__spark_entry__")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)
                    self._undo.append((mod, attr, original))

    def install(self) -> "Tracer":
        import importlib

        from py4j import protocol as proto

        for layer, (modname, only) in WRAPPED_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, val in list(vars(mod).items()):
                if only is not None and attr not in only:
                    continue
                if only is None and (
                    attr.startswith("_")
                    or not inspect.isfunction(val)
                    or val.__module__ != modname
                ):
                    continue
                self._rebind_everywhere(val, self._wrap(val, layer, f"{modname}.{attr}"))

        from infinidb_spark import session as S

        for attr in ("execute", "sql"):
            orig = getattr(S.InfiniSession, attr)
            setattr(S.InfiniSession, attr, self._wrap(orig, "session", f"InfiniSession.{attr}"))
            self._undo.append((S.InfiniSession, attr, orig))
        self._rebind_everywhere(
            S.load_tables, self._wrap(S.load_tables, "session", "session.load_tables")
        )

        client_cls = type(self.spark.sparkContext._gateway._gateway_client)
        orig_send = client_cls.send_command

        # Python-side garbage collection of JVM object handles is sent from
        # a finalizer thread at times the collector picks; not counted
        gc_prefix = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
        main = threading.get_ident()

        def send_command(client, command, *a, **kw):
            if (
                tracer.stmt is not None
                and not tracer.py4j_paused
                and threading.get_ident() == main
                and not command.startswith(gc_prefix)
            ):
                tracer.counts["py4j.calls"] += 1
                if any(tracer.spans[s][2] == "plans" for s in tracer.stack):
                    tracer.counts["plans.py4j_calls"] += 1
            return orig_send(client, command, *a, **kw)

        tracer = self
        client_cls.send_command = send_command
        self._undo.append((client_cls, "send_command", orig_send))
        return self

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()

    # -- per-statement JVM readings -----------------------------------------
    def _codegen_count(self) -> int:
        jvm = self.spark.sparkContext._jvm
        return int(
            jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
        )

    def begin_statement(self, stmt_id: str) -> None:
        self.py4j_paused = True
        try:
            self.stmt = stmt_id
            self._codegen0 = self._codegen_count()
            sc = self.spark.sparkContext
            sc.setJobGroup(f"pb-build-{stmt_id}", stmt_id)
        finally:
            self.py4j_paused = False

    def mark_fetch(self, stmt_id: str) -> None:
        """Jobs after this point belong to the result fetch, not the build."""
        self.py4j_paused = True
        try:
            self.spark.sparkContext.setJobGroup(f"pb-fetch-{stmt_id}", stmt_id)
        finally:
            self.py4j_paused = False

    def end_statement(self, stmt_id: str, df=None, rows: int | None = None) -> None:
        t0 = time.perf_counter()
        self.py4j_paused = True
        try:
            c = self.counts
            c["exec.codegen_compiles"] += self._codegen_count() - self._codegen0
            if rows is not None:
                c["exec.result_rows"] += rows
            st = self.spark.sparkContext.statusTracker()
            for kind in ("build", "fetch"):
                jobs = list(st.getJobIdsForGroup(f"pb-{kind}-{stmt_id}"))
                c["exec.jobs"] += len(jobs)
                if kind == "build" and self._stmt_has("plans", stmt_id):
                    c["plans.build_jobs"] += len(jobs)
                for jid in jobs:
                    info = st.getJobInfo(jid)
                    for sid in (info.stageIds if info else []):
                        si = st.getStageInfo(sid)
                        if si is not None and si.numCompletedTasks > 0:
                            c["exec.stages"] += 1
                            c["exec.tasks"] += si.numCompletedTasks
            if df is not None:
                self._read_query_execution(df._jdf.queryExecution())
            self.spark.sparkContext.setJobGroup("pb-idle", "idle")
        finally:
            self.py4j_paused = False
            self.stmt = None
            self.inspect_s += time.perf_counter() - t0

    def _stmt_has(self, layer: str, stmt_id: str) -> bool:
        return any(s[2] == layer and s[4] == stmt_id for s in self.spans)

    def _read_query_execution(self, qe) -> None:
        c = self.counts
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)  # a scala.Option
            if summary.isDefined():
                c[f"catalyst.{phase}_ms"] += summary.get().durationMs()
        seen: set[int] = set()
        self._walk(qe.executedPlan(), seen)

    def _walk(self, node, seen: set[int]) -> None:
        jvm = self.spark.sparkContext._jvm
        ident = jvm.System.identityHashCode(node)
        if ident in seen:
            return
        seen.add(ident)
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            self._walk(node.executedPlan(), seen)
            return
        if cls.endswith("QueryStageExec"):
            self._walk(node.plan(), seen)
            return
        if cls == "ReusedExchangeExec":
            self._walk(node.child(), seen)
            return
        kind = (
            "scan" if "Scan" in cls
            else "shuffle" if cls.startswith("ShuffleExchange")
            else "broadcast" if cls.startswith("BroadcastExchange")
            else "other"
        )
        metrics = jvm.scala.jdk.javaapi.CollectionConverters.asJava(node.metrics())
        for (k, name), counter in PLAN_METRICS.items():
            if k in (kind, "any") and metrics.containsKey(name):
                self.counts[counter] += metrics.get(name).value()
        children = node.children()
        for i in range(children.length()):
            self._walk(children.apply(i), seen)
        subs = node.subqueries()
        for i in range(subs.length()):
            self._walk(subs.apply(i), seen)

    # -- summary -------------------------------------------------------------
    def layer_times(self) -> dict[str, float]:
        """Inclusive ms of each layer's outermost spans, plus self ms."""
        spans = self.spans
        incl: dict[str, float] = defaultdict(float)
        self_ms: dict[str, float] = defaultdict(float)
        child_ms: dict[int, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for sid, parent, layer, _name, _stmt, t0, t1 in spans:
            dur = (t1 - t0) * 1000 if t1 is not None else 0.0
            if parent >= 0:
                child_ms[parent] += dur
            # outermost within its layer: no ancestor of the same layer
            p = parent
            while p >= 0 and spans[p][2] != layer:
                p = spans[p][1]
            if p < 0:
                incl[layer] += dur
                calls[layer] += 1
        for sid, _parent, layer, *_rest in spans:
            t0, t1 = spans[sid][5], spans[sid][6]
            dur = (t1 - t0) * 1000 if t1 is not None else 0.0
            self_ms[layer] += dur - child_ms[sid]
        return {"incl": incl, "self": self_ms, "calls": calls}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, layer, name, stmt, t0, t1 in self.spans:
                fh.write(json.dumps({
                    "id": sid, "parent": parent, "layer": layer, "name": name,
                    "stmt": stmt, "start": t0, "end": t1,
                }) + "\n")

    def per_layer(self) -> dict[str, float]:
        lt = self.layer_times()
        c = self.counts
        out = {m: 0.0 for m in PER_LAYER}
        out.update({k: v for k, v in c.items() if k in out})
        out["dialect.calls"] = lt["calls"]["dialect"]
        out["dialect.ms"] = lt["incl"]["dialect"]
        out["session.execute_ms"] = lt["incl"]["session"]
        out["session.self_ms"] = lt["self"]["session"]
        out["plans.build_ms"] = lt["incl"]["plans"]
        for op in ("dedup", "similarity", "embeddings", "text"):
            out[f"operators.{op}_ms"] = lt["incl"][f"operators.{op}"]
        out["dml.ms"] = lt["incl"]["dml"]
        out["sources.load_ms"] = lt["incl"]["sources.load"]
        out["sources.manifest_ms"] = lt["incl"]["sources.manifest"]
        out["exec.ms"] = lt["incl"]["fetch"]
        if out["dml.rows_affected"]:
            out["dml.bytes_per_row"] = out["dml.bytes_written"] / out["dml.rows_affected"]
        out["trace.inspect_s"] = self.inspect_s
        return out


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, from /proc."""
    pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def inode_bytes(root: str) -> dict[str, tuple[int, int]]:
    """path -> (inode, size) of every regular file under ``root``;
    symlinks are not followed."""
    out: dict[str, tuple[int, int]] = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if os.path.islink(p):
                continue
            st = os.stat(p)
            out[p] = (st.st_ino, st.st_size)
    return out
