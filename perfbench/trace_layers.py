"""Tracing for the per-layer metrics (``--trace 1``).

Everything is measured from outside the engine: the benchmark wraps
the public functions of each layer's module, the py4j gateway client,
the S3 emulator's request handler and the Spark status tracker, and
reads /proc for the JVM and the Python workers. Each wrapped call
records a span (name, start, end, parent, operation id) in memory and
adds to the counters of the operation in progress; the spans are
written out when the run ends. Calls made outside a timed operation
(set-up, warmup, checks) add to no counter.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import harness

EXPORT_OPS = ("json", "avro", "tfrecord", "q01", "q61")
KEYED_OPS = ("upsert_narrow", "upsert_bulk", "delete", "cdc", "scan",
             "point_read", "asof_read", "maintain")


def _per_op(pattern: str, unit: str, ops, key: str,
            pct: bool = False) -> list[tuple]:
    return [(pattern.format(op=op), unit, op, key, pct) for op in ops]


def _run(name: str, unit: str) -> tuple:
    return (name, unit, None, None, False)


_PY_OPS = ("avro", "tfrecord", "upsert_bulk", "scan", "point_read",
           "maintain")
_FSIO_OPS = ("upsert_narrow", "upsert_bulk", "delete", "cdc")
_HTTP_OPS = ("upsert_narrow", "scan", "point_read", "maintain")

#: Every per-layer metric a traced run prints, in order, as (name, unit,
#: operation kind, per-operation counter, as a share of wall time).
#: Per-kind metrics are the median over the operations of that kind;
#: ``%`` metrics are a layer's time as a share of the operation's wall
#: time (``cpu_pct`` can exceed 100 when several cores work for one
#: operation). Run-level metrics (no kind) are computed in ``metrics``.
METRICS: list[tuple] = [
    _run("session.build_s", "s"),
    _run("jvm.jit_s", "s"),
    _run("jvm.gc_s", "s"),
    _run("jvm.cpu_s", "s"),
    _run("jvm.codecache_used_mb", "MB"),
    _run("jvm.codegen_method_max_bytes", "bytes"),
    _run("pyworker.cpu_s", "s"),
    _run("py4j.calls", "count"),
    _run("py4j.wait_s", "s"),
    _run("driver.self_s", "s"),
    *_per_op("plans.{op}.build_pct", "%", EXPORT_OPS[:3], "plans.s", True),
    *_per_op("plans.{op}.py4j_calls", "count", EXPORT_OPS[:3],
             "plans.py4j_calls"),
    *_per_op("writers.{op}.pct", "%", ("json", "avro"), "writers.s", True),
    *_per_op("writers.{op}.files", "count", ("json", "avro"),
             "writers.files"),
    *_per_op("writers.{op}.bytes", "bytes", ("json", "avro"),
             "writers.bytes"),
    ("avro_io.write_pct", "%", "avro", "avro_io.s", True),
    ("tfrecord.write_pct", "%", "tfrecord", "tfrecord.s", True),
    *[m for q in ("q01", "q61") for m in (
        (f"queries.{q}.build_pct", "%", q, "queries.build.s", True),
        (f"queries.{q}.exec_pct", "%", q, "queries.exec.s", True))],
    *_per_op("jvm.{op}.gc_pct", "%", ("q01", "q61"), "jvm.gc_s", True),
    *_per_op("pyworker.{op}.cpu_pct", "%", _PY_OPS, "pyworker.cpu_s", True),
    *_per_op("spark.{op}.jobs", "count", EXPORT_OPS + KEYED_OPS,
             "spark.jobs"),
    *_per_op("spark.{op}.tasks", "count", KEYED_OPS, "spark.tasks"),
    *_per_op("py4j.{op}.calls", "count", ("q01", "q61") + KEYED_OPS,
             "py4j.calls"),
    *_per_op("py4j.{op}.wait_pct", "%", KEYED_OPS, "py4j.wait_s", True),
    *_per_op("driver.{op}.self_pct", "%", KEYED_OPS, "driver.self_s", True),
    *_per_op("mutations.{op}.pct", "%", KEYED_OPS, "mutations.s", True),
    _run("mutations.conflicts", "count"),
    *_per_op("fsio.{op}.calls", "count", _FSIO_OPS, "fsio.calls"),
    *_per_op("fsio.{op}.pct", "%", _FSIO_OPS, "fsio.s", True),
    *_per_op("http.{op}.requests", "count", _HTTP_OPS, "http.requests"),
    *_per_op("http.{op}.pct", "%", _HTTP_OPS, "http.s", True),
    _run("http.bytes", "bytes"),
    _run("http.retries", "count"),
    _run("sigv4.pct", "%"),
    *_per_op("objstore_plane.{op}.pct", "%",
             ("upsert_bulk", "scan", "asof_read", "maintain"),
             "objstore_plane.s", True),
    *[_run(f"s3emu.requests.{m}", "count")
      for m in ("get", "put", "head", "delete", "list")],
    _run("s3emu.bytes_in", "bytes"),
    _run("s3emu.bytes_out", "bytes"),
    _run("s3emu.service_pct", "%"),
    _run("s3emu.objects", "count"),
    _run("s3emu.bytes", "bytes"),
    _run("s3emu.space_amp", "ratio"),
]

#: layer name -> (module, attribute names); methods are "Class.method".
#: Only the outermost call of a layer is timed, so a layer function
#: calling another of the same layer counts once.
LAYERS = {
    "plans": ("dataflowtemplates_spark.plans", ("run_query",)),
    "writers": ("dataflowtemplates_spark.sources.writers",
                ("write_text_dynamic", "write_columnar_dynamic")),
    "avro_io": ("dataflowtemplates_spark.operators.avro_io",
                ("write_avro",)),
    "tfrecord": ("dataflowtemplates_spark.operators.tfrecord",
                 ("write_tfrecords",)),
    "mutations": ("dataflowtemplates_spark.operators.mutations",
                  tuple(f"KeyedTable.{m}" for m in (
                      "create", "read", "read_at", "apply_mutations",
                      "apply_changes", "optimize", "vacuum"))),
    "fsio": ("dataflowtemplates_spark.operators.fsio",
             ("read_bytes", "write_bytes", "create_exclusive",
              "delete_file", "exists", "is_dir", "mkdirs", "move",
              "delete_dir", "list_dir", "list_dir_typed", "list_files",
              "newest_mtime_under", "resolve_fs")),
    "http": ("dataflowtemplates_spark.operators.httpstore",
             ("HttpObjectTransport._roundtrip",)),
    "sigv4": ("dataflowtemplates_spark.operators.sigv4",
              ("sign_headers",)),
    "objstore_plane": ("dataflowtemplates_spark.operators.objstore_plane",
                       ("write_partitioned", "read_parquet")),
}


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[tuple] = []
        self.session_build_s = 0.0
        #: bytes stored over bytes of the live rows, set by the keyed
        #: workload at the end of its run
        self.space_amp = 0.0
        self.ops: dict[str, list[dict]] = defaultdict(list)
        self._cur: dict[str, float] | None = None
        self._op_id = 0
        self._depth: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._sid = 0
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._patches: list[tuple] = []
        self._emu = None

    # -- patching -----------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_everywhere(self, module, attr: str, wrapper) -> None:
        """Replace ``module.attr`` and every engine module's imported
        reference to the same function."""
        orig = getattr(module, attr)
        wrapped = wrapper(orig)
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not name.startswith("dataflowtemplates_spark"):
                continue
            if getattr(mod, attr, None) is orig:
                self._patch(mod, attr, wrapped)

    def detach(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- spans --------------------------------------------------------
    def _record(self, sid: int, name: str, t0: float, t1: float,
                parent: int | None) -> None:
        with self._lock:
            self.spans.append((sid, name, t0, t1, parent, self._op_id))

    def _next_id(self) -> int:
        self._sid += 1
        return self._sid

    def add(self, key: str, value: float) -> None:
        if self._cur is not None:
            with self._lock:
                self._cur[key] = self._cur.get(key, 0.0) + value

    @contextmanager
    def span(self, layer: str):
        """A span around a call into ``layer``. The operation's counters
        ``<layer>.s``, ``.calls`` and ``.py4j_calls`` count the
        outermost call only, so nested calls of one layer count once."""
        outer = self._depth[layer] == 0
        self._depth[layer] += 1
        parent = self._stack[-1] if self._stack else None
        sid = self._next_id()
        self._stack.append(sid)
        calls0 = (self._cur or {}).get("py4j.calls", 0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self._depth[layer] -= 1
            if self._cur is not None:
                self._record(sid, layer, t0, t1, parent)
                if outer:
                    self.add(f"{layer}.s", t1 - t0)
                    self.add(f"{layer}.calls", 1)
                    self.add(f"{layer}.py4j_calls",
                             self._cur.get("py4j.calls", 0.0) - calls0)

    def _wrap_layer(self, layer: str):
        def wrapper(fn):
            @functools.wraps(fn)
            def inner(*a, **kw):
                if self._cur is None or threading.get_ident() != self._main:
                    return fn(*a, **kw)
                with self.span(layer):
                    return fn(*a, **kw)
            return inner
        return wrapper

    # -- installation -------------------------------------------------
    def install_session_hooks(self) -> None:
        import importlib
        mod = importlib.import_module("dataflowtemplates_spark.session")
        orig = mod.build_session

        @functools.wraps(orig)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                self.session_build_s += time.perf_counter() - t0
        self._patch(mod, "build_session", timed)

    def attach(self, spark) -> None:
        import importlib

        import dataflowtemplates_spark.templates  # noqa: F401
        self.spark = spark
        self.sc = spark.sparkContext
        for layer, (modname, attrs) in LAYERS.items():
            mod = importlib.import_module(modname)
            for attr in attrs:
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    self._patch(cls, meth,
                                self._wrap_layer(layer)(getattr(cls, meth)))
                else:
                    self._patch_everywhere(mod, attr,
                                           self._wrap_layer(layer))
        self._hook_http_bytes()
        self._hook_py4j()
        from dataflowtemplates_spark.operators import mutations
        self.conflict_type = mutations.ConcurrentWriteError

    def _hook_http_bytes(self) -> None:
        from dataflowtemplates_spark.operators import httpstore
        cls = httpstore.HttpObjectTransport
        timed = cls._roundtrip
        tracer = self

        def roundtrip(obj, method, target, body, headers_for_attempt,
                      idempotent):
            if tracer._cur is None:
                return timed(obj, method, target, body, headers_for_attempt,
                             idempotent)
            attempts = [0]

            def counted():
                attempts[0] += 1
                return headers_for_attempt()
            out = timed(obj, method, target, body, counted, idempotent)
            tracer.add("http.requests", 1)
            tracer.add("http.retries", max(0, attempts[0] - 1))
            tracer.add("http.bytes", len(body or b"") + len(out[2] or b""))
            return out
        self._patch(cls, "_roundtrip", roundtrip)

    def _hook_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(*a, **kw):
            if tracer._cur is None or threading.get_ident() != tracer._main:
                return orig(*a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                tracer.add("py4j.wait_s", time.perf_counter() - t0)
                tracer.add("py4j.calls", 1)
        self._patch(client, "send_command", send_command)

    def attach_emulator(self, emu) -> None:
        """Server-side counters: they also see the requests executor
        tasks send, which no driver-side wrapper can."""
        self._emu = emu
        handler = emu._server.RequestHandlerClass
        tracer = self
        setup = handler.setup

        def counting_setup(h):
            setup(h)
            raw = h.wfile

            class Counted:
                def write(self, b):
                    tracer.add("s3emu.bytes_out", len(b))
                    return raw.write(b)

                def __getattr__(self, name):
                    return getattr(raw, name)
            h.wfile = Counted()
        self._patch(handler, "setup", counting_setup)
        for verb in ("GET", "PUT", "HEAD", "DELETE", "POST"):
            orig = getattr(handler, f"do_{verb}")

            def served(h, _orig=orig, _verb=verb):
                kind = _verb.lower()
                if kind == "get" and "list-type=" in h.path:
                    kind = "list"
                t0 = time.perf_counter()
                try:
                    return _orig(h)
                finally:
                    tracer.add(f"s3emu.{kind}", 1)
                    tracer.add("s3emu.bytes_in",
                               int(h.headers.get("Content-Length") or 0))
                    tracer.add("s3emu.service_s", time.perf_counter() - t0)
            self._patch(handler, f"do_{verb}", served)

    # -- operations ---------------------------------------------------
    def _jvm_gc_s(self) -> float:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(max(0, b.getCollectionTime())
                   for b in mf.getGarbageCollectorMXBeans()) / 1000.0

    def _jvm_pid(self) -> int:
        for pid in harness.process_tree(os.getpid())[1:]:
            if harness._cmdline(pid).startswith("/") and \
                    "java" in harness._cmdline(pid).split(" ")[0]:
                return pid
        return -1

    def _jvm_cpu_s(self) -> float:
        st = harness._proc_stat(self.jvm_pid)
        return 0.0 if st is None else \
            (int(st[11]) + int(st[12])) / harness._CLK

    def start_timed(self) -> None:
        self.jvm_pid = self._jvm_pid()
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._jit0 = mf.getCompilationMXBean().getTotalCompilationTime()

    @contextmanager
    def operation(self, kind: str):
        self._op_id += 1
        op_sid = self._next_id()
        self._stack.append(op_sid)
        group = f"perfbench-{self._op_id}"
        self.sc.setJobGroup(group, kind)
        gc0, cpu0 = self._jvm_gc_s(), self._jvm_cpu_s()
        py0 = harness.pyworker_cpu_s(os.getpid())
        self._cur = {}
        t0 = time.perf_counter()
        conflict = 0
        try:
            yield
        except self.conflict_type:
            conflict = 1
            raise
        finally:
            wall = time.perf_counter() - t0
            cur, self._cur = self._cur, None
            self._stack.pop()
            self._record(op_sid, f"op.{kind}", t0, t0 + wall, None)
            cur["wall"] = wall
            cur["conflicts"] = conflict
            cur["jvm.gc_s"] = self._jvm_gc_s() - gc0
            cur["jvm.cpu_s"] = self._jvm_cpu_s() - cpu0
            cur["pyworker.cpu_s"] = (harness.pyworker_cpu_s(os.getpid())
                                     - py0)
            cur["driver.self_s"] = (wall - cur.get("py4j.wait_s", 0.0)
                                    - cur.get("http.s", 0.0))
            self._spark_counts(group, cur)
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops[kind].append(cur)

    def _spark_counts(self, group: str, cur: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
        cur["spark.jobs"], cur["spark.stages"] = len(jobs), stages
        cur["spark.tasks"] = tasks

    def note_files(self, kind: str, files: list[str]) -> None:
        """Output files of the export operation just run (for the
        writer's file and byte counts)."""
        if self.ops.get(kind):
            last = self.ops[kind][-1]
            last["writers.files"] = len(files)
            last["writers.bytes"] = sum(os.path.getsize(f) for f in files)

    # -- results ------------------------------------------------------
    def _median(self, kind: str, key: str, pct: bool = False) -> float:
        vals = []
        for o in self.ops.get(kind, ()):
            v = o.get(key, 0.0)
            vals.append(100.0 * v / o["wall"] if pct else v)
        return statistics.median(vals) if vals else 0.0

    def _total(self, key: str) -> float:
        return sum(o.get(key, 0.0) for ops in self.ops.values() for o in ops)

    def metrics(self) -> dict[str, tuple[float, str]]:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        jit = mf.getCompilationMXBean().getTotalCompilationTime() - self._jit0
        code = sum(p.getUsage().getUsed()
                   for p in mf.getMemoryPoolMXBeans()
                   if "Code" in p.getName())
        codegen = self.sc._jvm.org.apache.spark.metrics.source \
            .CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE() \
            .getSnapshot().getMax()
        wall = self._total("wall")
        objs = dict(self._emu._objects) if self._emu is not None else {}
        values = {
            "session.build_s": self.session_build_s,
            "jvm.jit_s": jit / 1000.0,
            "jvm.gc_s": self._total("jvm.gc_s"),
            "jvm.cpu_s": self._total("jvm.cpu_s"),
            "jvm.codecache_used_mb": code / 2 ** 20,
            "jvm.codegen_method_max_bytes": float(codegen),
            "pyworker.cpu_s": self._total("pyworker.cpu_s"),
            "py4j.calls": self._total("py4j.calls"),
            "py4j.wait_s": self._total("py4j.wait_s"),
            "driver.self_s": self._total("driver.self_s"),
            "mutations.conflicts": self._total("conflicts"),
            "http.bytes": self._total("http.bytes"),
            "http.retries": self._total("http.retries"),
            "sigv4.pct": 100.0 * self._total("sigv4.s") / wall,
            "s3emu.bytes_in": self._total("s3emu.bytes_in"),
            "s3emu.bytes_out": self._total("s3emu.bytes_out"),
            "s3emu.service_pct": 100.0 * self._total("s3emu.service_s")
            / wall,
            "s3emu.objects": float(len(objs)),
            "s3emu.bytes": float(sum(map(len, objs.values()))),
            "s3emu.space_amp": self.space_amp,
        }
        for m in ("get", "put", "head", "delete", "list"):
            values[f"s3emu.requests.{m}"] = self._total(f"s3emu.{m}")
        return {name: (float(values[name]) if kind is None
                       else self._median(kind, key, pct), unit)
                for name, unit, kind, key, pct in METRICS}


    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": self.workload,
                       "fields": ["id", "name", "start", "end", "parent", "op_id"],
                       "spans": self.spans}, fh)
