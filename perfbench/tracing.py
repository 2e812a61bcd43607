"""Spans around the program's layer calls, recorded from the benchmark side.

Nothing here edits the program: a traced run replaces a few module
attributes and instance methods with wrappers that time the call and
record a span (name, start, end, parent span, operation id). Spans stay in
memory and are written out once, when the run ends. Untraced runs never
call :func:`install`, so they pay nothing.

Layers and the span names that stand for them:

=================  ==========================================================
layer              span names
=================  ==========================================================
bench              ``op`` (one per timed operation: the root)
queries            ``query.build`` (the registered callable returning a frame)
spark              ``spark.exec`` (the sink action on that frame)
sources.catalog    ``catalog.load``
api                ``api.store``, ``api.validate``
sources.jdbc       ``jdbc.write_staging``, ``jdbc.merge``, ``jdbc.drop_staging``,
                   ``jdbc.execute`` (statements issued inside a staging write)
sources.pg_psql    ``pg.execute``, ``pg.copy`` (this process's connections)
=================  ==========================================================

The ``pg.*`` spans and counters see only the driver-side
``PsqlConnection`` — the dimension path. ``PgParallelBackend`` stages
observation batches over connections its Spark tasks open, which no
wrapper reaches; their rows show in ``jdbc.rows_staged`` (a count of each
staging table) and their sessions in ``pg_stat_database``.

``bench.count_staged`` spans mark the benchmark's own staging row counts;
they belong to no layer.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

LAYER_OF = {
    "op": "bench",
    "query.build": "queries",
    "spark.exec": "spark",
    "catalog.load": "catalog",
    "api.store": "api",
    "api.validate": "api",
    "jdbc.write_staging": "jdbc",
    "jdbc.merge": "jdbc",
    "jdbc.drop_staging": "jdbc",
    "jdbc.execute": "jdbc",
    "pg.execute": "pg",
    "pg.copy": "pg",
}
LAYERS = ("queries", "catalog", "spark", "api", "jdbc", "pg")


class Tracer:
    """In-memory span recorder. One instance per traced run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op_id: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 1
        self._seen_frames: set[int] = set()
        self._frames: list = []  # keeps returned frames alive so ids stay unique
        self._names: dict[int, str] = {}

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> str | None:
        st = self._stack()
        return self._names[st[-1]] if st else None

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        st = self._stack()
        parent = st[-1] if st else None
        self._names[sid] = name
        st.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            st.pop()
            rec = {"id": sid, "parent": parent, "op": self.op_id, "name": name,
                   "start": t0, "end": t1}
            if attrs:
                rec.update(attrs)
            with self._lock:
                self.spans.append(rec)

    def note_frame(self, df) -> None:
        """Count a ``catalog.load`` result, and whether that exact object
        was returned before (plan reuse)."""
        with self._lock:
            self.counters["catalog.load_calls"] += 1
            if id(df) in self._seen_frames:
                self.counters["catalog.load_reused"] += 1
            else:
                self._seen_frames.add(id(df))
                self._frames.append(df)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # --- aggregation -------------------------------------------------------

    def span_seconds(self, name: str, ops: set[int], **match) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["op"] in ops
            and all(s.get(k) == v for k, v in match.items())
        )

    def self_seconds(self, ops: set[int]) -> dict[str, float]:
        """Self time per layer over the given operations: each span's
        duration minus the part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        chosen = [s for s in self.spans if s["op"] in ops]
        for s in chosen:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in chosen:
            layer = LAYER_OF.get(s["name"])
            if layer not in out:
                continue
            covered, cur_end = 0.0, None
            for a, b in sorted(children.get(s["id"], ())):
                a = max(a, s["start"]) if cur_end is None else max(a, cur_end)
                b = min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[layer] += (s["end"] - s["start"]) - covered
        return out


def _wrap(tracer: Tracer, fn, name: str, **attrs):
    def wrapper(*a, **k):
        with tracer.span(name, **attrs):
            return fn(*a, **k)

    return wrapper


def install(tracer: Tracer) -> None:
    """Wrap ``sources.catalog.load`` (every module that imported it by
    name) and ``api.validate_frame``."""
    import n2kupdate_spark.api as api
    from n2kupdate_spark.sources import catalog

    orig_load = catalog.load

    def load(*a, **k):
        with tracer.span("catalog.load"):
            df = orig_load(*a, **k)
        tracer.note_frame(df)
        return df

    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "") or ""
        if name.startswith("n2kupdate_spark") and getattr(mod, "load", None) is orig_load:
            setattr(mod, "load", load)
    api.validate_frame = _wrap(tracer, api.validate_frame, "api.validate")


def wrap_backend(tracer: Tracer, backend) -> None:
    """Per-instance spans on a ``sources.jdbc`` backend. ``execute`` is a
    merge unless it runs inside a staging write (PgParallelBackend
    publishes its staging view through ``execute``)."""
    for meth in ("write_staging", "drop_staging"):
        setattr(backend, meth, _wrap(tracer, getattr(backend, meth), f"jdbc.{meth}"))
    orig_exec = backend.execute

    def execute(stmts):
        name = "jdbc.execute" if tracer.current() == "jdbc.write_staging" else "jdbc.merge"
        with tracer.span(name):
            return orig_exec(stmts)

    backend.execute = execute
    wrap_psql(tracer, backend.con)


def wrap_psql(tracer: Tracer, con) -> None:
    """Count roundtrips on a driver-side ``PsqlConnection`` and time its
    COPY path, counting the rows it streams."""
    if getattr(con, "_perfbench_wrapped", False):
        return
    con._perfbench_wrapped = True
    for meth in ("execute", "executemany"):
        orig = getattr(con, meth)

        def call(*a, _orig=orig, **k):
            tracer.counters["pg.roundtrips"] += 1
            with tracer.span("pg.execute"):
                return _orig(*a, **k)

        setattr(con, meth, call)
    orig_copy = con.copy_from_csv

    def copy_from_csv(table, columns, rows):
        tracer.counters["pg.roundtrips"] += 1

        def counted():
            for r in rows:
                tracer.counters["pg.copy_rows"] += 1
                yield r

        with tracer.span("pg.copy"):
            return orig_copy(table, columns, counted())

    con.copy_from_csv = copy_from_csv


class SparkRest:
    """Per-operation engine metrics from the Spark UI's REST API (the UI
    is on in traced runs only). Operations run one at a time, so the jobs
    and stages that completed since the previous read belong to the
    operation that just ran — including jobs Spark submits from its own
    threads (broadcasts, adaptive query stages)."""

    STAGE_FIELDS = {
        "tasks": ("numCompleteTasks", 1.0),
        "executor_run_s": ("executorRunTime", 1e-3),
        "executor_cpu_s": ("executorCpuTime", 1e-9),
        "jvm_gc_s": ("jvmGcTime", 1e-3),
        "shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
        "shuffle_read_bytes": ("shuffleReadBytes", 1.0),
        "input_bytes": ("inputBytes", 1.0),
    }

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._seen_jobs: set[int] = set()
        self._seen_stages: set[tuple[int, int]] = set()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def mark(self) -> None:
        """Forget everything that ran so far (set-up, untimed work)."""
        self._seen_jobs = {j["jobId"] for j in self._get("/jobs")}
        self._seen_stages = {(st["stageId"], st["attemptId"]) for st in self._get("/stages")}

    def collect(self) -> dict[str, float]:
        """Sum stage metrics over what ran since the last call, waiting
        briefly for the status store to see every new job finish."""
        deadline = time.time() + 5
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] not in self._seen_jobs]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.05)
        self._seen_jobs.update(j["jobId"] for j in jobs)
        out = {k: 0.0 for k in self.STAGE_FIELDS}
        out.update(jobs=float(len(jobs)), stages=0.0, spill_bytes=0.0)
        for st in self._get("/stages"):
            key = (st["stageId"], st["attemptId"])
            if key in self._seen_stages or st.get("status") != "COMPLETE":
                continue
            self._seen_stages.add(key)
            out["stages"] += 1
            for k, (field, scale) in self.STAGE_FIELDS.items():
                out[k] += st.get(field, 0) * scale
            out["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
        return out
