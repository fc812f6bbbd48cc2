"""Outside-in layer tracing for the traced run.

Spans are recorded only from the benchmark's own files:
``install_server`` and ``install_pipeline`` replace the program's public
functions at the place each caller looks them up (a module global such
as ``timbala_spark.server.write_samples_batch`` or a class attribute
such as ``PromAPI.query``) with a wrapper that times the call. Spans are kept in memory and handed to the load
generator at exit; every span of one request carries that request's
id. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- request context (per thread) --------------------------------------

    def set_req(self, req: str | None) -> None:
        self._local.req = req
        self._local.stack = []

    def req(self) -> str | None:
        return getattr(self._local, "req", None)

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    # -- spans ---------------------------------------------------------------

    def call(self, name: str, fn, args, kwargs, after=None):
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        span = {"id": next(self._ids), "name": name, "req": self.req(),
                "parent": self.current()}
        self._local.stack.append(span["id"])
        span["t0"] = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            span["t1"] = time.time()
            self._local.stack.pop()
            self.spans.append(span)
        if after is not None:
            span.update(after(args, kwargs, out))
        return out

    def wrap(self, owner, attr: str, name: str, after=None,
             static: bool = False) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, args, kwargs, after)

        setattr(owner, attr, staticmethod(traced) if static else traced)


def catalyst_of(df) -> dict:
    """Catalyst phase times and the Exchange count of an executed frame
    (``queryExecution().tracker().phases()`` and its executed plan)."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"catalyst_{ph}_ms"] = (
            float(opt.get().durationMs()) if opt.isDefined() else 0.0
        )
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    out["exchanges"] = sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )
    return out


class _GidTap:
    """Stands in for ``PromAPI._gid`` so each query's Spark job group
    names the bench request that caused it (``promapi-<req>.<n>``)."""

    def __init__(self, tracer: Tracer) -> None:
        self._tracer = tracer
        self._n = itertools.count()

    def __iter__(self):
        return self

    def __next__(self) -> str:
        return f"{self._tracer.req()}.{next(self._n)}"


def install_server(tracer: Tracer, spark) -> None:
    """Wrap the server-side layers named in the benchmark README."""
    import timbala_spark.api as api_mod
    import timbala_spark.engine as engine_mod
    import timbala_spark.server as server_mod
    from timbala_spark.api import PromAPI
    from timbala_spark.engine import Engine
    from timbala_spark.frontend import RangeResultCache
    from timbala_spark.server import TimbalaServer
    from timbala_spark.streaming.store import list_data_files, resolve_store

    sc = spark.sparkContext

    def routed(name, orig):
        @functools.wraps(orig)
        def traced(self, h, *rest):
            req = h.headers.get("X-Bench-Op")
            tracer.set_req(req)
            sc.setJobGroup(f"req-{req}", "bench request")
            return tracer.call(name, orig, (self, h) + rest, {})
        return traced

    TimbalaServer._route_get = routed("server.request", TimbalaServer._route_get)
    TimbalaServer._route_post = routed("server.request", TimbalaServer._route_post)
    tracer.wrap(TimbalaServer, "_handle_write", "server.write_handler")
    tracer.wrap(TimbalaServer, "_respond", "server.respond", static=True,
                after=lambda a, k, out: {"bytes": len(a[2])})

    post_init = PromAPI.__post_init__

    def tapped_post_init(self):
        post_init(self)
        self._gid = _GidTap(tracer)

    PromAPI.__post_init__ = tapped_post_init
    tracer.wrap(PromAPI, "query", "api")
    tracer.wrap(PromAPI, "query_range", "api")
    tracer.wrap(PromAPI, "_gated_collect", "exec.collect",
                after=lambda a, k, out: catalyst_of(a[1]))

    get_or_fill = RangeResultCache.get_or_fill

    def traced_get_or_fill(self, key, fill):
        def traced_fill():
            return tracer.call("frontend.fill", fill, (), {})
        return tracer.call("frontend.get_or_fill", get_or_fill,
                           (self, key, traced_fill), {})

    RangeResultCache.get_or_fill = traced_get_or_fill

    tracer.wrap(api_mod, "parse", "promql.parse")
    tracer.wrap(engine_mod, "parse", "promql.parse")
    tracer.wrap(Engine, "query", "engine.build")
    tracer.wrap(Engine, "query_range", "engine.build")
    tracer.wrap(Engine, "_query", "engine.compile")
    tracer.wrap(Engine, "_query_range", "engine.compile")

    tracer.wrap(server_mod, "read_samples_table", "store.read_build")
    tracer.wrap(server_mod, "decode_write_request", "wire.decode",
                after=lambda a, k, out: {
                    "bytes": len(a[0]),
                    "samples": sum(len(s["samples"]) for s in out),
                })
    tracer.wrap(spark, "createDataFrame", "ingest.frame_build")
    tracer.wrap(server_mod, "prepare_samples", "ingest.prepare")
    tracer.wrap(server_mod, "write_samples_batch", "ingest.write")

    compact = TimbalaServer.compact
    passes = itertools.count()

    def traced_compact(self):
        tracer.set_req(f"compact{next(passes)}")
        sc.setJobGroup(f"req-{tracer.req()}", "bench maintenance")

        def gen_bytes(a, k, out):
            st = resolve_store(self.store_path)
            total = 0
            for d in (st.samples, st.series):
                for rel in list_data_files(d):
                    total += os.path.getsize(os.path.join(d, rel))
            return {"bytes": total}

        return tracer.call("compact.pass", compact, (self,), {}, gen_bytes)

    TimbalaServer.compact = traced_compact


def install_pipeline(tracer: Tracer) -> None:
    """Count pins wherever the pipeline modules look ``tracked_persist`` up."""
    import importlib
    import pkgutil

    import timbala_spark.pipeline as pkg
    from timbala_spark.pipeline.util import tracked_persist

    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
        if getattr(mod, "tracked_persist", None) is tracked_persist:
            tracer.wrap(mod, "tracked_persist", "pipeline.pin")


# -- Spark event log -------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, list[dict]]:
    """Jobs of the run's event log, grouped by job group:
    {group: [{ms, t0, t1, stages, tasks, shuffle_bytes, spill_bytes,
    gc_ms}]}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    if not os.path.isdir(log_dir):
        return {}
    # Spark 4 writes rolling logs: eventlog_v2_<app>/events_<n>_<app>
    files = sorted(
        (int(n.split("_")[1]) if n.startswith("events_") else 0, os.path.join(d, n))
        for d, _, names in os.walk(log_dir) for n in names
        if n.startswith(("events_", "local-"))
    )
    for _, path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id") or "none",
                        "t0": ev["Submission Time"] / 1000, "t1": None,
                        "stages": 0, "tasks": 0, "shuffle_bytes": 0,
                        "spill_bytes": 0, "gc_ms": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in jobs:
                        continue
                    j = jobs[jid]
                    j["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    j["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    out: dict[str, list[dict]] = {}
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
        j["ms"] = (j["t1"] - j["t0"]) * 1000
        out.setdefault(j.pop("group"), []).append(j)
    return out
