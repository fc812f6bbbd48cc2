"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload write_read --seed 1 --seconds 10 --trace 0

This process is the load generator. It starts the Spark process
(``spark_side.py``) and, for ``write_read``, drives its
``TimbalaServer`` over 127.0.0.1 HTTP with one closed-loop client. It
never imports Spark itself. The last line of stdout is the result
object; the lines above it are the human-readable report, and the
full report is kept in ``.bench_run/reports/``. See README.md.
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import spans as spans_mod  # noqa: E402

WORKLOADS = ("write_read", "near_dup")
READY_TIMEOUT_S = 150
PREFIX_OPS = 3  # ops per class whose load-independent counts are kept
WARM_ROUNDS = 2  # write_read: rounds run inside set-up

# BENCHMARK.json's generic end-to-end names -> each workload's own names
E2E_NAMES = {
    "write_read": {"primary_p50_ms": "write_p50_ms", "secondary_p50_ms": "fresh_read_p50_ms",
                   "items_per_s": "samples_per_s"},
    "near_dup": {"primary_p50_ms": "ngram_p50_ms", "secondary_p50_ms": "embedding_p50_ms",
                 "items_per_s": "docs_per_s"},
}
OP_CLASSES = {
    "write_read": ("write", "fresh_read"),
    "near_dup": ("ngram", "embedding"),
}


# -- the Spark process ---------------------------------------------------------


class SparkSide:
    def __init__(self, mode: str, args, run_dir: str):
        env = dict(os.environ)
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # TMPDIR keeps Python's temp files in the run directory; no JVM
        # writes its /tmp/hsperfdata file
        env.update(TMPDIR=tmp, PYTHONDONTWRITEBYTECODE="1",
                   JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
                   PYTHONPATH=os.pathsep.join(
                       [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]))
        self.log_path = os.path.join(run_dir, "spark_side.log")
        self._log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "spark_side.py"), mode,
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--run-dir", run_dir],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            text=True, cwd=ROOT, env=env, start_new_session=True,
        )

    def recv(self, timeout_s: float) -> dict:
        box: list = []
        th = threading.Thread(target=lambda: box.append(self.proc.stdout.readline()),
                              daemon=True)
        th.start()
        th.join(timeout_s)
        if not box or not box[0]:
            raise RuntimeError("the Spark process ended or timed out:\n"
                               + self.log_tail())
        return json.loads(box[0])

    def ask(self, cmd: dict, timeout_s: float = 120) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.recv(timeout_s)

    def log_tail(self) -> str:
        self._log.flush()
        with open(self.log_path, errors="replace") as f:
            lines = [ln for ln in f.read().splitlines() if "WARN" not in ln]
        return "\n".join(lines[-25:])

    def close(self) -> None:
        """Stop the Spark process and wait until every process of its
        group (the JVM included) has ended."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        for sig, wait_s in ((0, 20), (15, 10), (9, 10)):
            if sig:
                try:
                    os.killpg(self.proc.pid, sig)
                except ProcessLookupError:
                    break
            deadline = time.monotonic() + wait_s
            while group_alive(self.proc.pid) and time.monotonic() < deadline:
                time.sleep(0.1)
            if not group_alive(self.proc.pid):
                break
        self.proc.wait()
        self._log.close()


def group_alive(pgid: int) -> bool:
    """Whether any non-zombie process is left in process group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


# -- HTTP client ---------------------------------------------------------------


class Client:
    def __init__(self, port: int):
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)

    def request(self, op_id: str, method: str, path: str,
                body: bytes | None = None) -> tuple[int, bytes]:
        headers = {"X-Bench-Op": op_id}
        if body is not None:
            headers.update({"Content-Type": "application/x-protobuf",
                            "Content-Encoding": "snappy"})
        self.conn.request(method, path, body=body, headers=headers)
        r = self.conn.getresponse()
        return r.status, r.read()

    def query(self, op_id: str, req: dict) -> tuple[int, bytes]:
        if req["kind"] == "range":
            q = {k: req[k] for k in ("query", "start", "end", "step")}
            path = "/api/v1/query_range"
        else:
            q = {"query": req["query"], "time": req["time"]}
            path = "/api/v1/query"
        return self.request(op_id, "GET", path + "?" + urllib.parse.urlencode(q))


def timed_op(cls: str, op_id: str, fn) -> dict:
    t0 = time.time()
    p0 = time.perf_counter()
    try:
        status, body = fn()
        ok = status == 200
        err = None if ok else f"HTTP {status}: {body[:200]!r}"
        if ok and body[:1] == b"{":
            env = json.loads(body)
            ok = env.get("status") == "success"
            err = None if ok else env.get("error")
    except (OSError, http.client.HTTPException, ValueError) as e:
        body, ok, err = b"", False, repr(e)
    ms = (time.perf_counter() - p0) * 1000
    return {"id": op_id, "cls": cls, "t0": t0, "t1": time.time(), "ms": ms,
            "ok": ok, "err": err, "bytes": len(body), "body": body}


# -- workloads -------------------------------------------------------------------


def _pass(side: SparkSide) -> tuple[int, bytes]:
    """One maintenance pass of the server, through the control channel."""
    reply = side.ask({"cmd": "compact"})
    return (200, b"") if reply["ok"] else (500, reply["error"].encode())


def write_read(side: SparkSide, port: int, shape: inputs.Shape, seconds: float) -> dict:
    c = Client(port)
    reads = []

    def one_round(rnd: int, prefix: str) -> list[dict]:
        body, n = inputs.write_round_body(shape, rnd)
        w = timed_op("write" if not prefix else "warm", f"{prefix}write:{rnd}",
                     lambda: c.request(f"{prefix}write:{rnd}", "POST", "/write", body))
        w["items"] = n if w["ok"] else 0
        req = inputs.read_your_write_request(shape, rnd)
        r = timed_op("fresh_read" if not prefix else "warm", f"{prefix}read:{rnd}",
                     lambda: c.query(f"{prefix}read:{rnd}", req))
        reads.append((rnd, r))
        m = timed_op("compact" if not prefix else "warm", f"{prefix}compact:{rnd}",
                     lambda: _pass(side))
        return [w, r, m]

    t = time.perf_counter()
    warm_ms = []
    for rnd in range(WARM_ROUNDS):  # warm-up inside set-up: the first rounds
        warm_ms.append([round(o["ms"], 1) for o in one_round(rnd, "warm-")])
    warm_s = time.perf_counter() - t

    ops: list[dict] = []
    window_t0 = time.time()
    deadline = time.perf_counter() + seconds
    rnd = WARM_ROUNDS
    while time.perf_counter() < deadline:
        ops.extend(one_round(rnd, ""))
        rnd += 1

    # correctness, untimed: every read returns exactly what was written
    wrong = []
    for r_rnd, op in reads:
        if not op["ok"]:
            continue
        want = inputs.read_your_write_expected(shape, r_rnd)
        got = {}
        for s in json.loads(op["body"])["data"]["result"]:
            got[tuple(sorted(s["metric"].items()))] = [
                (t, float(v)) for t, v in s["values"]]
        if got != want:
            op["ok"], op["err"] = False, "read-your-write mismatch"
            wrong.append(op["id"])
    window_t1 = max(o["t1"] for o in ops)
    acked = sum(o.get("items", 0) for o in ops if o["cls"] == "write")
    return {
        "ops": ops, "warm_s": warm_s, "warm_ms": warm_ms, "wrong": wrong,
        "checks": len(reads),
        "items_per_s": acked / (window_t1 - window_t0),
        "written_samples": rnd * inputs.W_INSTANCES * inputs.W_SHARDS
        * inputs.W_PER_SERIES,
        "window": [window_t0, window_t1],
    }


# -- per-layer metrics (traced run) --------------------------------------------


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _self_ms(span: dict, children: dict) -> float:
    own = span["t1"] - span["t0"]
    return (own - sum(c["t1"] - c["t0"] for c in children.get(span["id"], []))) * 1000


def _dur(s: dict) -> float:
    return (s["t1"] - s["t0"]) * 1000


def _union_ms(intervals, lo: float, hi: float) -> float:
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, end = 0.0, lo
    for a, b in cut:
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total * 1000


def layer_metrics(workload: str, res: dict, spans: list[dict],
                  jobs: dict[str, list[dict]], setup: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the window's ops, plus per-op-class
    load-independent counts."""
    ops = res["ops"]
    by_req: dict[str, list[dict]] = {}
    children: dict[int, list[dict]] = {}
    for s in spans:
        by_req.setdefault(s.get("req"), []).append(s)
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)

    def named(op, *names):
        return [s for s in by_req.get(op["id"], []) if s["name"] in names]

    ungrouped = jobs.get("none", [])

    def op_jobs(op):
        """Jobs of an op: its job groups, plus jobs without a group
        submitted while it ran (``write_samples_batch`` writes from
        its own threads, which do not inherit the group)."""
        out = list(jobs.get(f"req-{op['id']}", []))
        for g, js in jobs.items():
            if g.startswith(f"promapi-{op['id']}."):
                out.extend(js)
        out.extend(j for j in ungrouped if op["t0"] <= j["t0"] <= op["t1"])
        return out

    m: dict[str, float] = {}
    top = [(op, named(op, "api", "server.write_handler")) for op in ops]
    m["server.self_ms"] = _med(op["ms"] - sum(_dur(s) for s in ss)
                               for op, ss in top if ss)
    api = [s for op in ops for s in named(op, "api")]
    m["api.self_ms"] = _med(_self_ms(s, children) for s in api)
    m["api.response_bytes"] = _mean(s["bytes"] for op in ops
                                    for s in named(op, "server.respond") if named(op, "api"))
    gof = [s for op in ops for s in named(op, "frontend.get_or_fill")]
    misses = sum(1 for s in gof if children.get(s["id"]))
    m["frontend.hits"] = len(gof) - misses
    m["frontend.misses"] = misses
    m["frontend.hit_ratio"] = (len(gof) - misses) / len(gof) if gof else 0.0
    m["frontend.fill_ms"] = _med(_dur(s) for op in ops for s in named(op, "frontend.fill"))
    m["promql.parse_ms"] = _med(sum(_dur(s) for s in named(op, "promql.parse"))
                                for op in ops if named(op, "promql.parse"))
    builds = [s for op in ops for s in named(op, "engine.build")]
    compiles = [s for op in ops for s in named(op, "engine.compile")]
    m["engine.build_ms"] = _med(sum(_dur(s) for s in named(op, "engine.build"))
                                for op in ops if named(op, "engine.build"))
    m["engine.plan_cache_hit_ratio"] = 1 - len(compiles) / len(builds) if builds else 0.0
    cat = [s for op in ops for s in named(op, "exec.collect", "pipeline.ngram.action",
                                              "pipeline.embedding.action")
           if "exchanges" in s]
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = _med(s[f"catalyst_{ph}_ms"] for s in cat)
    m["catalyst.exchanges"] = _mean(s["exchanges"] for s in cat)

    per_op = []
    for op in ops:
        if op["cls"] == "compact":  # its jobs are the compact layer's
            continue
        js = op_jobs(op)
        per_op.append({
            "cls": op["cls"], "jobs": len(js),
            "stages": sum(j["stages"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "job_ms": sum(j["ms"] for j in js),
            "gap_ms": op["ms"] - _union_ms([(j["t0"], j["t1"]) for j in js],
                                            op["t0"], op["t1"]),
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in js),
            "spill_bytes": sum(j["spill_bytes"] for j in js),
            "gc_ms": sum(j["gc_ms"] for j in js),
            "exchanges": sum(s["exchanges"] for s in named(
                op, "exec.collect", "pipeline.ngram.action", "pipeline.embedding.action")
                if "exchanges" in s),
        })
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "gc_ms"):
        m[f"exec.{k}"] = _mean(p[k] for p in per_op)
    m["exec.job_ms"] = _med(p["job_ms"] for p in per_op)
    m["exec.driver_gap_ms"] = _med(p["gap_ms"] for p in per_op)

    reads = [s for s in spans if s["name"] == "store.read_build"
             and s["t0"] >= res["window"][0] and s["t1"] <= res["window"][1]]
    m["store.rebuilds"] = len(reads)
    m["store.read_build_ms"] = _med(_dur(s) for s in reads)
    stats = res.get("store_stats") or {}
    m["store.data_files"] = stats.get("data_files", 0)
    m["store.bytes_per_sample"] = (stats["data_bytes"] / res["store_samples"]
                                   if stats else 0.0)

    dec = [s for op in ops for s in named(op, "wire.decode")]
    m["wire.decode_ms"] = _med(_dur(s) for s in dec)
    m["wire.bytes_per_sample"] = (sum(s["bytes"] for s in dec)
                                  / max(1, sum(s["samples"] for s in dec)))
    writes = [op for op in ops if op["cls"] == "write"]
    m["ingest.frame_build_ms"] = _med(_dur(s) for op in writes
                                      for s in named(op, "ingest.frame_build"))
    m["ingest.write_ms"] = _med(_dur(s) for op in writes for s in named(op, "ingest.write"))
    m["ingest.jobs"] = _mean(len(op_jobs(op)) for op in writes)
    waits = []
    for op in writes:
        fb, pr = named(op, "ingest.frame_build"), named(op, "ingest.prepare")
        if fb and pr:
            waits.append((pr[0]["t0"] - fb[0]["t1"]) * 1000)
    m["ingest.lock_wait_ms"] = _med(waits)

    passes = [s for s in spans if s["name"] == "compact.pass"
              and s["t0"] >= res["window"][0] and s["t0"] <= res["window"][1]]
    m["compact.passes"] = len(passes)
    m["compact.ms"] = _med(_dur(s) for s in passes)
    m["compact.bytes_written"] = _mean(s["bytes"] for s in passes)

    for cls in ("ngram", "embedding"):
        for part in ("call", "action"):
            m[f"pipeline.{cls}.{part}_ms"] = _med(
                _dur(s) for op in ops for s in named(op, f"pipeline.{cls}.{part}"))
    nd = [op for op in ops if op["cls"] in ("ngram", "embedding")]
    m["pipeline.pins"] = _mean(len(named(op, "pipeline.pin")) for op in nd)

    m["setup.session_s"] = setup["session_s"]
    m["setup.store_write_s"] = setup.get("store_write_s", 0.0)
    m["setup.compact_s"] = setup.get("compact_s", 0.0)
    m["setup.warm_s"] = res["warm_s"]

    # counts that repeat exactly at a fixed seed: the first PREFIX_OPS
    # ops of each class, whatever the box's speed
    counts: dict[str, dict] = {}
    for cls in OP_CLASSES[workload]:
        first = [p for p in per_op if p["cls"] == cls][:PREFIX_OPS]
        counts[cls] = {k: [p[k] for p in first] for k in ("jobs", "stages", "exchanges")}
    if workload == "write_read":
        counts["write"]["compact_passes_per_write"] = (
            len(passes) / len(writes) if writes else 0.0)
    return m, counts


# -- main ------------------------------------------------------------------------


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks() -> list[int]:
    """The box's aggregate CPU counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(t0: list[int], t1: list[int]) -> dict:
    """Busy and steal shares of all CPU time between two readings:
    steal is time the host gave the box's CPUs to someone else."""
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    return {"busy": (total - d[3] - d[4] - d[7]) / total, "steal": d[7] / total}


def run(args) -> int:
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    try:
        return run_in(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run_in(args, run_dir: str) -> int:
    load_before = loadavg()
    mode = "near_dup" if args.workload == "near_dup" else "serve"
    t_start = time.perf_counter()
    side = SparkSide(mode, args, run_dir)
    try:
        ready = side.recv(READY_TIMEOUT_S)
        t_ready = time.perf_counter()
        ticks_ready = cpu_ticks()
        setup = ready["setup"]
        if mode == "serve":
            shape = inputs.Shape(args.seed)
            res = write_read(side, ready["port"], shape, args.seconds)
            res["store_stats"] = side.ask({"cmd": "stats"})
            res["store_samples"] = ready["samples"] + res.get("written_samples", 0)
            res.update(side.ask({"cmd": "stop"}))
        else:
            res = side.recv(args.seconds + 150)
            res["warm_s"] = setup["warm_s"]
            window_s = res["window"][1] - res["window"][0]
            res["items_per_s"] = sum(o["items"] for o in res["ops"] if o["ok"]) / window_s
        t_done = time.perf_counter()
        cpu = cpu_shares(ticks_ready, cpu_ticks())
    finally:
        side.close()
    peak_rss = res["peak_rss_mb"]
    phases = {"ready_s": t_ready - t_start, "done_s": t_done - t_start,
              "exited_s": time.perf_counter() - t_start}
    load_after = loadavg()

    ops = res["ops"]
    # a wrong answer outside the window (warm-up read, closed-form
    # query) counts as one more failed op
    window_ids = {o["id"] for o in ops}
    wrong_extra = sum(1 for w in res["wrong"] if w not in window_ids)
    failed = sum(1 for o in ops if not o["ok"]) + wrong_extra
    attempted = len(ops) + wrong_extra
    main_cls, side_cls = OP_CLASSES[args.workload]
    lat = {c: [o["ms"] for o in ops if o["cls"] == c and o["ok"]]
           for c in (main_cls, side_cls)}
    names = E2E_NAMES[args.workload]
    # set-up time of the program: everything between the Spark session
    # being up and the window opening (near_dup warms up inside prep_s)
    setup_s = setup["prep_s"] + (res["warm_s"] if mode == "serve" else 0.0)
    e2e = {
        "setup_s": (setup_s, "s", 1),
        "retained_mb": (sum(res["retained"].values()), "MB", 1),
        "primary_p50_ms": (_med(lat[main_cls]), "ms", len(lat[main_cls])),
        "secondary_p50_ms": (_med(lat[side_cls]), "ms", len(lat[side_cls])),
        "items_per_s": (res["items_per_s"], "1/s", len([o for o in ops if o["cls"] == main_cls])),
    }
    correct = failed == 0 and all(v > 0 for v, _, _ in e2e.values())
    all_cls = list(dict.fromkeys(o["cls"] for o in ops))

    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "load_before": load_before, "load_after": load_after, "cpu": cpu,
        "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "checks": res["checks"], "wrong": res["wrong"],
        "samples": {c: len([o for o in ops if o["cls"] == c]) for c in all_cls},
        "end_to_end": {names.get(k, k): {"generic": k, "value": v, "unit": u, "n": n}
                       for k, (v, u, n) in e2e.items()},
        "setup": setup,
        "retained_mb": res["retained"],
        "peak_rss_mb": peak_rss,
        "phases": phases,
        "latencies_ms": {c: [round(o["ms"], 1) for o in ops if o["cls"] == c]
                         for c in all_cls},
        "warm_ms": res.get("warm_ms", setup.get("warm_ms")),
        "errors": sorted({o["err"] for o in ops if o.get("err")})[:5],
    }
    if args.trace:
        spans = []
        path = os.path.join(run_dir, "spans.json")
        if os.path.exists(path):
            with open(path) as f:
                spans = json.load(f)
        jobs = spans_mod.read_event_log(os.path.join(run_dir, "eventlog"))
        layers, counts = layer_metrics(args.workload, res, spans, jobs, setup)
        report["layers"] = layers
        report["load_independent_counts"] = counts

    out_dir = os.path.join(ROOT, ".bench_run", "reports")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1)

    print(f"workload {args.workload}  seed {args.seed}  window {args.seconds:g}s  "
          f"trace {args.trace}  nproc {report['nproc']}  "
          f"load {load_before[0]:.2f} -> {load_after[0]:.2f}  "
          f"cpu busy {cpu['busy']:.2f} steal {cpu['steal']:.3f}")
    for name, e in report["end_to_end"].items():
        print(f"  {name:24s} {e['value']:12.3f} {e['unit']:4s} n={e['n']}")
    for c in all_cls[2:]:
        lc = report["latencies_ms"][c]
        print(f"  {c + '_p50_ms':24s} {_med(lc):12.3f} ms   n={len(lc)}  (not gated)")
    print(f"  {'peak_rss_mb':24s} {peak_rss:12.3f} MB   n=1  (not gated: varies with heap sizing)")
    print(f"  {'failed_ratio':24s} {report['failed_ratio']:12.3f}      "
          f"n={attempted}  ({res['checks']} correctness checks)")
    for err in report["errors"]:
        print(f"  error: {err}")
    if args.trace:
        for k, v in report["layers"].items():
            print(f"  {k:32s} {v:14.3f}")
        print("  load-independent counts: " + json.dumps(report["load_independent_counts"]))
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in report["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ratio"):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        return run(args)
    except Exception as e:  # noqa: BLE001 — report, print no result line
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    sys.exit(main())
