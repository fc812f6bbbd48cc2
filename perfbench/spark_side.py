"""The Spark process of one benchmark run (started by ``run.py``).

``serve``: builds the seeded base store through the program's own
``write_samples_batch`` and ``compact_store``, starts a real
``TimbalaServer`` on 127.0.0.1 and answers the load generator's
control commands (one JSON object per line on stdin/stdout) until told
to stop.

``near_dup``: the in-process library workload; runs the whole window
itself and prints one result line.

Protocol lines go to the original stdout; everything else (Spark, the
program's logging) is sent to stderr.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
from procs import tree_peak_rss_mb, tree_pss_mb  # noqa: E402
import timbala_spark  # noqa: E402,F401  (fail fast when the program is absent)

WARM_ROUNDS = 2  # near_dup: set-up calls of each operator
GC_PASSES = 4  # full collections before the retained heap is read

_proto = os.fdopen(os.dup(1), "w", buffering=1)
os.dup2(2, 1)


def send(obj: dict) -> None:
    _proto.write(json.dumps(obj) + "\n")


def driver_memory_gb() -> int:
    """Half the box's physical memory: the rest is left to the Python
    workers, the page cache and the OS."""
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return max(2, kb // (2 * 1024 * 1024))


def make_session(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession

    # half the box's CPUs for tasks: the other half is left to the
    # driver thread, py4j, the JIT and GC threads and the load generator,
    # so the box is not oversubscribed and latencies measure the program
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", f"{driver_memory_gb()}g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def retained_mb(spark) -> dict:
    """Memory the program still holds: JVM heap in use after a full
    collection, JVM non-heap (metaspace, code cache) and the PSS of
    this process and its Python workers. Taken after the window,
    untimed. The explicit collection makes the heap figure independent
    of when the collector last ran and of how far it grew the heap."""
    jvm = spark._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # py4j and Spark's ContextCleaner release what a collection found
    # unreachable on their own threads, and that frees more on a later
    # collection; the heap reached its floor by the fourth pass in probes
    heap = []
    for _ in range(GC_PASSES):
        gc.collect()  # py4j then releases the JVM objects Python let go of
        jvm.java.lang.System.gc()
        time.sleep(0.25)
        heap.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
    return {"heap": min(heap),
            "nonheap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python": tree_pss_mb(os.getpid(), jvm=False)}


# -- serve ------------------------------------------------------------------


def build_store(spark, shape: inputs.Shape, path: str) -> tuple[float, float]:
    """Write the seeded base store as one batch, then compact it.
    Returns (write seconds, compact seconds)."""
    from pyspark.sql import functions as F

    from timbala_spark.model import prepare_samples
    from timbala_spark.streaming.compact import compact_store
    from timbala_spark.streaming.ingest import write_samples_batch

    ser = spark.createDataFrame(
        [(s["labels"], s["kind"], s["a"], s["b"]) for s in shape.series],
        "labels map<string,string>, kind int, a long, b long",
    )
    df = ser.crossJoin(spark.range(shape.n_steps).withColumnRenamed("id", "k")).select(
        "labels",
        (F.lit(shape.start_ms) + F.col("k") * inputs.STEP_MS).alias("t"),
        F.expr("CAST(CASE WHEN kind = 1 THEN (a + 3 * k) % 101 - 50"
               " ELSE a + b * k END AS DOUBLE)").alias("v"),
    )
    t0 = time.perf_counter()
    write_samples_batch(prepare_samples(df), path)
    t1 = time.perf_counter()
    compact_store(spark, path)
    return t1 - t0, time.perf_counter() - t1


def store_stats(path: str) -> dict:
    from timbala_spark.streaming.store import list_data_files, resolve_store

    st = resolve_store(path)
    files = 0
    size = 0
    for d in (st.samples, st.series):
        for rel in list_data_files(d):
            files += 1
            size += os.path.getsize(os.path.join(d, rel))
    return {"data_files": files, "data_bytes": size}


def serve(args) -> None:
    from timbala_spark.server import TimbalaServer

    trace = args.trace == 1
    t0 = time.perf_counter()
    spark = make_session(args.run_dir, trace)
    t_prep = time.perf_counter()
    setup = {"session_s": t_prep - t0}
    tracer = None
    if trace:
        import spans as tr

        tracer = tr.Tracer()
        spark.sparkContext.setJobGroup("setup", "bench set-up")
    shape = inputs.Shape(args.seed)
    store = os.path.join(args.run_dir, "store")
    setup["store_write_s"], setup["compact_s"] = build_store(spark, shape, store)
    if trace:
        tr.install_server(tracer, spark)
    # no maintenance loop: the load generator asks for each pass (the
    # method the loop would call) after each round's read, so a pass
    # never overlaps a write or a read
    srv = TimbalaServer(spark, store)
    srv.start()
    setup["prep_s"] = time.perf_counter() - t_prep
    send({"ready": True, "port": srv.port, "setup": setup,
          "samples": len(shape.series) * shape.n_steps})
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "stats":
            send(store_stats(store))
        elif cmd["cmd"] == "compact":
            try:
                srv.compact()
                send({"ok": True})
            except Exception as e:  # noqa: BLE001 — a failed pass is counted
                send({"ok": False, "error": repr(e)[:300]})
        elif cmd["cmd"] == "stop":
            break
    srv.stop()
    peak_rss = tree_peak_rss_mb(os.getpid())
    retained = retained_mb(spark)
    if tracer is not None:
        with open(os.path.join(args.run_dir, "spans.json"), "w") as f:
            json.dump(tracer.spans, f)
    spark.stop()
    send({"retained": retained, "peak_rss_mb": peak_rss})


# -- near_dup -----------------------------------------------------------------


def stage_batch(spark, run_dir: str, seed: int, batch: int):
    """Write batch ``batch``'s documents and vectors as parquet (the
    oracle reads the same files) and return the two Spark frames."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(run_dir, f"batch{batch}")
    os.makedirs(d, exist_ok=True)
    docs = inputs.near_dup_docs(seed, batch)
    vecs = inputs.near_dup_vectors(seed, batch)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in docs], pa.int64()),
        "text": pa.array([r[1] for r in docs], pa.string()),
    }), os.path.join(d, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array([r[0] for r in vecs], pa.int64()),
        "embedding": pa.array([r[1] for r in vecs], pa.list_(pa.float32())),
    }), os.path.join(d, "embeddings.parquet"))
    return (spark.read.parquet(os.path.join(d, "documents.parquet")),
            spark.read.parquet(os.path.join(d, "embeddings.parquet")), d)


def oracle_rows(batch_dir: str) -> tuple[list, list]:
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(batch_dir, t)}.parquet')")
        docs = [tuple(r) for r in con.execute(sql["dedup_pipeline"]).fetchall()]
        pairs = [tuple(r[1:]) for r in con.execute(sql["dedup_embedding"]).fetchall()
                 if r[0] == "full"]
    finally:
        con.close()
    return sorted(docs), sorted(pairs)


def near_dup(args) -> None:
    from pyspark.sql import functions as F

    from timbala_spark.pipeline import embedding_near_dup_pairs, near_dup_pipeline

    trace = args.trace == 1
    t0 = time.perf_counter()
    spark = make_session(args.run_dir, trace)
    t_prep = time.perf_counter()
    setup = {"session_s": t_prep - t0}
    sc = spark.sparkContext
    tracer = None
    if trace:
        import spans as tr

        tracer = tr.Tracer()
        tr.install_pipeline(tracer)
        sc.setJobGroup("setup", "bench set-up")

    def timed(name, fn, *a, after=None, **kw):
        if tracer is None:
            return fn(*a, **kw)
        return tracer.call(name, fn, a, kw, after)

    def run_op(cls: str, op_id: str, frame) -> dict:
        if tracer is not None:
            tracer.set_req(op_id)
            sc.setJobGroup(f"req-{op_id}", "bench op")
        name = f"pipeline.{cls}"
        start = time.time()
        t = time.perf_counter()
        if cls == "ngram":
            df = timed(name + ".call", near_dup_pipeline, frame,
                       threshold=0.5, n=7)
        else:
            surv = frame.groupBy("embedding").agg(F.min("vec_id").alias("vec_id"))
            df = timed(name + ".call", embedding_near_dup_pairs, surv,
                       threshold=0.4, mode="lsh", n_planes=4, n_tables=16)
            df = df.select("id_a", "id_b", F.round("cos", 6).alias("cos"))
        got = timed(name + ".action", df.collect,
                    after=lambda a, k, out: tr.catalyst_of(df))
        rows = sorted(tuple(r) for r in got)
        return {"id": op_id, "cls": cls, "t0": start, "t1": time.time(),
                "ms": (time.perf_counter() - t) * 1000, "ok": True,
                "rows": rows}

    # warm-up inside set-up: WARM_ROUNDS rounds that stage a set-up
    # batch and call each operator on it. The first calls are cold (plan
    # codegen, JIT, Python workers), the second is still 20-50 % slower
    # than steady state and the third, the first window call, up to 15 %.
    t = time.perf_counter()
    warm_ms: dict[str, list] = {"ngram": [], "embedding": []}
    for b in range(1000, 1000 + WARM_ROUNDS):
        docs, vecs, _ = stage_batch(spark, args.run_dir, args.seed, b)
        for cls, frame in (("ngram", docs), ("embedding", vecs)):
            warm_ms[cls].append(round(run_op(cls, f"warm-{cls}{b}", frame)["ms"], 1))
    setup["warm_s"] = time.perf_counter() - t
    setup["warm_ms"] = warm_ms
    setup["prep_s"] = time.perf_counter() - t_prep
    send({"ready": True, "setup": setup})

    ops = []
    batch_dirs = {}
    deadline = time.perf_counter() + args.seconds
    window_t0 = time.time()
    n = 0
    while time.perf_counter() < deadline:
        docs, vecs, d = stage_batch(spark, args.run_dir, args.seed, n)
        batch_dirs[n] = d
        for cls, frame in (("ngram", docs), ("embedding", vecs)):
            if time.perf_counter() >= deadline:
                break
            try:
                op = run_op(cls, f"{cls}:{n}", frame)
            except Exception as e:  # noqa: BLE001 — a failed op is counted
                op = {"id": f"{cls}:{n}", "cls": cls, "t0": time.time(),
                      "t1": time.time(), "ms": 0.0, "ok": False,
                      "err": repr(e)[:300], "rows": None}
            op["batch"] = n
            ops.append(op)
        n += 1
    window_t1 = max(o["t1"] for o in ops)
    peak_rss = tree_peak_rss_mb(os.getpid())
    retained = retained_mb(spark)

    # correctness, untimed: every op against the DuckDB oracle, run
    # while Spark shuts down
    want_by_batch: dict = {}
    oracle = threading.Thread(target=lambda: want_by_batch.update(
        (b, oracle_rows(d)) for b, d in batch_dirs.items()))
    oracle.start()
    if tracer is not None:
        with open(os.path.join(args.run_dir, "spans.json"), "w") as f:
            json.dump(tracer.spans, f)
    spark.stop()
    oracle.join()
    wrong = []
    for b in batch_dirs:
        want_docs, want_pairs = want_by_batch[b]
        for op in ops:
            if op["batch"] != b or not op["ok"]:
                continue
            want = want_docs if op["cls"] == "ngram" else want_pairs
            if [list(r) for r in op["rows"]] != [list(r) for r in want]:
                op["ok"] = False
                op["err"] = "differs from the DuckDB oracle"
                wrong.append(op["id"])
    for op in ops:
        op.pop("rows", None)
        op["items"] = inputs.ND_DOCS if op["cls"] == "ngram" else inputs.ND_VECS
    send({"ops": ops, "window": [window_t0, window_t1], "wrong": wrong,
          "checks": len(batch_dirs), "retained": retained, "peak_rss_mb": peak_rss})


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("serve", "near_dup"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()
    (serve if args.mode == "serve" else near_dup)(args)


if __name__ == "__main__":
    main()
