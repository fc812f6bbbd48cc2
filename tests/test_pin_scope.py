"""Pin lifetime of the pipeline operators (``pipeline.util.pin_scope``):
each thread's pins live until that thread's next outermost operator
call, nested calls keep their caller's pins, and pins of exited
threads are freed by the next outermost scope."""

import random
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark import StorageLevel

from timbala_spark.pipeline import (
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    near_dup_pipeline,
    simhash_pairs,
    util,
)


def _cached(df) -> bool:
    """Whether Spark's cache manager still holds ``df``'s plan."""
    return df.storageLevel != StorageLevel.NONE


def _thread_pins() -> list:
    return list(util._PINS.get(threading.current_thread(), []))


@pytest.fixture(scope="module")
def docs(spark, tmp_path_factory):
    """24 documents: 8 base texts, exact and one-word-changed copies."""
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(8):
        words = [rng.choice(vocab) for _ in range(16)]
        rows.append((i, " ".join(words)))
        rows.append((100 + i, " ".join(words)))
        words[rng.randrange(16)] = "changed"
        rows.append((200 + i, " ".join(words)))
    p = str(tmp_path_factory.mktemp("pins") / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(p)
    return spark.read.parquet(p)


@pytest.fixture(scope="module")
def vecs(spark, tmp_path_factory):
    """30 64-d vectors: 15 random ones and a slightly perturbed twin of each."""
    rng = random.Random(5)
    rows = []
    for i in range(15):
        v = [rng.gauss(0, 1) for _ in range(64)]
        rows.append((i, v))
        rows.append((100 + i, [x + rng.gauss(0, 0.05) for x in v]))
    p = str(tmp_path_factory.mktemp("pins") / "vecs")
    schema = "vec_id long, embedding array<float>"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(p)
    return spark.read.parquet(p)


def _ngram(docs):
    return sorted(map(tuple, near_dup_pipeline(docs, threshold=0.5, n=7).collect()))


def _embedding(vecs):
    out = embedding_near_dup_pairs(
        vecs, threshold=0.9, mode="lsh", n_planes=4, n_tables=8
    )
    return sorted((a, b, round(c, 9)) for a, b, c in out.collect())


def test_two_threads_keep_their_own_pins(docs, vecs):
    serial_ngram, serial_emb = _ngram(docs), _embedding(vecs)
    assert serial_ngram and serial_emb
    start = threading.Barrier(2)

    def call(fn, frame):
        start.wait(60)
        return fn(frame), _thread_pins()

    with ThreadPoolExecutor(1) as a, ThreadPoolExecutor(1) as b:
        fa = a.submit(call, _ngram, docs)
        fb = b.submit(call, _embedding, vecs)
        (ngram_rows, a_pins), (emb_rows, b_pins) = fa.result(120), fb.result(120)
        assert ngram_rows == serial_ngram
        assert emb_rows == serial_emb
        assert a_pins and b_pins
        assert all(map(_cached, a_pins + b_pins))
        # thread a's next call frees a's pins only
        a.submit(lambda: simhash_pairs(docs).count()).result(120)
        assert not any(map(_cached, a_pins))
        assert all(map(_cached, b_pins))


def test_nested_call_keeps_callers_pins(docs, monkeypatch):
    from timbala_spark.pipeline import dedup

    inner = []

    def record(df):
        out = util.tracked_persist(df)
        inner.append(out)
        return out

    monkeypatch.setattr(dedup, "tracked_persist", record)
    near_dup_pipeline(docs, threshold=0.5, n=7)
    outer = _thread_pins()
    # ids and reps stay pinned past the inner n-gram call; the inner
    # call's eager checkpoint freed only its own pins
    assert len(outer) == 2 and all(map(_cached, outer))
    assert inner and not any(map(_cached, inner))


def test_serial_calls_keep_only_last_pins(docs):
    pins = []
    for call in (
        lambda: simhash_pairs(docs),
        lambda: minhash_lsh_pairs(docs, threshold=0.5),
        lambda: near_dup_pipeline(docs, threshold=0.5, n=7),
    ):
        call().count()
        pins.append(_thread_pins())
    assert all(pins)
    assert not any(_cached(df) for df in pins[0] + pins[1])
    assert all(map(_cached, pins[2]))


def test_calls_in_one_scope_keep_each_others_pins(docs, vecs):
    with util.pin_scope():
        embedding_near_dup_pairs(vecs, threshold=0.9, mode="blocked").count()
        first = _thread_pins()
        simhash_pairs(docs).count()
    assert first and all(map(_cached, _thread_pins()))
    simhash_pairs(docs).count()
    assert not any(map(_cached, first))


def test_exited_thread_pins_released(vecs):
    got = []
    t = threading.Thread(target=lambda: got.append((_embedding(vecs), _thread_pins())))
    t.start()
    t.join(120)
    assert not t.is_alive()
    rows, pins = got[0]
    assert rows and pins and all(map(_cached, pins))
    with util.pin_scope():
        pass
    assert not any(map(_cached, pins))
    assert t not in util._PINS


def test_pin_registry_under_thread_stress():
    """More threads than cores, a tiny switch interval: no thread's
    scope may release another live thread's pins, each thread's next
    outermost scope releases its own previous ones, and exited
    threads' pins all go at the next outermost scope."""

    class Frame:
        released = False

        def persist(self):
            return self

        def unpersist(self, blocking=False):
            self.released = True

    errors = []

    def worker():
        prev = []
        for _ in range(200):
            with util.pin_scope():
                if not all(f.released for f in prev):
                    errors.append("previous scope's pins kept")
                mine = [util.tracked_persist(Frame()) for _ in range(3)]
                with util.pin_scope():
                    mine.append(util.tracked_persist(Frame()))
            if any(f.released for f in mine):
                errors.append("pins released before the next call")
            prev = mine

    threads = [threading.Thread(target=worker) for _ in range(16)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    with util.pin_scope():
        pass
    assert not any(t in util._PINS for t in threads)


#: Spark jobs of one warm call (result collect included) of each
#: near-dup operator class on the inputs above, counted by job group.
#: These are the counts the process-global pin list gave: scoped pins
#: must not add or drop a job.
WARM_JOBS = {"ngram": 30, "embedding": 14}


def test_warm_call_job_counts(spark, docs, vecs):
    sc = spark.sparkContext
    got = {}
    for name, call in (
        ("ngram", lambda: _ngram(docs)),
        ("embedding", lambda: _embedding(vecs)),
    ):
        call()
        group = f"pins-warm-{name}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == WARM_JOBS


def test_benchmark_pin_hook_attaches(spark, monkeypatch):
    """The benchmark's traced run counts pins by wrapping
    ``tracked_persist`` where the pipeline modules look it up
    (``perfbench/spans.py:install_pipeline``); a pin refactor that
    moves the lookup would crash that run or zero its pin count."""
    import importlib.util
    import os
    import pkgutil

    import timbala_spark.pipeline as pkg
    from timbala_spark.pipeline import dedup, incremental, similarity

    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
        if hasattr(mod, "tracked_persist"):
            # registers the original for restore at teardown
            monkeypatch.setattr(mod, "tracked_persist", mod.tracked_persist)
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "spans.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(spans)

    orig = util.tracked_persist
    tracer = spans.Tracer()
    spans.install_pipeline(tracer)
    for mod in (dedup, incremental, similarity):
        assert mod.tracked_persist is not orig
        assert mod.tracked_persist.__wrapped__ is orig
    with util.pin_scope():
        dedup.tracked_persist(spark.range(3))
        util.release_scope()
    assert [s["name"] for s in tracer.spans] == ["pipeline.pin"]
