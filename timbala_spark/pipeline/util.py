"""Shared pipeline utilities."""

from __future__ import annotations

import contextlib
import re
import threading

from pyspark.sql import Column, DataFrame, functions as F

#: Logical-plan nodes that imply the frame is shuffle-derived and so
#: already arrives with shuffle-partition parallelism (analyzed-plan
#: node names; Deduplicate = dropDuplicates, RepartitionByExpression =
#: repartition(cols)/hint; the FlatMap*InPandas group-map nodes are
#: applyInPandas / cogroup-apply / applyInPandasWithState — all keyed,
#: so shuffle-derived; plain mapInPandas is narrow and excluded).
#: Two narrow lookalikes are excluded on their flags:
#: `Repartition n, false` is coalesce and `Sort [...], false` is
#: sortWithinPartitions — both can leave a frame at 1 partition, so
#: only their shuffling (true) forms count.  Every alternative is
#: anchored to the NODE position — line start after tree-drawing
#: chars (`+- `, `:- `, indentation) — so attribute/alias names
#: cannot collide (a column aliased `Join` or `Window` appears inside
#: a node's bracketed argument list mid-line, never at a node slot;
#: r9 ADVICE).
_WIDE_NODE = re.compile(
    r"^[\s:+-]*(?:"
    r"(?:Join|Aggregate|Window|Distinct|Deduplicate|"
    r"RepartitionByExpression|Intersect|Except|"
    r"FlatMapGroupsInPandas(?:WithState)?|FlatMapCoGroupsInPandas)\b"
    r"|Repartition \d+, true"
    r"|Sort \[[^\n]*\], true"
    r")",
    re.M,
)


def hash64_expr(c: Column, algo: str = "xxhash64") -> Column:
    """64-bit string hash used by the sketch operators (minhash,
    simhash, winnowing fingerprint).

    * ``"xxhash64"`` — the production default: one JVM intrinsic per
      value, the fastest 64-bit mix Spark ships.
    * ``"md5"`` — the top 64 bits of md5's hex digest, assembled from
      two 32-bit halves (conv → shiftleft|or, so no 64-bit parse
      overflow). ~5× slower than xxhash64 but md5 is bit-identical in
      DuckDB, which makes every sketch operator replayable by the
      driver's SQL oracle; the contract entries use this variant.

    Both are uniform 64-bit mixes, so sketch quality is identical.
    """
    if algo == "xxhash64":
        return F.xxhash64(c)
    if algo == "md5":
        hi = F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(F.md5(c), 9, 8), 16, 10).cast("long")
        return F.shiftleft(hi, 32).bitwiseOR(lo)
    raise ValueError(f"unknown hash64 algo {algo!r}")


#: Each thread's pins (its open or last outermost scope's), keyed by
#: thread so that a scope can also free those of exited threads.
_PINS: dict[threading.Thread, list[DataFrame]] = {}
_PINS_LOCK = threading.Lock()
_OPEN = threading.local()  # .marks: where each open scope's pins begin


def _release(pins: list[DataFrame], start: int = 0) -> None:
    for df in pins[start:]:
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped
    del pins[start:]


@contextlib.contextmanager
def pin_scope():
    """The lifetime of :func:`tracked_persist` pins, as ``with
    pin_scope():`` or the ``@pin_scope()`` every pinning operator wears.
    A scope opened inside another on the same thread joins it.  Opening
    an OUTERMOST scope releases the pins of this thread's previous one
    and of exited threads: a result keeps its pins until the same
    thread's next operator call."""
    marks = _OPEN.__dict__.setdefault("marks", [])
    me = threading.current_thread()
    if not marks:
        with _PINS_LOCK:
            stale = [_PINS.pop(t) for t in list(_PINS) if t is me or not t.is_alive()]
        for pins in stale:
            _release(pins)
    marks.append(len(_PINS.get(me, ())))
    try:
        yield
    finally:
        marks.pop()


def release_scope() -> None:
    """Unpersist the pins taken since the innermost open scope began,
    for an operator whose result no longer reads them."""
    _release(_PINS.get(threading.current_thread(), []), _OPEN.marks[-1])


def tracked_persist(df: DataFrame) -> DataFrame:
    """``persist()`` a stage that feeds several plan branches (PERF.md
    §7) for the life of the current :func:`pin_scope` (else of the
    thread's last one) — leaked pins once slowed a 1 s query to 11 s."""
    out = df.persist()
    with _PINS_LOCK:
        _PINS.setdefault(threading.current_thread(), []).append(out)
    return out


#: Shared small-corpus gate threshold (see :func:`small_corpus`).
#: 64 MB of parquet is ~150-200 MB of raw text (~100-200k typical
#: documents) or ~100M+ 64-d vectors' worth of fixed costs dominating.
SMALL_CORPUS_INPUT_BYTES = 64 << 20


def estimated_input_bytes(df: DataFrame) -> int | None:
    """Metadata-only size estimate: the byte sum of the frame's leaf
    scan files.  No Spark job runs — ``inputFiles()`` is catalog
    metadata and local ``file:`` sizes come from ``os.stat``.  Returns
    ``None`` (= "unknown, assume big") for in-memory frames, remote
    filesystems (at 100 TB the scratch machinery should stay on, and a
    driver-side remote listing is not worth the RPCs), or any error.
    Join/agg-derived frames report their LEAF files — an upper bound
    on the derived frame's bytes, which is the conservative direction
    for a small-corpus gate."""
    import os
    from urllib.parse import unquote, urlparse

    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


def small_corpus(df: DataFrame) -> bool:
    """The small-corpus gate shared by the pipeline operators (n-gram
    stop-shingles, embedding stop-buckets, MinHash signature arm,
    pack_greedy fast path, similarity kernels): ``True`` when the
    frame's leaf-scan bytes fit under :data:`SMALL_CORPUS_INPUT_BYTES`,
    read at call time; a cut ``<= 0`` means never small.  Metadata-only
    (no job), fails CLOSED: unknown size ⇒ big ⇒ full machinery.  Gates
    PURE-ACTION work (fired-cap REPORT counts) and result-identical
    PLAN-SHAPE choices — never anything that changes results."""
    if SMALL_CORPUS_INPUT_BYTES <= 0:
        return False
    est = estimated_input_bytes(df)
    return est is not None and est <= SMALL_CORPUS_INPUT_BYTES


def ensure_parallelism(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Repartition up to the cluster's default parallelism when the
    input arrives in fewer partitions.

    Small dimension tables often come as a single parquet file → a
    single partition → CPU-heavy per-row stages (shingling, minhash,
    simhash, vector math) run serially no matter how many cores exist.
    One cheap round-robin shuffle before the heavy map stage fixes
    that; inputs that already have enough splits are left untouched
    (no-op at 100 TB where scans produce thousands of splits).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * min_factor
    # Partition count WITHOUT Dataset.rdd on shuffle-derived frames:
    # under AQE, Dataset.rdd finalizes the adaptive plan, which
    # EXECUTES every upstream exchange eagerly — measured as a full
    # extra text-wide shuffle per operator call in the 20M composition
    # (PERF §20c take 8). Three metadata-safe cases:
    #
    # 1. A plan with a wide node (join/agg/window/repartition/sort):
    #    AQE may coalesce its output to a few partitions when small,
    #    so the repartition is still needed — gated on the LEAF file
    #    count as a metadata-only scale proxy (see branch below).
    # 2. A narrow plan over a file relation: inputFiles() is the split
    #    count, metadata-only.
    # 3. A narrow plan over an in-memory relation (createDataFrame /
    #    range): inputFiles() is [] — but with no exchange anywhere in
    #    the plan, rdd.getNumPartitions() plans without executing
    #    anything, so the partition count itself is safe to read.
    try:
        tree = df._jdf.queryExecution().analyzed().treeString()
    except Exception:
        return df
    if _WIDE_NODE.search(tree):
        # Shuffle-derived frames do NOT reliably arrive with
        # shuffle-partition parallelism: AQE coalesces a small
        # shuffle output down to a handful of partitions, so a
        # CPU-heavy map stage on top (shingling survivors after the
        # digest join) serializes anyway — measured as dedup_pipeline
        # 4.1 → 9.2 s at sf0.1 when r9 briefly removed this branch on
        # the assumption the repartition was unneeded.  The LEAF file
        # count is the metadata-only scale proxy that keeps this
        # scale-safe: few leaf files ⇒ small frame ⇒ the restoring
        # shuffle is cheap; a scan-scale frame has many leaf files and
        # skips it (the 20M-doc composition never pays a text-wide
        # repartition here).
        try:
            n_files = len(df.inputFiles())
        except Exception:
            return df
        if 0 < n_files < target:
            return df.repartition(target)
        return df
    try:
        n_files = len(df.inputFiles())
        n = n_files if n_files > 0 else df.rdd.getNumPartitions()
    except Exception:
        return df
    if 0 < n < target:
        return df.repartition(target)
    return df
