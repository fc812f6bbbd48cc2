"""Scale stress for the curation operators (pipeline/sample.py +
text.scrub_pii): synthesize a Zipfian-domain corpus far bigger than the
test data, time each operator, and verify the structural claims hold
(cap bypass beats the plain window; packing stays flat as partitions
grow; sampling/PII stay map-only walls).

Usage: STRESS_DOCS=5000000 python tools/curation_stress.py
Timing discipline: everything runs in ONE session, interleaved where a
comparison is made (PERF.md §10).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    n_docs = int(os.environ.get("STRESS_DOCS", "5000000"))
    from pyspark.sql import SparkSession, functions as F

    from timbala_spark.pipeline import (
        cap_per_group,
        pack_greedy,
        scrub_pii,
        stratified_sample,
    )

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("curation-stress")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # shuffle-file reclamation WITHIN a job: curate_corpus
        # checkpoints the dedup boundary (lineage truncation), but the
        # ContextCleaner only deletes the orphaned shuffle files after
        # a JVM GC — the default periodicGC.interval of 30 min never
        # fires inside one e2e run (PERF §20c take 2)
        .config("spark.cleaner.periodicGC.interval", "90s")
        # zstd beats lz4 by ~25% on word-shaped shuffle payloads —
        # at 20M docs that is >10 GB of scratch headroom
        .config("spark.io.compression.codec", "zstd")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # periodic PYTHON gc: py4j only releases JVM-side DataFrame/plan
    # refs after Python GC runs, and the ContextCleaner can only
    # reclaim shuffle files whose dependencies are JVM-unreachable —
    # without this, one-off action shuffles accumulate for the whole
    # run (PERF §20c takes 3-4)
    import gc as _gc
    import threading

    def _gc_loop():
        while True:
            time.sleep(45)
            _gc.collect()

    threading.Thread(target=_gc_loop, daemon=True).start()

    # Zipf-ish domains: a handful of heavy hitters hold most rows
    # (domain k gets ~ n/k^1.1 rows via inverse-CDF on a power law),
    # text ~200 chars with occasional PII-shaped spans.
    df = (
        spark.range(n_docs)
        .withColumn("r", F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0)
        .withColumn(
            "source",
            F.concat(
                F.lit("dom"),
                F.floor(F.pow(F.lit(20000.0), F.col("r"))).cast("long"),
            ),
        )
        .withColumn("lang", F.element_at(F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "zh")]), (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(5)) + 1).cast("int")))
        .withColumn(
            "text",
            F.concat(
                F.repeat(F.lit("lorem ipsum dolor sit amet "), 7),
                F.when(
                    F.pmod("id", F.lit(50)) == 0,
                    F.concat(F.lit(" user"), F.col("id"), F.lit("@example.com and 10.1.2.3 and 123456789 ")),
                ).otherwise(F.lit(" plain tail ")),
            ),
        )
        .withColumn("n_tokens", F.lit(29) + F.when(F.pmod("id", F.lit(50)) == 0, F.lit(4)).otherwise(F.lit(2)))
        .select(F.col("id").alias("doc_id"), "text", "lang", "source", "n_tokens")
    )
    df = df.persist()
    n = df.count()
    n_dom = df.select("source").distinct().count()
    top = df.groupBy("source").count().orderBy(F.desc("count")).limit(3).collect()
    print(f"corpus: {n:,} docs, {n_dom:,} domains, top3 {[(r.source, r['count']) for r in top]}", flush=True)

    def t(label, fn, reps=2):
        best = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            w = time.time() - t0
            best = w if best is None else min(best, w)
        print(f"{label}: {best:.2f}s  ({out})", flush=True)
        return best

    only_e2e = os.environ.get("STRESS_E2E_ONLY") == "1"

    # 1) sampling: map-only wall
    if not only_e2e:
        t("sample 10% stratified", lambda: stratified_sample(
            df, {"en": 0.1, "de": 0.1, "fr": 0.1, "es": 0.1, "zh": 0.1},
            "doc_id", strata_col="lang", seed=3).count())

    if not only_e2e:
        # 2) caps: bypass vs plain window, interleaved
        cap = 2000
        walls = {"fast": [], "plain": []}
        for _ in range(2):
            for mode, opt in (("fast", True), ("plain", False)):
                t0 = time.time()
                c = cap_per_group(df, "source", cap, "doc_id", optimize_small_groups=opt).count()
                walls[mode].append(time.time() - t0)
        fast, plain = min(walls["fast"]), min(walls["plain"])
        print(f"cap {cap}/domain kept={c:,}: bypass {fast:.2f}s vs plain window {plain:.2f}s ({plain/fast:.2f}x)", flush=True)

        # 3) packing: distributed prefix sum at two partition counts
        for np_ in (32, 256):
            t(f"pack budget=4096 n_partitions={np_}", lambda np_=np_: pack_greedy(
                df, 4096, "n_tokens", "doc_id", n_partitions=np_
            ).agg(F.max("shard_id")).collect()[0][0])

        # 4) PII scrub: map-only wall + hit totals
        t("pii scrub", lambda: scrub_pii(df).agg(
            F.sum("n_pii_total")).collect()[0][0], reps=2)

    # 5) the full composition (skippable for the 100M run: near-dup
    # over identical synthetic texts degenerates to one giant cluster)
    # e2e cap: MEASURED ~19 GB peak scratch at 20M (PERF §20c take 8)
    # and ~71 GB peak / 18 GB-free minimum at 50M on a 72 GB-free box
    # (take 9, exit 0) — ~1.4 GB/M at 50M, mildly superlinear, so the
    # cap stays at 50M until a bigger box or a cluster
    if os.environ.get("STRESS_E2E", "1") == "1" and n_docs <= 50_000_000:
        from timbala_spark.pipeline.curate import curate_corpus

        # the e2e stage at >=20M needs local shuffle scratch the earlier
        # stages' accumulated shuffle files would otherwise exhaust
        # (measured: ENOSPC at 20M in a full session) — drop them
        import gc

        spark.catalog.clearCache()
        gc.collect()
        df = df.persist()
        df.count()

        # realistic dedup shape: distinct 20-token docs (hash-derived),
        # 2% exact duplicates of a neighbor — NOT the shared-prefix
        # text above, which would make every pair a near-duplicate
        base = F.when(F.pmod("doc_id", F.lit(50)) == 0, F.col("doc_id") - 1).otherwise(
            F.col("doc_id")
        )
        uniq_text = F.concat_ws(
            " ", *[F.concat(F.lit("w"), F.hex(F.xxhash64(base, F.lit(i)))) for i in range(20)]
        )
        corpus = df.withColumn("text", uniq_text)

        import tempfile

        scratch = tempfile.mkdtemp(prefix="curation_stage_")

        def e2e():
            # scratch_dir: the storage-backed stage boundary a real
            # pipeline has anyway (curated corpus lands before layout)
            out = curate_corpus(
                corpus,
                sample_fraction=0.5,
                cap_group_col="source",
                cap_max_rows=2000,
                shard_budget=4096,
                scratch_dir=None
                if os.environ.get("STRESS_NO_SCRATCH") == "1"
                else (scratch if n_docs >= 10_000_000 else None),
            )
            return out.agg(
                F.max("shard_id"),
                F.count(F.lit(1)),
                # decimal(38,0) sum: 64-bit hashes overflow a long sum
                # under ANSI mode
                F.sum(
                    F.xxhash64(
                        "doc_id",
                        "text_scrubbed",
                        "n_tokens",
                        "shard_id",
                        "token_offset",
                    ).cast("decimal(38,0)")
                ),
            ).collect()[0]

        t("curate_corpus end-to-end", e2e, reps=1)

        if os.environ.get("STRESS_COMPARE_MODES") == "1":
            # run-to-run determinism: two cold-cache runs of the full
            # composition must agree on rows, max shard, and the
            # full-output value hash
            def cold_run():
                spark.catalog.clearCache()
                gc.collect()
                df.persist().count()
                return e2e()

            first = cold_run()
            second = cold_run()
            same = tuple(first) == tuple(second)
            print(
                f"run-identity: first={tuple(first)} "
                f"second={tuple(second)} identical={same}",
                flush=True,
            )
            if not same:
                sys.exit(2)

    print("done", flush=True)


if __name__ == "__main__":
    main()
