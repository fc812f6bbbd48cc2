"""Store-integrated bucketed-layout A/B (r9; PERF §12).

The r8 prototype measured the bucketed dict join on raw tables; this measures it through the REAL store
surface: one synthetic series-dominated store, compacted plain, read
and pinned; recompacted with ``bucket_by_series``; both reads then
timed interleaved in the same session (PERF §10 discipline — the
generation pinning of ``read_samples_table`` is what makes both
layouts simultaneously queryable).

Usage: AB_SERIES=40000000 AB_BUCKETS=64 python tools/bucketed_store_ab.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SERIES = int(os.environ.get("AB_SERIES", "20000000"))
BUCKETS = int(os.environ.get("AB_BUCKETS", "64"))
SAMPLES_PER = 3
REPS = int(os.environ.get("AB_REPS", "3"))


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    from timbala_spark.streaming.compact import compact_store
    from timbala_spark.streaming.ingest import (
        read_samples_table,
        write_samples_batch,
    )

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("bucketed-store-ab")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    store = tempfile.mkdtemp(prefix="bucketed_store_ab_")
    try:
        t0 = time.monotonic()
        batch = spark.range(SERIES * SAMPLES_PER).select(
            F.concat(F.lit("m_"), F.pmod("id", F.lit(50)).cast("string")).alias(
                "name"
            ),
            F.map_from_arrays(
                F.array(F.lit("__name__"), F.lit("instance")),
                F.array(
                    F.concat(F.lit("m_"), F.pmod("id", F.lit(50)).cast("string")),
                    F.concat(
                        F.lit("inst-"),
                        F.pmod("id", F.lit(100_000)).cast("string"),
                    ),
                ),
            ).alias("labels"),
            (F.col("id") % SERIES).alias("series_id"),
            (
                F.lit(1_700_000_000_000)
                + (F.col("id") / SERIES).cast("long") * 60_000
            ).alias("t"),
            (F.col("id") % 997).cast("double").alias("v"),
        )
        write_samples_batch(batch, store)
        print(f"store written: {time.monotonic()-t0:.1f}s", flush=True)

        t0 = time.monotonic()
        compact_store(spark, store)  # plain generation
        print(f"plain compact: {time.monotonic()-t0:.1f}s", flush=True)
        plain = read_samples_table(spark, store)  # pinned to plain gen

        t0 = time.monotonic()
        compact_store(spark, store, bucket_by_series=BUCKETS, gc_keep=2)
        t_bucket_compact = time.monotonic() - t0
        print(f"bucketed compact: {t_bucket_compact:.1f}s", flush=True)
        bucketed = read_samples_table(spark, store)
        bplan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "timbala_b" in bplan, "bucketed branch not taken"

        def selector(df):
            # the 40M-bar dashboard shape: one metric name over the
            # dict join, grouped aggregate
            return (
                df.filter(F.col("name") == "m_0")
                .groupBy("name")
                .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
            )

        def wide(df):
            # name-free wide aggregate: the join itself dominates
            return df.groupBy("name").agg(F.sum("v").alias("sv"))

        shapes = {"selector_m0": selector, "wide_sum_by_name": wide}
        walls: dict[str, dict[str, list[float]]] = {
            k: {"plain": [], "bucketed": []} for k in shapes
        }
        rows_check: dict[str, set] = {}
        for rep in range(REPS):
            for sname, shape in shapes.items():
                for arm, df in (("plain", plain), ("bucketed", bucketed)):
                    t0 = time.monotonic()
                    got = shape(df).collect()
                    walls[sname][arm].append(round(time.monotonic() - t0, 2))
                    sig = frozenset(
                        (r[0], r["n"] if "n" in r.__fields__ else None,
                         round(r["sv"], 6))
                        for r in got
                    )
                    rows_check.setdefault(sname, set()).add(sig)
        identical = all(len(v) == 1 for v in rows_check.values())
        out = {
            "series": SERIES,
            "buckets": BUCKETS,
            "bucketed_compact_s": round(t_bucket_compact, 1),
            "arms_identical": identical,
            "walls": walls,
            "speedup": {
                k: round(min(v["plain"]) / min(v["bucketed"]), 2)
                for k, v in walls.items()
            },
        }
        print(json.dumps(out), flush=True)
    finally:
        shutil.rmtree(store, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
