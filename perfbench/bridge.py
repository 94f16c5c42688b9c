"""Bridge record: the bench.py headline entries timed two ways in one session.

    python3 perfbench/bridge.py --sf-dir <dir with the sf0.1 testdata tables> [--runs 3]

``bench.py`` times each headline entry as build + ``df.count()``. This
benchmark times what a caller gets: build, then ``collect`` and
``serving.to_json`` for SQL entries, or a ``format("noop")`` write for
pipeline and index entries (the x-entries). Both methods run here with
bench.py's protocol (one discarded warm-up pass, then the median of
``--runs`` passes), interleaved per pass so box drift hits both alike.
The result is written to ``perfbench/bridge_record.json`` so the
round-over-round bench.py numbers can be read against this benchmark's.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

# bench.py's HEADLINE list when the bridge was recorded
HEADLINE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_revenue_forecast", "q9_product_type_profit", "q10_returned_items",
    "q18_large_volume_customer", "q21_suppliers_kept_waiting",
    "w2_running_customer_total", "w5_rank_family", "g1_rollup_revenue",
    "d1_distinct_aggregates", "j2_correlated_above_avg", "sem3_calc_to_many",
    "sem7_semantic_join_query", "a4_map_struct_ops", "f3_compat_datetime_json",
    "x1_exact_dedup", "x3_ngram_jaccard_pairs", "x6_token_stats", "x9_cosine_topk",
    "x13_embedding_near_dup",
)


def delivered(spark, fn, sf_dir: str, name: str) -> int:
    from wren_engine_spark import serving

    df = fn(spark, sf_dir)
    if name.startswith("x"):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite").save()
        return int(obs.get["n"])
    rows = serving.collect_with_timeout(df, None)
    serving.to_json(df, rows)
    return len(rows)


def counted(spark, fn, sf_dir: str, name: str) -> int:
    return fn(spark, sf_dir).count()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import shutil

    import run

    sf_dir = os.path.abspath(args.sf_dir)
    run_dir = os.path.join(ROOT, run.WORK_DIR, f"bridge-{os.getpid()}")
    os.makedirs(run_dir)
    paths = run.isolate(run_dir)

    from wren_engine_spark.queries.registry import QUERIES
    from wren_engine_spark.session import get_spark

    spark = get_spark("perfbench-bridge",
                      extra_conf={"spark.sql.warehouse.dir": paths["warehouse"]})
    methods = {"count": counted, "delivered": delivered}
    times = {m: {n: [] for n in HEADLINE} for m in methods}
    rows = {m: {} for m in methods}
    try:
        for rep in range(args.runs + 1):
            for m, call in methods.items():
                spark.catalog.clearCache()
                for name in HEADLINE:
                    t0 = time.perf_counter()
                    rows[m][name] = call(spark, QUERIES[name], sf_dir, name)
                    dt = time.perf_counter() - t0
                    if rep > 0:
                        times[m][name].append(dt)
    finally:
        run.stop_spark(spark)
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    import harness

    record = {
        "what": "bench.py headline entries: build + count() vs the delivered path",
        "protocol": f"1 discarded warm-up pass, median of {args.runs} passes, "
                    "methods interleaved per pass",
        "cores": os.cpu_count(),
        "driver_heap": run.DRIVER_HEAP,
        "cpu_canary_ms": round(harness.cpu_canary_ms(), 3),
        "entries": {
            n: {
                "count_s": round(statistics.median(times["count"][n]), 4),
                "delivered_s": round(statistics.median(times["delivered"][n]), 4),
                "rows": rows["delivered"][n],
                "delivered_by": "noop write" if n.startswith("x") else "collect + to_json",
            }
            for n in HEADLINE
        },
    }
    for m in methods:
        record[f"total_{m}_s"] = round(
            sum(statistics.median(v) for v in times[m].values()), 3)
    with open(os.path.join(HERE, "bridge_record.json"), "w") as f:
        json.dump(record, f, indent=2)
        f.write("\n")
    print(json.dumps({k: v for k, v in record.items() if k != "entries"}))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    sys.exit(main(sys.argv[1:]))
