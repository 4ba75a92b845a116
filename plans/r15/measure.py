"""Round-15 query profiler: isolate named queries with the noop sink,
capture ``explain("formatted")``, and time warm runs.

Usage::

    python plans/r15/measure.py [--runs N] [--plans SUFFIX] q1 q2 ...

Timings use the bench's own methodology (noop sink, job-labelled,
gc between runs); plans land in plans/r15/<query>_<SUFFIX>.txt when
``--plans`` is given. Reads $SPARK_GRAFT_SF_DIR like bench.py.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO_ROOT = os.path.dirname(os.path.dirname(_HERE))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    plans_suffix = None
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        elif args[i] == "--plans":
            plans_suffix = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from gas_data_pipeline_spark.registry import all_queries, reset_model_seams
    from gas_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="r15-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # Same warm-up as bench.py: touch the data pages + UDF worker pool
    # so the first measured query isn't billed cold-start.
    from pyspark.sql import functions as F

    for t in ("lineitem", "orders", "customer", "documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            df = spark.read.parquet(path)
            df.select(F.sum(F.xxhash64(F.to_json(F.struct(*df.columns))))).collect()

    @F.pandas_udf("double")
    def _warm(x):
        return x

    spark.range(1000).select(_warm(F.col("id").cast("double"))).count()
    (
        spark.range(1000)
        .withColumn("g", F.col("id") % 4)
        .groupBy("g")
        .applyInPandas(lambda pdf: pdf[["id"]], schema="id bigint")
        .count()
    )

    out: dict[str, list[float]] = {}
    for name in names:
        if name not in queries:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        fn = queries[name]
        if plans_suffix:
            import io as _io
            from contextlib import redirect_stdout

            reset_model_seams()
            df = fn(spark, sf_dir)
            buf = _io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(_HERE, f"{name}_{plans_suffix}.txt"), "w"
            ) as fh:
                fh.write(buf.getvalue())
        times = []
        for r in range(runs):
            gc.collect()
            reset_model_seams()
            spark.sparkContext.setJobDescription(f"r15-profile:{name}:{r}")
            start = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - start, 4))
            spark.sparkContext.setJobDescription(None)
        out[name] = times
        print(f"{name}: {times}", flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
