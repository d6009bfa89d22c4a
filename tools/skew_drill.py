#!/usr/bin/env python
"""Skew drill at tool scale (SCALING.md §skew-drill).

The pytest drill (`tests/test_skew.py:test_skew_drill_salted_join_beats_straggler`)
runs at 4M rows to stay suite-friendly; this tool runs the SAME drill at an
arbitrary row count (r8 ask: 40M, where the straggler's sort/serialize cost
dwarfs job fixed costs and the wall ratio approaches the structural
input-cut ratio). Plain vs salted join of a 90%-hot-key big side against a
50k-key dim, AQE skew-split and broadcast disabled so the plain plan really
is one straggler task.

Prints: max/median shuffle-partition input rows for both plans (the
structural number — computed from the exchange's own hash function), and
min-of-2 wall clock for plain and salted runs.

Usage: python tools/skew_drill.py [n_rows] [salt]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_big = int(sys.argv[1]) if len(sys.argv) > 1 else 40_000_000
    salt = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    n_keys, P = 50_000, 32

    from pyspark.sql import functions as F

    from flink_dts_connector_spark.operators.skew import row_salt, salted_join
    from flink_dts_connector_spark.session import get_spark

    spark = get_spark(
        app_name="fdcs-skew-drill",
        extra_conf={"spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")},
    )
    spark.sparkContext.setLogLevel("ERROR")

    big = spark.range(n_big).select(
        F.when(F.col("id") % 10 < 9, F.lit(0))
        .otherwise(F.pmod(F.col("id"), F.lit(n_keys)))
        .alias("k"),
        F.col("id").alias("v"),
        F.repeat(F.conv(F.col("id").cast("string"), 10, 16), 8).alias("pay"),
    )
    small = spark.range(n_keys).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))

    def max_med(df, *cols):
        hist = sorted(
            r["n"]
            for r in df.groupBy(F.pmod(F.hash(*cols), F.lit(P)).alias("p"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return hist[-1], hist[len(hist) // 2]

    plain_max, plain_med = max_med(big, "k")
    salted = big.withColumn("_salt", row_salt(salt))
    salt_max, salt_med = max_med(salted, "k", "_salt")
    print(
        f"n_big={n_big:,} salt={salt}: max task input plain={plain_max:,} "
        f"(median {plain_med:,}) salted={salt_max:,} (median {salt_med:,}) "
        f"-> input cut {plain_max / max(salt_max, 1):.1f}x"
    )

    conf = spark.conf
    conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def run(df):
        best, out = float("inf"), None
        for _ in range(2):
            t0 = time.perf_counter()
            out = df.groupBy().agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("w").alias("s"),
                F.sum(F.length("pay")).alias("p"),
            ).collect()[0]
            best = min(best, time.perf_counter() - t0)
        return best, (out["n"], out["s"], out["p"])

    t_plain, r_plain = run(big.join(small, "k"))
    t_salted, r_salted = run(salted_join(big, small, on="k", salt=salt))
    assert r_plain == r_salted, (r_plain, r_salted)
    print(
        f"wall (min of 2): plain={t_plain:.2f}s salted={t_salted:.2f}s "
        f"-> {t_plain / t_salted:.2f}x; results identical"
    )


if __name__ == "__main__":
    main()
