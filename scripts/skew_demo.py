"""Skew demonstration: salted vs unsalted partitioning on a skewed corpus.

Generates a corpus where ONE conversation holds ~1/3 of all turns (the
long-conversation skew the north_rule names), then runs the identical
extraction stage twice at the same parallelism:

- **unsalted**: part_id = hash(conv_id) only (turn_bucket = ∞) — the whole
  hot conversation lands in one task; the stage's wall clock is that one
  straggler.
- **salted** (the engine default): part_id = hash(conv_id, turn_idx/64) —
  the hot conversation spreads across ~turns/64 parts.

Writes SKEW.md with wall times, the partition-size distribution (max/median
rows per task), and the speedup. Usage: python scripts/skew_demo.py
[--turns 600000] [--cpus 16]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--turns", type=int, default=600_000)
    p.add_argument("--cpus", type=int, default=16)
    p.add_argument("--num-parts", type=int, default=64)
    args = p.parse_args(argv)

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    import bench
    from ocr_spark.pipeline import extract_stage
    from ocr_spark.session import get_spark

    spark = get_spark(app="skew-demo", master=f"local[{args.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # base corpus (distributed gen, cached) + one hot conversation with 1/3
    # of the total turns, generated with the same per-(conv,turn) substreams
    base_path, n_base = bench.build_corpus(spark, args.turns)
    hot_n = n_base // 2  # hot conv = 1/3 of the final table
    out_schema = spark.read.parquet(base_path).schema

    def gen_hot(batches):
        import datetime as dt

        from ocr_spark.fixtures import _ROLES, turn_payload

        epoch = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        for pdf in batches:
            rows = []
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                for t in range(int(lo), int(hi)):
                    tool, text = turn_payload(99, 0, t)
                    rows.append(
                        (
                            "conv_hot",
                            t,
                            _ROLES[t % 3],
                            text,
                            tool,
                            epoch + dt.timedelta(seconds=t),
                        )
                    )
            yield pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
            )

    n_chunks = 64
    bounds = np.linspace(0, hot_n, n_chunks + 1, dtype=np.int64)
    plan = pd.DataFrame({"lo": bounds[:-1], "hi": bounds[1:]})
    hot = (
        spark.createDataFrame(plan)
        .repartition(n_chunks)
        .mapInPandas(gen_hot, out_schema)
    )
    skewed = spark.read.parquet(base_path).unionByName(hot)
    skew_path = os.path.join(bench.BENCH_DIR, f"skew_{args.turns}.parquet")
    if not os.path.exists(os.path.join(skew_path, "_SUCCESS")):
        skewed.write.mode("overwrite").parquet(skew_path)
    df = spark.read.parquet(skew_path)
    total = df.count()

    results = {}
    for label, bucket in [("unsalted", 1 << 40), ("salted", 64)]:
        # the extraction runs in full to emit its end-of-partition lineage
        # rows; collecting only those discards the data rows like a noop sink
        t0 = time.monotonic()
        lineage = (
            extract_stage(df, args.num_parts, bucket)
            .filter(F.col("rec") == "lineage")
            .select("extracted_text")
            .collect()
        )
        wall = time.monotonic() - t0
        sizes = pd.Series(
            [json.loads(r["extracted_text"])["n_turns"] for r in lineage]
        ).describe()
        results[label] = {
            "wall": wall,
            "max_part": int(sizes["max"]),
            "median_part": int(sizes["50%"]),
        }
        print(f"{label}: {wall:.1f}s  max part {int(sizes['max'])} rows,"
              f" median {int(sizes['50%'])}", flush=True)

    speedup = results["unsalted"]["wall"] / results["salted"]["wall"]
    u, s = results["unsalted"], results["salted"]
    with open(os.path.join(REPO, "SKEW.md"), "w") as f:
        f.write(
            "# SKEW — salted repartition vs naive conv_id partitioning\n\n"
            "Same extraction stage, same skewed corpus (one conversation = "
            "1/3 of all turns), same parallelism "
            f"(local[{args.cpus}], {args.num_parts} parts, {total} turns). "
            "Regenerate: `python scripts/skew_demo.py`.\n\n"
            "| partitioning | stage wall | max part rows | median part rows |\n"
            "|---|---|---|---|\n"
            f"| unsalted `hash(conv_id)` | {u['wall']:.1f}s | {u['max_part']}"
            f" | {u['median_part']} |\n"
            f"| salted `hash(conv_id, turn_idx/64)` (engine default) |"
            f" {s['wall']:.1f}s | {s['max_part']} | {s['median_part']} |\n\n"
            f"**Speedup {speedup:.2f}×** — unsalted, the hot conversation is "
            "one straggler task owning a third of all work; salted, its turns "
            "spread across ~turns/64 logical parts and the stage ends with "
            "the fleet, not the straggler. Output is identical either way "
            "(ordering comes from sort keys, not co-location — "
            "tests/test_pipeline.py::test_salting_splits_long_conversations).\n"
        )
    print(f"speedup {speedup:.2f}x -> SKEW.md", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
