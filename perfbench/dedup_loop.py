"""spark-submit main script: passes over the dedup query set in one session.

    spark-submit --py-files ocr_spark.zip,__spark_entry__.py \
        perfbench/dedup_loop.py --sf DIR --queries q1,q2,... --warm-passes N \
        --frames DIR --result OUT.json

Builds the session with ``ocr_spark.session.get_spark`` (the config the
queries share with extraction), then evaluates every query of
``__spark_entry__.queries()`` named in ``--queries`` with ``toPandas`` in
order: one cold pass, then ``--warm-passes`` warm passes. Per query it records the wall-clock window, the tree
CPU seconds and the row count, and pickles the result frame into
``--frames`` for the oracle check, outside the timed window. A query that
raises is recorded with its error and the pass goes on.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

import proctree


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf", required=True)
    p.add_argument("--queries", required=True)
    p.add_argument("--warm-passes", type=int, required=True)
    p.add_argument("--frames", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)

    import __spark_entry__ as entry
    from ocr_spark.session import get_spark

    spark = get_spark(app="perfbench.dedup")
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = time.time()
    qs = entry.queries()
    names = args.queries.split(",")
    jvm = os.getppid()

    passes: list[list[dict]] = []
    for _ in range(1 + args.warm_passes):
        recs = []
        for name in names:
            cpu0 = proctree.tree_cpu_s(jvm)
            start = time.time()
            rec: dict = {"query": name, "start_epoch": start}
            try:
                frame = qs[name](spark, args.sf).toPandas()
            except Exception:
                frame = None
                rec["error"] = traceback.format_exc(limit=3)[-600:]
            rec["end_epoch"] = time.time()
            rec["tree_cpu_s"] = proctree.tree_cpu_s(jvm) - cpu0
            if frame is not None:
                rec["rows"] = len(frame)
                path = os.path.join(args.frames, f"p{len(passes)}-{name}.pkl")
                frame.to_pickle(path)
                rec["frame"] = path
            recs.append(rec)
        passes.append(recs)
    with open(args.result, "w") as f:
        json.dump({"session_ready_epoch": session_ready, "passes": passes}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
