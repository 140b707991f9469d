"""spark-submit main script: run the extraction job in a closed loop.

    spark-submit --py-files ocr_spark.zip,job.py perfbench/extract_loop.py \
        --input CORPUS --work DIR --num-parts P --warm-jobs N --result OUT.json

Calls ``job.main`` (the code ``spark-submit job.py`` runs) once per
iteration, one job at a time, each into its own output directory: one cold
job, then ``--warm-jobs`` warm jobs. Around each call it samples the CPU
seconds of the whole spark-submit process tree (the JVM, this driver, the
Python workers).
Writes one JSON file: per job, job.py's summary line, the tree CPU seconds
and the wall-clock times the call started and returned.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time

import proctree


def _summary(stdout: str) -> dict:
    lines = [ln for ln in stdout.splitlines() if ln.startswith("{")]
    if not lines:
        raise RuntimeError(f"job printed no summary line: {stdout[-500:]!r}")
    return json.loads(lines[-1])


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--num-parts", type=int, required=True)
    p.add_argument("--warm-jobs", type=int, required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args(argv)

    import job  # shipped with --py-files, as the product is

    jvm = os.getppid()
    jobs: list[dict] = []
    for _ in range(1 + args.warm_jobs):
        out = os.path.join(args.work, f"out_{len(jobs)}")
        cpu0 = proctree.tree_cpu_s(jvm)
        start = time.time()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = job.main(
                ["--input", args.input, "--output", out, "--num-parts", str(args.num_parts)]
            )
        end = time.time()
        cpu = proctree.tree_cpu_s(jvm) - cpu0
        if rc != 0:
            raise RuntimeError(f"job.main returned {rc}")
        jobs.append(
            {
                "summary": _summary(buf.getvalue()),
                "start_epoch": start,
                "end_epoch": end,
                "tree_cpu_s": cpu,
                "output": out,
            }
        )
    with open(args.result, "w") as f:
        json.dump({"jobs": jobs}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
