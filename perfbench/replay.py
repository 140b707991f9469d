"""Single-thread replay of a fixed, seeded sample of a workload's turns
through the public per-layer functions, outside Spark:

- ``kernels``: ``ocr_spark.kernels.extract.extract_turn`` per tool;
- ``pipeline.arrow``: pyarrow ``to_pandas`` of the kernel's input columns
  and ``from_pandas`` of its output columns;
- ``pipeline.checksum``: ``ocr_spark.pipeline.turn_checksums``.

Each is timed over the whole sample ``REPEATS`` times and the median kept.
Comparing the job's extract task time per turn with this sum locates the
cost that Spark adds around the kernels (``pipeline.extract.overhead_x``).
"""

from __future__ import annotations

import time

import pandas as pd
import pyarrow as pa

from stats import median

SAMPLE_TURNS = 2_000
REPEATS = 3
#: fixture tool name → ledger name (``null`` is the plain-text pass-through)
TOOLS = {"grid": "grid", "html": "html", "json": "json", "null": "text"}


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def replay(corpus: pd.DataFrame, seed: int) -> dict[str, float]:
    from ocr_spark.kernels.extract import extract_turn
    from ocr_spark.pipeline import turn_checksums

    sample = corpus.sample(n=min(SAMPLE_TURNS, len(corpus)), random_state=seed)
    out: dict[str, float] = {}
    texts = []
    for tool, name in TOOLS.items():
        rows = sample[sample["tool"] == tool]
        recs: list[dict] = []

        def run() -> None:
            recs[:] = [extract_turn(t, tool) for t in rows["text"]]

        secs = median([_timed(run) for _ in range(REPEATS)])
        n = len(rows)
        out[f"kernels.{name}.us_per_turn"] = secs / n * 1e6 if n else 0.0
        out[f"kernels.{name}.turns"] = n
        out[f"kernels.{name}.ok_frac"] = sum(r["status"] == "ok" for r in recs) / n if n else 0.0
        texts += [(c, i, r["extracted_text"]) for c, i, r in zip(rows["conv_id"], rows["turn_idx"], recs)]

    n = len(sample)
    batch = pa.Table.from_pandas(
        sample[["conv_id", "turn_idx", "text", "tool"]], preserve_index=False
    )
    result = pd.DataFrame(texts, columns=["conv_id", "turn_idx", "extracted_text"])
    arrow_s = median(
        [
            _timed(batch.to_pandas)
            + _timed(lambda: pa.Table.from_pandas(result, preserve_index=False))
            for _ in range(REPEATS)
        ]
    )
    checksum_s = median(
        [
            _timed(lambda: turn_checksums(result["conv_id"], result["turn_idx"], result["extracted_text"]))
            for _ in range(REPEATS)
        ]
    )
    out["pipeline.arrow.us_per_turn"] = arrow_s / n * 1e6
    out["pipeline.checksum.us_per_turn"] = checksum_s / n * 1e6
    kernel_us = sum(out[f"kernels.{k}.us_per_turn"] * out[f"kernels.{k}.turns"] for k in TOOLS.values()) / n
    out["replay.us_per_turn"] = kernel_us + out["pipeline.arrow.us_per_turn"] + out["pipeline.checksum.us_per_turn"]
    return out
