"""The per-layer ledger: names, units and how each value is derived.

``PER_LAYER`` is the single list of per-layer metrics; ``BENCHMARK.json``
lists the same names (a test checks this). A traced run of any workload
reports every name. A layer the workload does not run reports 0, which is
the amount of work it did there: the kernels and the pipeline stages on
``dedup``, the operators on ``mixed``.

Extraction layers come from Spark's event log of the traced submit, split
per ``job.main`` call by wall-clock window:

- ``pipeline.scan``: the stage that reads the corpus and writes the shuffle
  (input bytes and shuffle bytes written);
- ``pipeline.exchange``: that shuffle, seen from both sides;
- ``pipeline.extract``: the stage that reads the shuffle and writes parquet,
  i.e. the ``mapInArrow`` extraction and the ``rec``-partitioned write;
- ``pipeline.write.commit_s``: end of that stage to end of its SQL
  execution (the driver-side commit);
- ``job.summary_s``: ``wall_sec`` minus that SQL execution, i.e. the
  lineage summary and planning in ``job.py``.

Each is a median over the warm calls of the submit.
"""

from __future__ import annotations

import os

from eventlog import EventLog, Stage
from stats import median, percentile, ratio

#: the five banded-candidate join sites (ROADMAP direction 4)
QUERIES = [
    "dedup_minhash_lsh",
    "dedup_embedding_cosine",
    "cross_snapshot_dedup",
    "image_ahash_candidates",
    "conversation_near_dup",
]

#: (name, unit, better)
PER_LAYER: list[tuple[str, str, str]] = [
    ("session.launch_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    ("pipeline.scan.stage_s", "s", "lower"),
    ("pipeline.scan.cpu_s", "s", "lower"),
    ("pipeline.exchange.shuffle_mb", "MB", "lower"),
    ("pipeline.exchange.fetch_wait_s", "s", "lower"),
    ("pipeline.exchange.empty_tasks", "count", "lower"),
    ("pipeline.exchange.task_rows_max_over_p50", "ratio", "lower"),
    ("pipeline.extract.stage_s", "s", "lower"),
    ("pipeline.extract.run_s", "s", "lower"),
    ("pipeline.extract.jvm_cpu_s", "s", "lower"),
    ("pipeline.extract.gc_s", "s", "lower"),
    ("pipeline.extract.task_ms_p50", "ms", "lower"),
    ("pipeline.extract.task_ms_p95", "ms", "lower"),
    ("pipeline.extract.task_ms_max", "ms", "lower"),
    ("pipeline.extract.overhead_x", "ratio", "lower"),
    ("lineage.part_ms_p50", "ms", "lower"),
    ("lineage.part_ms_max", "ms", "lower"),
    ("job.cpu_util", "ratio", "higher"),
    ("job.summary_s", "s", "lower"),
    ("job.peak_rss_mb", "MB", "lower"),
    ("pipeline.write.output_mb", "MB", "lower"),
    ("pipeline.write.files", "count", "lower"),
    ("pipeline.write.commit_s", "s", "lower"),
    ("pipeline.arrow.us_per_turn", "us", "lower"),
    ("pipeline.checksum.us_per_turn", "us", "lower"),
    ("replay.us_per_turn", "us", "lower"),
]
for _tool in ("grid", "html", "json", "text"):
    PER_LAYER += [
        (f"kernels.{_tool}.us_per_turn", "us", "lower"),
        (f"kernels.{_tool}.turns", "count", "higher"),
        (f"kernels.{_tool}.ok_frac", "ratio", "higher"),
    ]
for _q in QUERIES:
    PER_LAYER += [
        (f"operators.{_q}.s", "s", "lower"),
        (f"operators.{_q}.rows", "count", "higher"),
        (f"operators.{_q}.shuffle_mb", "MB", "lower"),
        (f"operators.{_q}.spark_jobs", "count", "lower"),
    ]
PER_LAYER += [
    ("scaling.turns_per_s_lo", "1/s", "higher"),
    ("scaling.eff", "ratio", "higher"),
    ("scaling.host_eff", "ratio", "higher"),
    ("scaling.eff_vs_host", "ratio", "higher"),
    ("trace.overhead_frac", "ratio", "lower"),
]

MB = 2**20


def _scan_stage(stages: list[Stage]) -> Stage:
    hits = [s for s in stages if s.total("input_bytes") > 0 and s.total("shuffle_write_bytes") > 0]
    if len(hits) != 1:
        raise ValueError(f"expected one scan stage, found {[s.stage_id for s in hits]}")
    return hits[0]


def _extract_stage(stages: list[Stage]) -> Stage:
    hits = [s for s in stages if s.total("shuffle_read_records") > 0 and s.total("output_bytes") > 0]
    if len(hits) != 1:
        raise ValueError(f"expected one extract stage, found {[s.stage_id for s in hits]}")
    return hits[0]


def extraction_layers(log: EventLog, jobs: list[dict], turns: int) -> dict[str, float]:
    """Per-layer metrics of a traced extraction submit: each of ``jobs``
    (the loop's per-call records) is matched to its Spark jobs by wall-clock
    window, and each metric is the median over the calls."""
    per_call: dict[str, list[float]] = {}
    for rec in jobs:
        summary = rec["summary"]
        spark_jobs = log.jobs_between(rec["start_epoch"] * 1000, rec["end_epoch"] * 1000)
        ext = _extract_stage(log.stages_of(spark_jobs))
        exec_id = next(j.execution_id for j in spark_jobs if ext.stage_id in j.stage_ids)
        write_exec = log.executions[exec_id]
        # the lineage summary also scans and shuffles: the scan stage is the
        # one in the write's own SQL execution
        scan = _scan_stage(log.stages_of([j for j in spark_jobs if j.execution_id == exec_id]))
        rows = [t.shuffle_read_records for t in ext.tasks]
        nonempty = [r for r in rows if r]
        values = {
            "pipeline.scan.stage_s": scan.wall_s,
            "pipeline.scan.cpu_s": scan.total("cpu_ms") / 1000,
            "pipeline.exchange.shuffle_mb": scan.total("shuffle_write_bytes") / MB,
            "pipeline.exchange.fetch_wait_s": ext.total("fetch_wait_ms") / 1000,
            "pipeline.exchange.empty_tasks": len(rows) - len(nonempty),
            "pipeline.exchange.task_rows_max_over_p50": ratio(
                max(nonempty, default=0), percentile(nonempty, 50) if nonempty else 0
            ),
            "pipeline.extract.stage_s": ext.wall_s,
            "pipeline.extract.run_s": ext.total("run_ms") / 1000,
            "pipeline.extract.jvm_cpu_s": ext.total("cpu_ms") / 1000,
            "pipeline.extract.gc_s": ext.total("gc_ms") / 1000,
            "pipeline.extract.task_ms_p50": ext.task_ms(50),
            "pipeline.extract.task_ms_p95": ext.task_ms(95),
            "pipeline.extract.task_ms_max": ext.task_ms(100),
            "pipeline.extract.task_us_per_turn": ratio(ext.total("run_ms") * 1000, turns),
            "lineage.part_ms_p50": summary["part_ms_p50"],
            "lineage.part_ms_max": summary["part_ms_max"],
            "job.summary_s": summary["wall_sec"] - write_exec.wall_s,
            "pipeline.write.output_mb": ext.total("output_bytes") / MB,
            "pipeline.write.commit_s": max(0, write_exec.end_ms - ext.complete_ms) / 1000,
        }
        for k, v in values.items():
            per_call.setdefault(k, []).append(v)
    return {k: median(v) for k, v in per_call.items()}


def count_files(output: str) -> int:
    """Data and lineage files a job wrote (bookkeeping files excluded)."""
    return sum(
        1
        for _, _, files in os.walk(output)
        for f in files
        if not f.startswith((".", "_"))
    )


def operator_layers(log: EventLog, passes: list[list[dict]]) -> dict[str, float]:
    """Per-query metrics of a traced dedup submit: the time is a median over
    the warm passes, the rest comes from the last one, whose Spark jobs are
    matched to each query by wall-clock window."""
    out: dict[str, float] = {}
    warm = passes[1:]
    for q in QUERIES:
        recs = [r for p in warm for r in p if r["query"] == q]
        last = recs[-1]
        jobs = log.jobs_between(last["start_epoch"] * 1000, last["end_epoch"] * 1000)
        out[f"operators.{q}.s"] = median([r["end_epoch"] - r["start_epoch"] for r in recs])
        out[f"operators.{q}.rows"] = last.get("rows", 0)
        out[f"operators.{q}.shuffle_mb"] = (
            sum(s.total("shuffle_write_bytes") for s in log.stages_of(jobs)) / MB
        )
        out[f"operators.{q}.spark_jobs"] = len(jobs)
    return out


def complete(values: dict[str, float]) -> dict[str, dict]:
    """Every per-layer metric, 0 for a layer the workload did not run."""
    return {name: {"value": float(values.get(name, 0.0)), "unit": unit} for name, unit, _ in PER_LAYER}
