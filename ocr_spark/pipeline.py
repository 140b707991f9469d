"""The distributed extraction pipeline.

Dataflow (SURVEY.md §3.4). ``extract_stage`` is the only place that knows
the part layout; ``run_pipeline`` (partitioned parquet) and
``run_pipeline_snapshots`` (snapshot table) differ only in how they read the
finished lineage and how they write the output:

    read transcripts parquet
      → optional turn-range filter          (partition/rowgroup pruning)
    extract_stage:
      → part_id = pmod(xxhash64(conv_id, floor(turn_idx/BUCKET)), P)
      → optional resume anti-join           (broadcast left-anti on the
                                             finished parts; refused when
                                             their recorded layout differs)
      → optional only_parts filter
      → select the kernel columns, repartition(min(P, slots), part_id)
                                            (explicit SALTED repartition:
                                             the turn bucket splits long
                                             conversations across parts;
                                             one task per executor slot,
                                             each carrying whole parts)
      → ONE fused mapInArrow stage: route(html|grid|json|text) → extract
        → clean → serialize, emitting per-logical-part LINEAGE rows in-band
        (each records the part's own time and the layout: num_parts,
        turn_bucket)
    → write parquet partitioned by rec ∈ {data, lineage}
      (or one atomic snapshot-table commit)

Design notes for 100-TB scale:

- part_id is DATA-DERIVED (hash of conv_id + turn bucket), not the physical
  partition index, so checkpoint-resume units are stable across cluster
  sizes and retries.
- Tasks are not parts. The extraction stage runs min(P, slots) tasks
  (slots = ``defaultParallelism``), hashed on part_id, so a part never
  spans tasks. Every PySpark task pays a fixed Python cost of 130–300 ms
  of CPU whatever its size (measured on a 4-core host, CPython 3.11,
  Spark 4.1): ``pyspark/worker_util.py`` ``setup_spark_files`` calls
  ``importlib.invalidate_caches()``, which on CPython 3.11 makes every
  cached zipimporter of the reused worker re-read its archive directory
  (``pyspark.zip``, 1,328 entries, about 14 times; the spark-core jar
  twice), and ``pyspark/daemon.py`` runs a ~44 ms ``gc.collect()`` after
  each task. One task per part paid that P times; one per slot pays it
  once per slot. The costs: a failed task re-runs every part it carried,
  about P/slots of them (⌈P/slots⌉ with an even spread; hash placement is
  uneven, e.g. 32 parts over 4 slots land 10/10/7/5), and the kernel must
  time each part itself (``_extract_batches``). Resume stays per part,
  because the output commits once per job: a killed job commits nothing,
  and its rerun skips exactly the parts an earlier committed run recorded
  as finished.
- The extraction kernels cross the JVM↔Python boundary exactly once, on
  Arrow record batches; there is no per-row Python UDF anywhere.
- Lineage rows ride the same output schema (rec='lineage', payload JSON in
  extracted_text) so data + lineage are produced in a single pass with no
  second job, no driver collection, and an atomic-enough commit (same
  write).
- Ordering is logical, never physical: the equality check sorts by
  (conv_id, turn_idx); nothing downstream depends on task order.
"""

from __future__ import annotations

import json
import operator
import time
from collections.abc import Iterable, Iterator
from functools import partial, update_wrapper
from typing import Any

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ocr_spark.kernels.align import align_pages
from ocr_spark.kernels.extract import (
    TOOL_FLAKY,
    TOOL_GRID,
    TOOL_HTML,
    TOOL_JSON,
    extract_turn,
)
from ocr_spark.operators import relational

#: Default number of logical resume partitions; at 10^12 turns this would be
#: sized to ~1-4 GB of input per part (e.g. 2^17 parts), here sized for
#: local[32] with ≥4x parts per core at the bench scale.
DEFAULT_NUM_PARTS = 256
#: Turns per salt bucket: conversations longer than this are split across
#: logical parts, defusing long-conversation skew.
DEFAULT_TURN_BUCKET = 64

LINEAGE_TOOL = "__lineage__"

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("rec", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("tool", T.StringType()),
        T.StructField("extracted_text", T.StringType()),
        T.StructField("n_rows", T.IntegerType()),
        T.StructField("n_cols", T.IntegerType()),
        T.StructField("status", T.StringType()),
    ]
)

_ARROW_SCHEMA = to_arrow_schema(EXTRACT_SCHEMA)

LINEAGE_JSON_SCHEMA = T.StructType(
    [
        T.StructField("part_id", T.IntegerType()),
        T.StructField("conv_min", T.StringType()),
        T.StructField("conv_max", T.StringType()),
        T.StructField("turn_min", T.IntegerType()),
        T.StructField("turn_max", T.IntegerType()),
        T.StructField("n_turns", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("retry_count", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("num_parts", T.IntegerType()),
        T.StructField("turn_bucket", T.LongType()),
    ]
)


def _esc_nul(s: str) -> str:
    """NUL-free injective encoding: \\x01 → \\x01\\x01, \\x00 → \\x01\\x02.

    pandas' C string hasher truncates at embedded NUL bytes (the
    factorization path treats values as C strings), which both collides
    NUL-prefix pairs and makes the wrapping-sum checksum order-dependent.
    After this escape no field contains \\x00, and \\x01 is always followed
    by \\x01 or \\x02 — so the \\x01\\x03 field separator below can never
    appear inside an escaped field (injective join)."""
    return s.replace("\x01", "\x01\x01").replace("\x00", "\x01\x02")


def turn_checksums(
    conv_id: Iterable[str | None], turn_idx: Iterable[int], text: Iterable[str | None]
) -> np.ndarray:
    """Vectorized order-insensitive per-turn digest (uint64); the part
    checksum is the wrapping sum. pandas' string hash is process- and
    partition-independent (fixed hash key), so resume runs reproduce it.
    Fields are NUL-escaped first: the hasher is only byte-exact on
    NUL-free strings (see _esc_nul). A turn with a missing conv_id or text
    hashes as missing (2^64 - 1).

    The joined keys are built in one Python pass, not with pandas ``.str``
    ops: those digest identically (a property test pins it) but cost ~2 ms
    per call whatever the size, and the kernel calls this once per part
    slice of every batch."""
    joined = np.array(
        [
            None
            if c is None or x is None
            else f"{_esc_nul(str(c))}\x01\x03{int(t)}\x01\x03{_esc_nul(str(x))}"
            for c, t, x in zip(conv_id, turn_idx, text)
        ],
        dtype=object,
    )
    return pd.util.hash_array(joined)


def turn_checksum(conv_id: str, turn_idx: int, text: str) -> int:
    """Scalar convenience wrapper over :func:`turn_checksums`."""
    return int(turn_checksums([conv_id], [turn_idx], [text])[0])


def with_part_id(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
) -> DataFrame:
    """Salted logical partition id: hash(conv_id, turn bucket) % P."""
    return df.withColumn(
        "part_id",
        F.pmod(
            F.xxhash64("conv_id", F.floor(F.col("turn_idx") / F.lit(turn_bucket))),
            F.lit(num_parts),
        ).cast("int"),
    )


def _extract_rows(text: np.ndarray, tool: np.ndarray) -> tuple[np.ndarray, ...]:
    """Turn texts and tools (object arrays) → the extraction columns
    ``extracted_text, n_rows, n_cols, status, retries``, vectorized.

    Pass-through tools (plain text — the majority class in a transcript
    corpus) are handled with array ops on the whole slice; only the
    payload-parsing tools (html/grid/json) call the per-document kernels,
    over just their rows.
    """
    n = len(text)
    ext = np.empty(n, dtype=object)
    n_rows = np.zeros(n, dtype=np.int32)
    n_cols = np.zeros(n, dtype=np.int32)
    status = np.empty(n, dtype=object)
    retries = np.zeros(n, dtype=np.int64)

    parse_mask = np.isin(tool, (TOOL_HTML, TOOL_GRID, TOOL_JSON, TOOL_FLAKY))

    # pass-through: identity text, vectorized (extract_turn semantics)
    pt = ~parse_mask
    if pt.any():
        vals = text[pt]
        vals = np.where([v is None for v in vals], "", vals)
        ext[pt] = vals
        status[pt] = np.where([bool(v) for v in vals], "ok", "empty")

    # payload-parsing tools: per-document kernels on their subsets
    for idx in np.flatnonzero(parse_mask):
        rec = extract_turn(text[idx], tool[idx])
        ext[idx] = rec["extracted_text"]
        n_rows[idx] = rec["n_rows"]
        n_cols[idx] = rec["n_cols"]
        status[idx] = rec["status"]
        retries[idx] = rec.get("retries", 0)

    return ext, n_rows, n_cols, status, retries


def _part_slices(part_id: np.ndarray) -> Iterator[tuple[int, np.ndarray]]:
    """(part id, row positions) for every part present in a batch."""
    if not len(part_id):
        return
    order = np.argsort(part_id, kind="stable")
    cuts = np.flatnonzero(np.diff(part_id[order])) + 1
    for rows in np.split(order, cuts):
        yield int(part_id[rows[0]]), rows


#: How the lineage stats of two slices of one part combine. The checksum
#: is the order-insensitive wrapping sum of the per-turn uint64 digests.
_MERGE_STATS = {
    "conv_min": min,
    "conv_max": max,
    "turn_min": min,
    "turn_max": max,
    "n_turns": operator.add,
    "checksum": lambda a, b: (a + b) & 0xFFFFFFFFFFFFFFFF,
    "error_count": operator.add,
    "retry_count": operator.add,
    "seconds": operator.add,
}


def _extract_batches(
    batches: Iterator[pa.RecordBatch], *, num_parts: int, turn_bucket: int
) -> Iterator[pa.RecordBatch]:
    """The fused extraction kernel: one Arrow batch in, one out, plus one
    lineage row per logical part at end-of-partition.

    A task carries many whole logical parts (``extract_stage``), so each
    batch is split by ``part_id`` and every slice is extracted and
    checksummed on its own under ``time.perf_counter``: a part's
    ``duration_ms`` is the sum of its own slices' kernel and checksum time,
    never the task's wall time. Per-part stats (turn range, wrapping-sum
    checksum, error and retry counts) merge across batches by
    ``_MERGE_STATS``. Each lineage row records the part layout
    (``num_parts``, ``turn_bucket``) so resume can refuse a run with a
    different one.
    """
    parts: dict[int, dict] = {}
    for batch in batches:
        pdf = batch.to_pandas()
        part_id = pdf["part_id"].to_numpy(np.int32)
        conv = pdf["conv_id"].to_numpy(dtype=object)
        turn = pdf["turn_idx"].to_numpy(np.int32)
        text = pdf["text"].to_numpy(dtype=object)
        tool = pdf["tool"].to_numpy(dtype=object)
        n = len(pdf)
        ext = np.empty(n, dtype=object)
        n_rows = np.zeros(n, dtype=np.int32)
        n_cols = np.zeros(n, dtype=np.int32)
        status = np.empty(n, dtype=object)
        for pid, rows in _part_slices(part_id):
            t0 = time.perf_counter()
            ext[rows], n_rows[rows], n_cols[rows], status[rows], retries = _extract_rows(
                text[rows], tool[rows]
            )
            ck = turn_checksums(conv[rows], turn[rows], ext[rows])
            convs = [c for c in conv[rows] if c is not None]
            stats = {
                "conv_min": min(convs, default=None),
                "conv_max": max(convs, default=None),
                "turn_min": int(turn[rows].min()),
                "turn_max": int(turn[rows].max()),
                "n_turns": len(rows),
                "checksum": int(ck.sum()),  # uint64 sum: wraps modulo 2^64
                "error_count": int((status[rows] == "error").sum()),
                "retry_count": int(retries.sum()),
                "seconds": time.perf_counter() - t0,
            }
            prev = parts.get(pid)
            parts[pid] = (
                stats
                if prev is None
                else {k: merge(prev[k], stats[k]) for k, merge in _MERGE_STATS.items()}
            )
        yield pa.RecordBatch.from_pydict(
            {
                "rec": np.full(n, "data", dtype=object),
                "part_id": part_id,
                "conv_id": conv,
                "turn_idx": turn,
                "tool": tool,
                "extracted_text": ext,
                "n_rows": n_rows,
                "n_cols": n_cols,
                "status": status,
            },
            schema=_ARROW_SCHEMA,
        )
    if not parts:
        return
    lineage_rows = [
        json.dumps(
            {
                **{k: v for k, v in st.items() if k != "seconds"},
                "part_id": pid,
                "checksum": f"{st['checksum']:016x}",
                "duration_ms": int(st["seconds"] * 1000),
                "status": "ok",
                "num_parts": num_parts,
                "turn_bucket": turn_bucket,
            },
            sort_keys=True,
        )
        for pid, st in parts.items()
    ]
    k = len(parts)
    yield pa.RecordBatch.from_pydict(
        {
            "rec": ["lineage"] * k,
            "part_id": list(parts),
            "conv_id": [""] * k,
            "turn_idx": [-1] * k,
            "tool": [LINEAGE_TOOL] * k,
            "extracted_text": lineage_rows,
            "n_rows": [0] * k,
            "n_cols": [0] * k,
            "status": ["ok"] * k,
        },
        schema=_ARROW_SCHEMA,
    )


def warmup_python_workers(df_or_spark) -> None:
    """Force every executor's Python worker pool to spawn and import the
    kernel stack (pandas/numpy/pyarrow) with one trivial mapInArrow pass.

    Workers are reused across stages (spark.python.worker.reuse), so after
    this the extraction stage runs at steady state. Every worker importing
    pandas/numpy/pyarrow at once is a one-time cost (about 8 s at
    ``local[4]`` on a 4-core host) that would otherwise be misattributed
    to per-turn throughput.
    """
    spark = df_or_spark if isinstance(df_or_spark, SparkSession) else df_or_spark.sparkSession
    cores = spark.sparkContext.defaultParallelism

    def _touch(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import numpy as _np  # noqa: F401
        import pandas as _pd  # noqa: F401

        from ocr_spark.kernels.extract import extract_turn as _e  # noqa: F401

        for b in batches:
            yield b

    (
        spark.range(cores * 4, numPartitions=cores * 4)
        .mapInArrow(_touch, "id long")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def extract_stage(
    df: DataFrame,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    finished: DataFrame | None = None,
    only_parts: list[int] | None = None,
) -> DataFrame:
    """transcripts DataFrame → extracted DataFrame (data + lineage rows).

    ``finished`` (one ``part_id`` column) drops the logical parts a previous
    run completed, through a broadcast left-anti join; ``only_parts`` keeps
    just the listed parts (used by tests to simulate a job killed after k
    partitions).

    Task count: the shuffle still hashes on ``part_id``, but into
    ``min(num_parts, defaultParallelism)`` partitions, so the extraction
    runs one Python task per executor slot and each task carries whole
    logical parts (a part never spans tasks; the kernel times every part
    on its own). Every PySpark task pays a fixed Python cost no matter how
    few rows it holds, measured at 130–300 ms of CPU on a 4-core host
    (CPython 3.11, Spark 4.1): ``setup_spark_files`` calls
    ``importlib.invalidate_caches()``, which makes each of the worker's
    cached zipimporters re-read its archive directory (``pyspark.zip``
    about 14 times), and the daemon runs a ``gc.collect()`` of about 44 ms.
    One task per part paid that once per part; one per slot pays it once
    per slot.
    """
    df = with_part_id(df, num_parts, turn_bucket)
    if finished is not None:
        df = relational.anti_join_unfinished(df, finished, "part_id")
    if only_parts is not None:
        df = df.filter(F.col("part_id").isin([int(p) for p in only_parts]))
    # the wrapper keeps the kernel's name in plans and the Spark UI
    kernel = update_wrapper(
        partial(_extract_batches, num_parts=num_parts, turn_bucket=turn_bucket),
        _extract_batches,
    )
    return (
        # prune to the kernel's columns BEFORE the shuffle: ts (and any
        # extra user columns) never cross the exchange or the Python worker
        df.select("part_id", "conv_id", "turn_idx", "text", "tool")
        .repartition(min(num_parts, df.sparkSession.sparkContext.defaultParallelism), "part_id")
        .mapInArrow(kernel, EXTRACT_SCHEMA)
    )


def _finished_parts(lineage: DataFrame, num_parts: int, turn_bucket: int) -> DataFrame:
    """The ``part_id`` of every ok lineage row, for ``extract_stage(finished=)``.

    Part ids only mean the same turns under the same layout, so this raises
    ``ValueError`` when any finished row was written with another
    ``num_parts`` or ``turn_bucket``, or records none (an output written
    before lineage carried the layout). Resuming across layouts would
    silently skip turns whose new part id happens to be finished.
    """
    ok = lineage.filter(F.col("status") == "ok")
    layouts = {tuple(r) for r in ok.select("num_parts", "turn_bucket").distinct().collect()}
    other = sorted(layouts - {(num_parts, turn_bucket)}, key=str)
    if other:
        found = "; ".join(f"num_parts={n}, turn_bucket={b}" for n, b in other)
        if any(None in layout for layout in other):
            found += " (None: written before lineage recorded the layout)"
        raise ValueError(
            f"cannot resume with num_parts={num_parts}, turn_bucket={turn_bucket}: "
            f"the output's finished parts were written with {found}; resume with "
            "that layout, or rerun without resume"
        )
    return ok.select("part_id").distinct()


def _read_turn_range(
    spark: SparkSession, path: str, start_turn: int | None, end_turn: int | None
) -> DataFrame:
    """The transcripts, restricted to ``start_turn ≤ turn_idx ≤ end_turn``."""
    df = spark.read.parquet(path)
    if start_turn is not None:
        df = df.filter(F.col("turn_idx") >= F.lit(int(start_turn)))
    if end_turn is not None:
        df = df.filter(F.col("turn_idx") <= F.lit(int(end_turn)))
    return df


def _path_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(p)


def _data_rows(df: DataFrame) -> DataFrame:
    return df.filter(F.col("rec") == "data").drop("rec")


def _lineage_rows(df: DataFrame) -> DataFrame:
    return (
        df.filter(F.col("rec") == "lineage")
        .select(F.from_json("extracted_text", LINEAGE_JSON_SCHEMA).alias("l"))
        .select("l.*")
    )


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """The data rows of a pipeline output (rec partition pruned at scan)."""
    return _data_rows(spark.read.parquet(output_path))


def read_lineage(spark: SparkSession, output_path: str) -> DataFrame:
    """The lineage table of a pipeline output, JSON-decoded."""
    return _lineage_rows(spark.read.parquet(output_path))


def run_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    *,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    start_turn: int | None = None,
    end_turn: int | None = None,
    resume: bool = False,
    only_parts: list[int] | None = None,
) -> DataFrame:
    """Run (or resume) the extraction job; returns the extracted data rows.

    ``resume=True`` reads the existing output's lineage, and processes only
    logical parts without an ok lineage row, appending to the same output —
    the reference's per-page skip-and-continue (scripts/ExtractX_OCR.py:282)
    scaled up to partition granularity (BASELINE.json north_rule). Only a
    missing output makes a resume a fresh run; a lineage that cannot be
    read, or was written with another layout, raises instead of
    overwriting finished work.
    """
    finished = None
    if resume and _path_exists(spark, output_path):
        finished = _finished_parts(read_lineage(spark, output_path), num_parts, turn_bucket)
    out = extract_stage(
        _read_turn_range(spark, input_path, start_turn, end_turn),
        num_parts,
        turn_bucket,
        finished=finished,
        only_parts=only_parts,
    )
    mode = "overwrite" if finished is None else "append"
    out.write.partitionBy("rec").mode(mode).parquet(output_path)
    return read_extracted(spark, output_path)


def run_pipeline_snapshots(
    spark: SparkSession,
    input_path: str,
    table_root: str,
    *,
    num_parts: int = DEFAULT_NUM_PARTS,
    turn_bucket: int = DEFAULT_TURN_BUCKET,
    start_turn: int | None = None,
    end_turn: int | None = None,
    resume: bool = False,
    only_parts: list[int] | None = None,
) -> DataFrame:
    """run_pipeline over the snapshot table layer (ocr_spark.table).

    Each (partial) run publishes ONE atomic snapshot: a run killed between
    writing data files and committing leaves orphan files that no reader
    ever sees, and resume re-processes exactly those parts — strictly
    stronger crash semantics than the directory layout, and the Iceberg
    behavior the north_rule names. Lineage rows ride the same commit, so
    data and its completion record become visible together.
    """
    from ocr_spark import table as tbl

    finished = None
    if resume and tbl.current_snapshot_id(table_root) is not None:
        finished = _finished_parts(
            read_lineage_table(spark, table_root), num_parts, turn_bucket
        )
    out = extract_stage(
        _read_turn_range(spark, input_path, start_turn, end_turn),
        num_parts,
        turn_bucket,
        finished=finished,
        only_parts=only_parts,
    )
    tbl.commit_append(
        spark, table_root, out, part_col="part_id", overwrite=finished is None
    )
    return read_extracted_table(spark, table_root)


def read_extracted_table(spark: SparkSession, table_root: str) -> DataFrame:
    from ocr_spark import table as tbl

    return _data_rows(tbl.read_table(spark, table_root))


def read_lineage_table(spark: SparkSession, table_root: str) -> DataFrame:
    from ocr_spark import table as tbl

    return _lineage_rows(tbl.read_table(spark, table_root))


ASSEMBLE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("row_seq", T.IntegerType()),
        T.StructField("col_idx", T.IntegerType()),
        T.StructField("col_name", T.StringType()),
        T.StructField("cell", T.StringType()),
    ]
)


def _assemble_group(pdf) -> Any:
    import pandas as pd

    pdf = pdf.sort_values("turn_idx")
    pages = [
        (lambda o: (o["columns"], o["rows"]))(json.loads(t))
        for t, tool in zip(pdf["extracted_text"], pdf["tool"])
        if tool in ("grid", "json")
    ]
    cols, rows = align_pages(pages)
    out = []
    conv_id = pdf["conv_id"].iloc[0]
    for r_i, row in enumerate(rows):
        for c_i, cell in enumerate(row):
            if cell is not None and not isinstance(cell, str):
                cell = json.dumps(cell)
            out.append((conv_id, r_i, c_i, cols[c_i], cell))
    return pd.DataFrame(
        out, columns=["conv_id", "row_seq", "col_idx", "col_name", "cell"]
    )


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Per-conversation combined table (reference schema_align_union,
    scripts/ExtractX_OCR.py:549-572) in long-span form.

    Grouped-map (applyInPandas) over conv_id: per-conversation page lists
    are small (≤ thousands of turns) while the number of conversations is
    huge, so the grouping parallelizes; the align kernel is shared with the
    oracle for bit-parity.
    """
    return (
        extracted.filter(F.col("tool").isin("grid", "json"))
        .select("conv_id", "turn_idx", "tool", "extracted_text")
        .groupBy("conv_id")
        .applyInPandas(_assemble_group, ASSEMBLE_SCHEMA)
    )
