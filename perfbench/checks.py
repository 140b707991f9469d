"""Correctness checks, run after the timed region. Each feeds the run's
``FailureLedger``; any failure makes the run print ``"correct": false`` and
exit non-zero.

- Extraction: every turn of the corpus must come back once with no
  ``status='error'``; the lineage must cover every logical part with no
  errors; and on a fixed sample of whole conversations ``extracted_text``
  must equal ``ocr_spark.oracle.oracle_extract`` turn by turn.
- Dedup: every query result must match its ``__spark_entry__.oracle_sql()``
  in DuckDB after ``scripts/check_contract.py``'s canonicalisation.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import zlib

import pandas as pd
import pyarrow.parquet as pq

from stats import FailureLedger

#: one conversation in SAMPLE_EVERY is checked against the oracle.
SAMPLE_EVERY = 8


def sample_conversations(conv_ids: pd.Series) -> pd.Series:
    """Deterministic sample of whole conversations: those whose CRC-32 of
    the id falls in one bucket of ``SAMPLE_EVERY``."""
    return conv_ids.map(lambda c: zlib.crc32(c.encode()) % SAMPLE_EVERY == 0)


def oracle_sample(corpus: pd.DataFrame) -> pd.DataFrame:
    from ocr_spark.oracle import oracle_extract

    sample = corpus[sample_conversations(corpus["conv_id"])]
    return oracle_extract(sample.reset_index(drop=True))


def check_extraction(
    ledger: FailureLedger,
    expected: set[tuple[str, int]],
    num_parts: int,
    summary: dict,
    output: str,
    want: pd.DataFrame,
) -> None:
    """One job's output against the corpus keys ``expected`` and the oracle
    sample ``want``. A turn fails if it is missing, duplicated, unexpected,
    has ``status='error'`` or differs from the oracle."""
    n_turns = len(expected)
    got = pq.read_table(
        os.path.join(output, "rec=data"),
        columns=["conv_id", "turn_idx", "extracted_text", "status"],
    ).to_pandas()
    keys = list(zip(got["conv_id"], got["turn_idx"]))
    if len(set(keys)) != len(keys):
        ledger.add(n_turns, n_turns, f"duplicate turns in {output}")
        return
    bad = set(keys) ^ expected
    bad.update(k for k, s in zip(keys, got["status"]) if s == "error")
    merged = want.merge(got, on=["conv_id", "turn_idx"], how="left", suffixes=("", "_got"))
    diff = merged["extracted_text_got"].isna() | (
        merged["extracted_text_got"] != merged["extracted_text"]
    )
    bad.update(zip(merged.loc[diff, "conv_id"], merged.loc[diff, "turn_idx"]))
    failed = min(n_turns, len(bad))
    reason = f"turns wrong in {output}"
    if summary["parts_done"] != num_parts or summary["errors"] != 0:
        # a lineage that misstates the run would make resume skip or redo
        # parts, so none of the job's turns can be trusted
        failed = n_turns
        reason = (
            f"lineage of {output}: {summary['parts_done']}/{num_parts} parts,"
            f" {summary['errors']} errors"
        )
    ledger.add(n_turns, failed, reason)


@functools.cache
def _canon():
    """``_canon`` from the checkout's scripts/check_contract.py."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_contract", os.path.join(root, "scripts", "check_contract.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


def dedup_oracle(sf_dir: str, queries: list[str]) -> dict[str, list]:
    """Canonical oracle rows per query, from DuckDB over the same files."""
    import duckdb

    import __spark_entry__ as entry

    canon = _canon()
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{sf_dir}/{t}.parquet')")
        out = {}
        for q in queries:
            frame = con.sql(sql[q]).df()
            out[q] = (sorted(frame.columns), canon(frame))
        return out
    finally:
        con.close()


def check_dedup(ledger: FailureLedger, passes: list[list[dict]], oracle: dict) -> None:
    canon = _canon()
    for recs in passes:
        for rec in recs:
            if "error" in rec:
                ledger.add(1, 1, f"{rec['query']} raised: {rec['error']}")
                continue
            frame = pd.read_pickle(rec["frame"])
            cols, rows = oracle[rec["query"]]
            ok = sorted(frame.columns) == cols and canon(frame) == rows
            ledger.add(1, 0 if ok else 1, f"{rec['query']} differs from oracle_sql")
