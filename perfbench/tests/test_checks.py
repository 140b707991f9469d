"""failed_frac accounting of the extraction check on a hand-made output."""

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
from stats import FailureLedger

SUMMARY = {"parts_done": 2, "errors": 0}


def _output(tmp_path, rows) -> str:
    out = tmp_path / "out"
    (out / "rec=data").mkdir(parents=True)
    frame = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "extracted_text", "status"])
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False), out / "rec=data" / "part-0.parquet")
    return str(out)


def _want(rows) -> pd.DataFrame:
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "extracted_text"])


def test_each_bad_turn_counts_once(tmp_path):
    expected = {("a", 0), ("a", 1), ("b", 0), ("b", 1)}
    out = _output(
        tmp_path,
        [
            ("a", 0, "x", "ok"),
            ("a", 1, "wrong", "error"),  # wrong text and an error: one turn
            ("b", 0, "", "error"),
            ("c", 0, "z", "ok"),  # not in the corpus
        ],  # ("b", 1) is missing
    )
    led = FailureLedger()
    checks.check_extraction(led, expected, 2, SUMMARY, out, _want([("a", 0, "x"), ("a", 1, "y")]))
    assert (led.attempted, led.failed) == (4, 4)


def test_clean_output_passes(tmp_path):
    expected = {("a", 0), ("a", 1)}
    out = _output(tmp_path, [("a", 0, "x", "ok"), ("a", 1, "", "empty")])
    led = FailureLedger()
    checks.check_extraction(led, expected, 2, SUMMARY, out, _want([("a", 0, "x"), ("a", 1, "")]))
    assert led.correct and led.failed_frac == 0.0


def test_bad_lineage_fails_the_whole_job(tmp_path):
    expected = {("a", 0), ("a", 1)}
    out = _output(tmp_path, [("a", 0, "x", "ok"), ("a", 1, "y", "ok")])
    led = FailureLedger()
    checks.check_extraction(led, expected, 2, {"parts_done": 1, "errors": 0}, out, _want([]))
    assert (led.attempted, led.failed) == (2, 2)


def test_sample_is_whole_conversations():
    conv = pd.Series([f"conv_{i:06d}" for i in range(400) for _ in range(3)])
    picked = checks.sample_conversations(conv)
    assert 0 < picked.sum() < len(conv)
    # all turns of a conversation are in or out together
    assert picked.groupby(conv).nunique().max() == 1
