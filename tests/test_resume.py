"""Checkpoint-resume: kill after k logical partitions, resume, and the final
output equals a single-shot run (BASELINE.json north_rule)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.fixtures import make_transcripts
from ocr_spark.pipeline import read_extracted, read_lineage, run_pipeline


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("resume_corpus")
    pdf = make_transcripts(n_convs=40, turns_low=3, turns_high=10, seed=43)
    path = str(d / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    return path, pdf


def _canon(df) -> pd.DataFrame:
    return (
        df.toPandas()
        .sort_values(["conv_id", "turn_idx"], ignore_index=True)
        .reset_index(drop=True)
    )


def test_kill_and_resume_is_identical(spark, corpus, tmp_path):
    path, _ = corpus
    full_out = str(tmp_path / "full")
    run_pipeline(spark, path, full_out, num_parts=16)
    full = _canon(read_extracted(spark, full_out))
    all_parts = sorted(
        read_lineage(spark, full_out).toPandas()["part_id"].tolist()
    )

    # simulate a job killed after processing only the first k parts
    partial_out = str(tmp_path / "partial")
    k = len(all_parts) // 2
    run_pipeline(spark, path, partial_out, num_parts=16, only_parts=all_parts[:k])
    done = read_lineage(spark, partial_out).toPandas()
    assert sorted(done["part_id"]) == all_parts[:k]

    # resume: only unfinished parts run, appended to the same output
    run_pipeline(spark, path, partial_out, num_parts=16, resume=True)
    lin = read_lineage(spark, partial_out).toPandas()
    assert sorted(lin["part_id"]) == all_parts  # each part exactly once
    resumed = _canon(read_extracted(spark, partial_out))
    pd.testing.assert_frame_equal(resumed, full)


def test_resume_after_everything_done_is_noop(spark, corpus, tmp_path):
    path, _ = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=8)
    before = _canon(read_extracted(spark, out))
    run_pipeline(spark, path, out, num_parts=8, resume=True)
    lin = read_lineage(spark, out).toPandas()
    assert lin["part_id"].is_unique  # no part re-ran
    after = _canon(read_extracted(spark, out))
    pd.testing.assert_frame_equal(after, before)


def test_resume_processes_only_unfinished(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=16, only_parts=[0, 1, 2, 3])
    n_before = read_extracted(spark, out).count()
    run_pipeline(spark, path, out, num_parts=16, resume=True)
    # appended rows = total - already-done rows
    total = read_extracted(spark, out).count()
    assert total == len(pdf)
    assert n_before < total
    # no duplicated turns
    dups = (
        read_extracted(spark, out)
        .groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_part_duration_hist_flags_straggler():
    """The job-summary histogram puts a straggler part in the last bucket
    and conserves the part count."""
    import job

    h = job.part_duration_hist([10, 12, 11, 13, 10, 95], 10, 95)
    assert sum(h["counts"]) == 6
    assert h["counts"][0] == 5  # the homogeneous fast parts
    assert h["counts"][7] == 1  # the straggler
    assert h["min_ms"] == 10 and h["width_ms"] == 11


@pytest.mark.parametrize("durations", [[40, 10, 30, 20, 95, 10], [7, 3, 5], [4]])
def test_lineage_summary_matches_spark_aggregates(spark, durations):
    """The job summary, computed in Python from one collect, reports what
    the Spark aggregates report, and refuses more lineage rows than parts."""
    import job

    lineage = spark.createDataFrame(
        [(i, 3 + i, i % 2, d) for i, d in enumerate(durations)],
        "part_id int, n_turns long, error_count long, duration_ms long",
    )
    got = job.lineage_summary(lineage, num_parts=len(durations))
    want = lineage.agg(
        F.count("*").alias("parts"),
        F.sum("n_turns").alias("rows"),
        F.sum("error_count").alias("errors"),
        F.percentile_approx("duration_ms", F.lit(0.5)).alias("part_ms_p50"),
        F.max("duration_ms").alias("part_ms_max"),
    ).first()
    assert {k: got[k] for k in want.asDict()} == want.asDict()
    assert sum(got["part_ms_hist"]["counts"]) == len(durations)
    with pytest.raises(ValueError, match="lineage rows"):
        job.lineage_summary(lineage, num_parts=len(durations) - 1)


def test_assemble_over_written_output_matches_oracle(spark, corpus, tmp_path):
    """The --assemble job path composes read_extracted → grouped-map
    assembly over the WRITTEN parquet (not the in-memory frame) — its
    spans must equal the pandas oracle's combined tables."""
    import json as _json

    from ocr_spark.oracle import oracle_assemble, oracle_extract
    from ocr_spark.pipeline import assemble_conversations

    path, pdf = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=8)
    got = (
        assemble_conversations(read_extracted(spark, out))
        .toPandas()
        .sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
    )
    ext = oracle_extract(pdf)
    want = oracle_assemble(ext, pdf.sort_values(["conv_id", "turn_idx"])["tool"])
    want = want.sort_values(["conv_id", "row_seq", "col_idx"], ignore_index=True)
    assert len(got) == len(want)
    for c in ["conv_id", "row_seq", "col_idx", "col_name"]:
        assert (got[c].values == want[c].values).all(), c
    ga = got["cell"].map(lambda v: "∅" if v is None or v != v else v)
    wa = want["cell"].map(lambda v: "∅" if v is None or v != v else v)
    assert (ga.values == wa.values).all()


def test_resume_refuses_a_different_part_layout(spark, corpus, tmp_path):
    """Part ids only name the same turns under the same layout: resuming a
    16-part partial run with 8 parts would skip every turn whose 8-part id
    is already finished, so it must raise instead."""
    path, _ = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=16, only_parts=list(range(8)))
    before = _canon(read_extracted(spark, out))
    with pytest.raises(ValueError, match="num_parts=8.*num_parts=16"):
        run_pipeline(spark, path, out, num_parts=8, resume=True)
    with pytest.raises(ValueError, match="turn_bucket=32.*turn_bucket=64"):
        run_pipeline(spark, path, out, num_parts=16, turn_bucket=32, resume=True)
    pd.testing.assert_frame_equal(_canon(read_extracted(spark, out)), before)


def test_finished_parts_refuses_lineage_without_layout(spark):
    """Lineage written before rows recorded their layout cannot be trusted
    for any layout."""
    from ocr_spark.pipeline import _finished_parts

    lineage = spark.createDataFrame(
        [(0, "ok", None, None), (1, "ok", 8, 64)],
        "part_id int, status string, num_parts int, turn_bucket long",
    )
    with pytest.raises(ValueError, match="num_parts=None, turn_bucket=None"):
        _finished_parts(lineage, 8, 64)
    assert _finished_parts(lineage.filter("part_id = 1"), 8, 64).collect() == [(1,)]


def test_failed_lineage_read_keeps_finished_output(spark, corpus, tmp_path, monkeypatch):
    """Only a missing output makes a resume a fresh run: any other lineage
    read failure must propagate, not fall through to an overwrite."""
    from ocr_spark import pipeline

    path, _ = corpus
    out = str(tmp_path / "out")
    run_pipeline(spark, path, out, num_parts=8)
    before = _canon(read_extracted(spark, out))

    def unreadable(spark, output_path):
        raise OSError(f"lineage of {output_path} unreadable")

    monkeypatch.setattr(pipeline, "read_lineage", unreadable)
    with pytest.raises(OSError, match="unreadable"):
        run_pipeline(spark, path, out, num_parts=8, resume=True)
    pd.testing.assert_frame_equal(_canon(read_extracted(spark, out)), before)


def test_resume_without_output_is_a_fresh_run(spark, corpus, tmp_path):
    path, pdf = corpus
    out = str(tmp_path / "never_written")
    run_pipeline(spark, path, out, num_parts=8, resume=True)
    assert read_extracted(spark, out).count() == len(pdf)
