"""Snapshot-committed pipeline: equality with the plain path + crash-safe
resume (the Iceberg-semantics guarantee the directory layout can't give)."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark import table as tbl
from ocr_spark.fixtures import make_transcripts
from ocr_spark.pipeline import (
    read_extracted,
    read_extracted_table,
    read_lineage_table,
    run_pipeline,
    run_pipeline_snapshots,
)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("snap_corpus")
    pdf = make_transcripts(n_convs=30, turns_low=3, turns_high=8, seed=44)
    path = str(d / "transcripts.parquet")
    pdf.to_parquet(path, index=False)
    return path, pdf


def _canon(df) -> pd.DataFrame:
    return df.toPandas().sort_values(
        ["conv_id", "turn_idx"], ignore_index=True
    )


def test_snapshot_run_equals_plain_run(spark, corpus, tmp_path):
    path, _ = corpus
    run_pipeline(spark, path, str(tmp_path / "plain"), num_parts=8)
    run_pipeline_snapshots(spark, path, str(tmp_path / "snap"), num_parts=8)
    a = _canon(read_extracted(spark, str(tmp_path / "plain")))
    b = _canon(read_extracted_table(spark, str(tmp_path / "snap")))
    pd.testing.assert_frame_equal(a, b)


def test_snapshot_resume_is_identical_and_atomic(spark, corpus, tmp_path):
    path, pdf = corpus
    root = str(tmp_path / "t")
    run_pipeline_snapshots(spark, path, root, num_parts=8, only_parts=[0, 1, 2])
    partial_rows = tbl.table_rows(root)

    # a crashed second run: data files written but never committed
    orphan = os.path.join(root, "data", "orphan-crash")
    spark.range(5).select(
        F.lit("data").alias("rec"), F.lit(99).cast("int").alias("part_id")
    ).write.parquet(orphan)
    assert tbl.table_rows(root) == partial_rows  # invisible to readers

    run_pipeline_snapshots(spark, path, root, num_parts=8, resume=True)
    out = _canon(read_extracted_table(spark, root))
    assert len(out) == len(pdf)
    lin = read_lineage_table(spark, root).toPandas()
    assert lin["part_id"].is_unique
    # two committed snapshots: the partial run and the resume
    assert tbl.current_snapshot_id(root) == 1
    assert len(glob.glob(os.path.join(root, "metadata", "snap-*.json"))) == 2


def test_snapshot_resume_when_done_commits_empty_noop(spark, corpus, tmp_path):
    path, pdf = corpus
    root = str(tmp_path / "t2")
    run_pipeline_snapshots(spark, path, root, num_parts=8)
    before = _canon(read_extracted_table(spark, root))
    run_pipeline_snapshots(spark, path, root, num_parts=8, resume=True)
    after = _canon(read_extracted_table(spark, root))
    pd.testing.assert_frame_equal(after, before)
    assert len(after) == len(pdf)


def test_snapshot_resume_refuses_a_different_part_layout(spark, corpus, tmp_path):
    path, _ = corpus
    root = str(tmp_path / "t3")
    run_pipeline_snapshots(spark, path, root, num_parts=16, only_parts=list(range(8)))
    with pytest.raises(ValueError, match="num_parts=8.*num_parts=16"):
        run_pipeline_snapshots(spark, path, root, num_parts=8, resume=True)
    assert tbl.current_snapshot_id(root) == 0  # nothing committed
