"""The event-log reader and the extraction ledger on a small recorded log:
one job.py call at local[4] with 32 parts, cut down to the write's two
stages (scan: 1 task; extract: 2 non-empty and 2 empty tasks of 32) and one
stage of the lineage summary that also scans and shuffles."""

import os
import shutil

import pytest

import eventlog
import ledger

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_v2_local-test")


@pytest.fixture(scope="module")
def log():
    return eventlog.EventLog.load(LOG)


def test_reads_jobs_stages_and_executions(log):
    assert sorted(log.jobs) == [2, 3, 6]
    assert log.jobs[3].stage_ids == [3, 4] and log.jobs[3].execution_id == 1
    assert sorted(log.stages) == [(2, 0), (4, 0), (7, 0)]
    assert log.executions[1].wall_s == pytest.approx(6.985)
    ext = log.stages[(4, 0)]
    assert ext.num_tasks == 32 and len(ext.tasks) == 4
    assert ext.wall_s == pytest.approx(5.593)
    assert ext.total("shuffle_read_records") == 626 + 1043
    assert ext.total("run_ms") == 1340 + 1300 + 347 + 301
    assert ext.total("cpu_ms") == pytest.approx(265.419124 + 152.623282 + 19.866854 + 15.584268)
    assert ext.total("gc_ms") == 104
    assert ext.total("output_bytes") == 33719 + 49632
    # durations 357, 455, 1442, 1443: interpolated like numpy
    assert ext.task_ms(50) == pytest.approx((455 + 1442) / 2)
    assert ext.task_ms(100) == 1443


def test_stages_of_skips_stages_without_tasks(log):
    # stage 3 is the skipped map side of job 3: listed, never run
    assert [s.stage_id for s in log.stages_of([log.jobs[3]])] == [4]


def test_single_file_and_rolling_directory_agree(tmp_path, log):
    single = tmp_path / "local-test"
    shutil.copy(os.path.join(LOG, "events_1_local-test"), single)
    assert eventlog.EventLog.load(str(single)).stages.keys() == log.stages.keys()


def test_find_log_wants_exactly_one(tmp_path):
    (tmp_path / "a").mkdir()
    assert eventlog.find_log(str(tmp_path)) == str(tmp_path / "a")
    (tmp_path / "b").mkdir()
    with pytest.raises(ValueError):
        eventlog.find_log(str(tmp_path))


def test_extraction_ledger_attributes_stages(log):
    job = {
        "summary": {"rows": 9274, "wall_sec": 10.42, "part_ms_p50": 256, "part_ms_max": 591},
        "start_epoch": 1792207699.0,
        "end_epoch": 1792207708.5,
    }
    m = ledger.extraction_layers(log, [job], turns=9274)
    # the summary stage (7) also reads parquet and shuffles; only the
    # write's own execution holds the scan stage
    assert m["pipeline.scan.stage_s"] == pytest.approx(0.635)
    assert m["pipeline.exchange.shuffle_mb"] == pytest.approx(1633842 / 2**20)
    assert m["pipeline.exchange.empty_tasks"] == 2
    assert m["pipeline.exchange.task_rows_max_over_p50"] == pytest.approx(1043 / ((626 + 1043) / 2))
    assert m["pipeline.extract.stage_s"] == pytest.approx(5.593)
    assert m["pipeline.extract.run_s"] == pytest.approx(3.288)
    assert m["pipeline.extract.task_us_per_turn"] == pytest.approx(3288e3 / 9274)
    assert m["pipeline.write.commit_s"] == pytest.approx((1792207706807 - 1792207706734) / 1000)
    assert m["job.summary_s"] == pytest.approx(10.42 - 6.985)
    assert m["lineage.part_ms_max"] == 591


def test_operator_ledger_attributes_jobs_by_window(log):
    def rec(query, start_ms, end_ms):
        return {"query": query, "start_epoch": start_ms / 1000, "end_epoch": end_ms / 1000, "rows": 7}

    # pass 0 is the cold pass and is not reported
    passes = [[], [rec(q, 0, 1) for q in ledger.QUERIES]]
    passes[1][0] = rec(ledger.QUERIES[0], 1792207700000, 1792207707000)  # jobs 2 and 3
    m = ledger.operator_layers(log, passes)
    q = ledger.QUERIES[0]
    assert m[f"operators.{q}.spark_jobs"] == 2
    assert m[f"operators.{q}.shuffle_mb"] == pytest.approx(1633842 / 2**20)
    assert m[f"operators.{q}.s"] == pytest.approx(7.0)
    assert m[f"operators.{ledger.QUERIES[1]}.spark_jobs"] == 0


def test_per_layer_names_match_benchmark_json():
    import json

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == ledger.PER_LAYER
    assert ledger.complete({}).keys() == {n for n, _, _ in ledger.PER_LAYER}
