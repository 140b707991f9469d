"""The repository's benchmark: one command per workload run.

    python3 perfbench/run.py --workload {mixed,dedup} --seed N --seconds S --trace {0,1}

Run from the root of a checkout. It drives the real surfaces from outside,
one job at a time (a closed loop with one client) at ``local[nproc]``:

- ``mixed``: ``spark-submit --py-files ocr_spark.zip,job.py`` of
  ``extract_loop.py``, which calls ``job.main`` (the extraction job) over a
  seeded fixture corpus: one cold job, then one warm job per
  ``MIXED_JOB_S`` of ``--seconds`` (at least one);
- ``dedup``: the five queries of ``ledger.QUERIES`` from
  ``__spark_entry__.queries()`` in one ``get_spark`` session over seeded
  documents and embeddings: one cold pass, then one warm pass per
  ``DEDUP_PASS_S`` of ``--seconds`` (at least one).

End-to-end metrics (``--trace 0``), each a median over the warm jobs or
passes of the run:

- ``turns_per_s``: turns ÷ ``job.py``'s ``wall_sec``, or documents ÷ the
  pass's seconds (the conversation query reads one turn per document);
- ``pass_s``: ``wall_sec``, or the wall seconds of the pass;
- ``cpu_s_per_kturn``: CPU seconds of the whole spark-submit process tree
  (JVM and Python workers) during the call or pass, per 1,000 turns;
- ``setup_s``: from launching spark-submit to the end of the cold job or
  pass (JVM, session, worker warm-up, first-run costs).

``--trace 1`` turns Spark's event log on and prints the per-layer ledger
(``ledger.PER_LAYER``) instead. On ``mixed`` it adds a single-thread replay
of the kernels and a scaling leg: the cold job of an application at
``local[max(1, nproc // 4)]`` pinned to that many cores, against the cold
job at ``local[nproc]``, with ``scripts/host_calibration.py`` beside it.
The tracing overhead compares the traced pass with the last untraced run
of the same inputs (0 when there is none yet).

Correctness is checked after the timed region (``checks``). The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. A failed check prints ``"correct": false`` and
exits 1; a missing checkout (no ``job.py``) exits 2 without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field

import checks
import corpus
import eventlog
import ledger
import replay
import submit
from stats import FailureLedger, median, ratio

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
#: wall-clock budget of one run; the contract allows 180 s
BUDGET_S = 170
#: ``--seconds`` buys a fixed amount of warm work, never "as much as fits":
#: one warm job per MIXED_JOB_S, one warm pass per DEDUP_PASS_S (about
#: their length on a 4-core host), so a faster program does the same work
#: rather than more of it, and a run's sample count does not hinge on timing
MIXED_JOB_S = 5
DEDUP_PASS_S = 10
#: time kept for scripts/host_calibration.py after the scaling leg
CALIBRATION_S = 30


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


@dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    deadline: float
    cores: int
    driver_mem_mb: int
    work: str
    cache: str
    ledger: FailureLedger
    layers: dict = field(default_factory=dict)

    def submit(self, name: str, py_files: list[str], script: str, args: list[str], **kw) -> dict:
        return submit.spark_submit(
            work=self.work,
            cores=kw.pop("cores", self.cores),
            driver_mem_mb=self.driver_mem_mb,
            py_files=py_files,
            script=script,
            args=args,
            deadline=kw.pop("deadline", self.deadline),
            log_name=name,
            **kw,
        )


def _save_ref(run: Run, path: str, e2e: dict) -> None:
    """Keep a correct untraced result for the tracing overhead of a later
    traced run of the same inputs."""
    if run.ledger.correct:
        with open(path, "w") as f:
            json.dump(e2e, f)


def _overhead(run: Run, ref_path: str, traced_pass_s: float) -> None:
    """Tracing overhead against the last untraced run of the same inputs; a
    second application just for the comparison would double a traced run."""
    if not os.path.exists(ref_path):
        log("no untraced run of these inputs yet: trace.overhead_frac reads 0")
        return
    with open(ref_path) as f:
        ref = json.load(f)
    run.layers["trace.overhead_frac"] = traced_pass_s / ref["pass_s"] - 1


# ---------------------------------------------------------------------------
# mixed: the extraction job
# ---------------------------------------------------------------------------


def mixed(run: Run) -> dict[str, float]:
    import pandas as pd

    n_target = corpus.sizes(run.cores)["mixed_turns"]
    num_parts = 8 * run.cores  # the pipeline's own sizing: 256 parts for local[32]
    path = os.path.join(corpus.mixed_corpus(run.cache, run.seed, n_target), "transcripts.parquet")
    frame = pd.read_parquet(path)
    n_turns = len(frame)
    expected = set(zip(frame["conv_id"], frame["turn_idx"]))
    want = checks.oracle_sample(frame)
    zpath = submit.package(ROOT, run.work)

    def loop(name: str, warm_jobs: int, **kw) -> tuple[dict, list[dict]]:
        """One spark-submit of the job loop; every job's output is checked.
        A submit that dies fails all its turns, except one this benchmark
        stopped at a ``deadline`` it was given (the optional scaling leg)."""
        out = os.path.join(run.work, name)
        os.makedirs(out)
        result = os.path.join(run.work, f"{name}.json")
        launch = time.time()
        try:
            sub = run.submit(
                name,
                [zpath, os.path.join(ROOT, "job.py")],
                os.path.join(BENCH, "extract_loop.py"),
                ["--input", path, "--work", out, "--num-parts", str(num_parts),
                 "--warm-jobs", str(warm_jobs), "--result", result],
                **kw,
            )
        except submit.SubmitError as e:
            if not (e.timed_out and "deadline" in kw):
                run.ledger.add(n_turns, n_turns, f"{name} died: {e}")
            raise
        with open(result) as f:
            jobs = json.load(f)["jobs"]
        for j in jobs:
            checks.check_extraction(run.ledger, expected, num_parts, j["summary"], j["output"], want)
        sub["setup_s"] = jobs[0]["end_epoch"] - launch
        return sub, jobs

    def tput(j: dict) -> float:
        return j["summary"]["rows"] / j["summary"]["wall_sec"]

    ref_path = os.path.join(run.cache, f"mixed-s{run.seed}-t{n_turns}.untraced.json")
    if run.trace:
        # one warm job is enough for the ledger and leaves time for scaling
        sub, jobs = loop("traced", 1, event_log=os.path.join(run.work, "eventlog"))
    else:
        sub, jobs = loop("untraced", max(1, round(run.seconds / MIXED_JOB_S)))
    warm = jobs[1:]
    e2e = {
        "turns_per_s": median([tput(j) for j in warm]),
        "pass_s": median([j["summary"]["wall_sec"] for j in warm]),
        "cpu_s_per_kturn": median([j["tree_cpu_s"] / (n_turns / 1000) for j in warm]),
        "setup_s": sub["setup_s"],
    }
    if not run.trace:
        _save_ref(run, ref_path, e2e)
        return e2e

    log_ = eventlog.EventLog.load(eventlog.find_log(os.path.join(run.work, "eventlog")))
    layers = run.layers
    layers.update(ledger.extraction_layers(log_, warm, n_turns))
    cold = jobs[0]["summary"]
    layers["job.peak_rss_mb"] = sub["peak_rss_mb"]
    layers["session.warmup_s"] = cold["warmup_sec"]
    layers["session.launch_s"] = sub["setup_s"] - cold["wall_sec"] - cold["warmup_sec"]
    layers["job.cpu_util"] = median(
        [j["tree_cpu_s"] / (run.cores * (j["end_epoch"] - j["start_epoch"])) for j in warm]
    )
    layers["pipeline.write.files"] = ledger.count_files(warm[-1]["output"])
    layers.update(replay.replay(frame, run.seed))
    layers["pipeline.extract.overhead_x"] = (
        layers.pop("pipeline.extract.task_us_per_turn") / layers["replay.us_per_turn"]
    )
    _overhead(run, ref_path, e2e["pass_s"])
    # scaling leg: the cold job of a fresh application at a quarter of the
    # cores, pinned to them, against this application's cold job. It is a
    # diagnostic: when the run's budget cannot hold it, scaling.* read 0.
    lo = max(1, run.cores // 4)
    try:
        _, lo_jobs = loop(
            "scaling_lo", 0, cores=lo, pin=sorted(os.sched_getaffinity(0))[:lo],
            event_log=os.path.join(run.work, "eventlog_lo"),
            deadline=run.deadline - CALIBRATION_S,
        )
    except submit.SubmitError as e:
        if not e.timed_out:
            raise
        log(f"scaling leg stopped at the run's budget: scaling.* read 0 ({e})")
        return e2e
    lo_tput = tput(lo_jobs[0])
    layers["scaling.turns_per_s_lo"] = lo_tput
    layers["scaling.eff"] = tput(jobs[0]) / (run.cores / lo * lo_tput)
    host = _host_calibration(run, lo, run.cores)
    layers["scaling.host_eff"] = host
    layers["scaling.eff_vs_host"] = ratio(layers["scaling.eff"], host)
    return e2e


def _host_calibration(run: Run, lo: int, hi: int) -> float:
    """``scripts/host_calibration.py``: the same kernels in bare pinned
    processes at both core counts, the host's own scaling ceiling; 0 when
    the run's budget cannot hold it."""
    tmp = os.path.join(run.work, "tmp")  # multiprocessing's own temp dirs
    os.makedirs(tmp, exist_ok=True)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "scripts", "host_calibration.py"), str(lo), str(hi)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        cwd=run.work,
        env=dict(os.environ, TMPDIR=tmp),
        start_new_session=True,
    )
    try:
        out, err = proc.communicate(timeout=max(1.0, run.deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        log("host calibration stopped at the run's budget: scaling.host_eff reads 0")
        return 0.0
    finally:
        submit.kill_group(proc)
    if proc.returncode != 0:
        raise RuntimeError(f"host_calibration.py failed: {err[-2000:]}")
    return json.loads(out.strip().splitlines()[-1])["host_eff"]


# ---------------------------------------------------------------------------
# dedup: the operator queries
# ---------------------------------------------------------------------------


def dedup(run: Run) -> dict[str, float]:
    n_docs = corpus.sizes(run.cores)["dedup_docs"]
    sf = corpus.dedup_tables(run.cache, run.seed, n_docs)
    zpath = submit.package(ROOT, run.work)
    frames = os.path.join(run.work, "frames")
    os.makedirs(frames)
    result = os.path.join(run.work, "dedup.json")
    evdir = os.path.join(run.work, "eventlog") if run.trace else None
    launch = time.time()
    try:
        sub = run.submit(
            "dedup",
            [zpath, os.path.join(ROOT, "__spark_entry__.py")],
            os.path.join(BENCH, "dedup_loop.py"),
            [
                "--sf", sf, "--queries", ",".join(ledger.QUERIES),
                "--warm-passes", str(max(1, round(run.seconds / DEDUP_PASS_S))),
                "--frames", frames, "--result", result,
            ],
            event_log=evdir,
        )
    except submit.SubmitError as e:
        run.ledger.add(len(ledger.QUERIES), len(ledger.QUERIES), f"dedup died: {e}")
        raise
    with open(result) as f:
        res = json.load(f)
    passes = res["passes"]
    checks.check_dedup(run.ledger, passes, checks.dedup_oracle(sf, ledger.QUERIES))

    def secs(p: list[dict]) -> float:
        return sum(r["end_epoch"] - r["start_epoch"] for r in p)

    warm = passes[1:]
    pass_s = median([secs(p) for p in warm])
    e2e = {
        "turns_per_s": median([n_docs / secs(p) for p in warm]),
        "pass_s": pass_s,
        "cpu_s_per_kturn": median([sum(r["tree_cpu_s"] for r in p) / (n_docs / 1000) for p in warm]),
        "setup_s": passes[0][-1]["end_epoch"] - launch,
    }
    ref_path = os.path.join(run.cache, f"dedup-s{run.seed}-d{n_docs}.untraced.json")
    if not run.trace:
        _save_ref(run, ref_path, e2e)
        return e2e
    log_ = eventlog.EventLog.load(eventlog.find_log(evdir))
    run.layers.update(ledger.operator_layers(log_, passes))
    run.layers["job.peak_rss_mb"] = sub["peak_rss_mb"]
    run.layers["session.launch_s"] = res["session_ready_epoch"] - launch
    run.layers["session.warmup_s"] = secs(passes[0]) - pass_s
    _overhead(run, ref_path, pass_s)
    return e2e


WORKLOADS = {"mixed": mixed, "dedup": dedup}

E2E_UNITS = {
    "turns_per_s": "1/s",
    "pass_s": "s",
    "cpu_s_per_kturn": "s",
    "setup_s": "s",
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    needed = ("job.py", "__spark_entry__.py", "ocr_spark", "scripts")
    missing = [x for x in needed if not os.path.exists(os.path.join(ROOT, x))]
    if missing:
        log(f"not a checkout of the repository: {ROOT} lacks {missing}")
        return 2
    sys.path.insert(0, ROOT)

    host = submit.host()
    work = os.path.join(BENCH, ".work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cache = os.path.join(BENCH, ".cache")
    os.makedirs(cache, exist_ok=True)
    run = Run(
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        deadline=time.monotonic() + BUDGET_S,
        cores=host["cores"],
        driver_mem_mb=host["driver_mem_mb"],
        work=work,
        cache=cache,
        ledger=FailureLedger(),
    )
    log(f"{args.workload}: seed {args.seed}, local[{run.cores}], driver {run.driver_mem_mb} MB")
    try:
        e2e = WORKLOADS[args.workload](run)
    except Exception as e:  # the run failed: report it and exit non-zero
        log(f"{args.workload} failed: {e!r}")
        if run.ledger.failed == 0:
            run.ledger.add(1, 1, repr(e))
        e2e = {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    fails = run.ledger
    for reason in fails.reasons:
        log(f"FAILED: {reason}")
    log(f"  failed_frac = {fails.failed_frac:.6g} ({fails.failed}/{fails.attempted} operations)")
    for k, v in e2e.items():
        log(f"  {k} = {v:.6g} {E2E_UNITS[k]}")
    if args.trace:
        metrics = ledger.complete(run.layers)
        for k, m in metrics.items():
            log(f"  {k} = {m['value']:.6g} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(
        json.dumps(
            {
                "correct": fails.correct,
                "attempted": max(1, fails.attempted),
                "failed": fails.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if fails.correct else 1


if __name__ == "__main__":
    sys.exit(main())
