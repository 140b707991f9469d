"""Launch one spark-submit application the way the product is deployed
(``spark-submit --py-files ocr_spark.zip,...``) and clean up after it.

Every path Spark and its workers write to is under the run's work
directory: shuffle and spill (``spark.local.dir`` and ``SPARK_LOCAL_DIRS``,
which overrides it), JVM and Python temp files, the event log.
"""

from __future__ import annotations

import os
import resource
import shutil
import signal
import subprocess
import sys
import time
import zipfile

import proctree


POLL_S = 0.25


class SubmitError(RuntimeError):
    def __init__(self, msg: str, timed_out: bool = False) -> None:
        super().__init__(msg)
        self.timed_out = timed_out


def host() -> dict[str, int]:
    """Cores from the CPU affinity mask (what ``nproc`` prints) and the
    driver memory: a quarter of host RAM, since the host is shared."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return {"cores": cores, "driver_mem_mb": mem_kb // 4 // 1024}


def package(root: str, dest: str) -> str:
    """Zip the ``ocr_spark`` package from the checkout, as it is shipped."""
    path = os.path.join(dest, "ocr_spark.zip")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for d, dirs, files in os.walk(os.path.join(root, "ocr_spark")):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    full = os.path.join(d, name)
                    z.write(full, os.path.relpath(full, root))
    return path


def spark_submit(
    *,
    work: str,
    cores: int,
    driver_mem_mb: int,
    py_files: list[str],
    script: str,
    args: list[str],
    deadline: float,
    event_log: str | None = None,
    pin: list[int] | None = None,
    log_name: str = "submit",
) -> dict:
    """Run one application at ``local[cores]`` and wait for it.

    The session config matches ``ocr_spark.session.get_spark``. ``pin``
    restricts the whole tree to those CPUs with ``taskset`` where it is
    installed. Returns the wall seconds, the CPU seconds of the process tree
    (sampled every ``POLL_S``), the largest resident set (MB) of any process
    in it and the application's standard output. Raises ``SubmitError`` on a
    non-zero exit or past ``deadline`` (a ``time.monotonic`` value); the
    process group is killed and waited for either way.
    """
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.shuffle.partitions": "32",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
        "spark.sql.session.timeZone": "UTC",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.abspath(event_log)
        conf["spark.eventLog.compress"] = "false"
    cmd = ["spark-submit", "--master", f"local[{cores}]", "--driver-memory", f"{driver_mem_mb}m"]
    for k, v in conf.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += ["--py-files", ",".join(py_files), script, *args]
    if pin and shutil.which("taskset"):
        cmd = ["taskset", "-c", ",".join(map(str, pin)), *cmd]
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the shipped zip, not the checkout, provides ocr_spark
    env.update(
        {
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": local,
            "OCR_SPARK_LOCAL_DIR": local,
            "SPARK_GRAFT_CPUS": str(cores),
            "OCR_SPARK_DRIVER_MEM": f"{driver_mem_mb}m",
            "TMPDIR": tmp,
            # every JVM, the launcher's too: temp files under the work dir and
            # no hsperfdata performance-counter file in the system temp dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )
    log_path = os.path.join(work, f"{log_name}.log")
    out_path = os.path.join(work, f"{log_name}.out")
    t0 = time.monotonic()
    cpu = 0.0
    with open(log_path, "w") as log, open(out_path, "w") as out:
        proc = subprocess.Popen(
            cmd, cwd=work, env=env, stdout=out, stderr=log, start_new_session=True
        )
        try:
            # the JVM does not wait for the PySpark daemon, so the workers'
            # CPU never reaches getrusage(RUSAGE_CHILDREN): sample the tree
            while proc.poll() is None and time.monotonic() < deadline:
                cpu = max(cpu, proctree.tree_cpu_s(proc.pid))
                time.sleep(POLL_S)
        finally:
            rc = proc.poll()
            kill_group(proc)
    wall = time.monotonic() - t0
    if rc is None:
        raise SubmitError(f"{log_name}: timed out after {wall:.0f}s", timed_out=True)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SubmitError(f"{log_name}: exit code {rc}; log tail:\n{tail}")
    with open(out_path) as f:
        stdout = f.read()
    rss_kb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return {"wall_s": wall, "tree_cpu_s": cpu, "peak_rss_mb": rss_kb / 1024, "stdout": stdout}


def kill_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of ``proc``'s process group (started with
    ``start_new_session``; the JVM normally stops its Python workers itself)
    and wait until it is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + 30
    while proctree.group_pids(proc.pid) and time.monotonic() < end:
        time.sleep(0.05)
