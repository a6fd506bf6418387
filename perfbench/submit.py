"""One ``spark-submit --py-files`` of the production job, timed from outside.

The job script ``scripts/run_extract_job.py`` is submitted unchanged.  The
submit runs in its own working directory inside the run's temp tree; its
scratch (``spark.local.dir``, ``java.io.tmpdir``, ``TMPDIR``) and, when
traced, its event log stay inside that directory.  While it runs, the
summed proportional RSS (PSS) of its process tree (driver JVM plus Python
workers) is sampled from ``/proc``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
from dataclasses import dataclass
from typing import Dict, List, Optional

# plenty at these corpus sizes, and the driver's peak RSS varies least when
# its heap cap binds; get_spark's 48g default does not fit a 15 GB box
DRIVER_MEMORY = "1g"


def spark_submit_path() -> str:
    """``spark-submit`` on PATH, else the one bundled with pyspark."""
    found = shutil.which("spark-submit")
    if found:
        return found
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


def java_env(local: str) -> Dict[str, str]:
    """Environment that keeps every JVM and Python temp file in ``local``:
    the launcher JVM as well as the driver, which ``--driver-java-options``
    alone would not reach."""
    return {
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        "TMPDIR": local,
        "SPARK_LOCAL_DIRS": local,  # overrides spark.local.dir when set
    }


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional RSS of one process in kB (0 once it has exited): pages
    shared with other processes count by their share, so the Python workers
    forked from one daemon are not counted once per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """Summed proportional RSS of ``root`` and its descendants, in MB."""
    kids = _children()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _pss_kb(pid)
        stack.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples a process tree's summed RSS on a thread until stopped."""

    def __init__(self, pid: int, period_s: float = 0.25) -> None:
        self.pid = pid
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


@dataclass
class SubmitResult:
    ok: bool
    job_s: float
    peak_rss_mb: float
    report: Optional[dict]  # the job's own JSON line
    log_path: str


def submit(
    repo: str,
    zip_path: str,
    workdir: str,
    input_dir: str,
    output_dir: str,
    ledger_dir: str,
    job_id: str,
    cores: int,
    n_buckets: int,
    buckets_per_wave: int,
    timeout_s: float,
    event_log_dir: Optional[str] = None,
) -> SubmitResult:
    """Run the job once, closed loop: returns after the process has exited."""
    os.makedirs(workdir, exist_ok=True)
    local = os.path.join(workdir, "local")
    os.makedirs(local, exist_ok=True)
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(max(cores, 8)),
        "spark.local.dir": local,
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                # the 4.x default is a zstd-compressed rolling directory,
                # and this benchmark reads the log with the stdlib only
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    cmd = [
        spark_submit_path(),
        "--master", f"local[{cores}]",
        "--driver-memory", DRIVER_MEMORY,
        "--py-files", zip_path,
    ]
    for k, v in confs.items():
        cmd += ["--conf", f"{k}={v}"]
    cmd += [
        os.path.join(repo, "scripts", "run_extract_job.py"),
        "--input", input_dir,
        "--output", output_dir,
        "--ledger", ledger_dir,
        "--job-id", job_id,
        "--n-buckets", str(n_buckets),
        "--buckets-per-wave", str(buckets_per_wave),
    ]
    env = {
        **os.environ,
        **java_env(local),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    log_path = os.path.join(workdir, "submit.log")
    out_path = os.path.join(workdir, "submit.out")
    with open(log_path, "w") as err, open(out_path, "w") as out:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=workdir, env=env, stdout=out, stderr=err)
        with RssSampler(proc.pid) as rss:
            try:
                rc = proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                _kill_tree(proc)
                rc = -9
        job_s = time.monotonic() - t0
    report = None
    with open(out_path) as fh:
        for line in fh:
            if line.startswith("{"):
                try:
                    report = json.loads(line)
                except ValueError:
                    pass
    shutil.rmtree(local, ignore_errors=True)
    ok = rc == 0 and report is not None
    return SubmitResult(ok, job_s, rss.peak_mb, report, log_path)


def _kill_tree(proc: subprocess.Popen) -> None:
    kids = _children()
    stack, pids = [proc.pid], []
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(kids.get(pid, ()))
    for pid in pids:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    proc.wait()
