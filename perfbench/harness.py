"""Run hygiene and process measurements shared by the workloads.

Every run gets a fresh work directory inside the checkout (storage
root, Spark local dir, temp dir, event log), pinned Spark settings and
a record of the environment it ran in.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# pinned for every run: the engine's own default heap (16g) is larger
# than a small box's RAM, and a core count taken from the host would
# make runs on different boxes incomparable
SPARK_CPUS = "4"
SPARK_DRIVER_MEM = "2g"


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    t0: float  # perf_counter at process start
    work: Path = field(init=False)

    def __post_init__(self) -> None:
        self.work = WORK / f"{self.workload}-s{self.seed}-t{int(self.trace)}-{os.getpid()}"

    def dir(self, *parts: str) -> str:
        p = self.work.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)


def pin_environment(run: Run) -> dict[str, str]:
    """Fresh dirs and pinned knobs, exported before any JVM starts so a
    server child process inherits them too."""
    shutil.rmtree(run.work, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        (run.work / d).mkdir(parents=True)
    java_tmp = f"-Djava.io.tmpdir={run.work / 'tmp'}"
    submit = f"--conf spark.driver.extraJavaOptions={java_tmp} "
    if run.trace:
        from spans import eventlog_submit_args

        submit += eventlog_submit_args(run.dir("eventlog"))
    else:
        submit += "pyspark-shell"
    env = {
        "SPARK_GRAFT_CPUS": SPARK_CPUS,
        "SPARK_GRAFT_DRIVER_MEM": SPARK_DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(run.work / "spark-local"),
        "TMPDIR": str(run.work / "tmp"),
        "PYSPARK_SUBMIT_ARGS": submit,
        # every JVM (spark-submit's launcher too) would otherwise keep
        # its performance-counter file under /tmp, outside the checkout
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(ROOT / "perfbench")]),
    }
    os.environ.update(env)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    return env


def program_version() -> str:
    """The checkout's git sha, or ``unknown`` outside a repository."""
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(run: Run, env: dict[str, str], scale: str) -> dict:
    return {
        "seed": run.seed,
        "seconds": run.seconds,
        "trace": run.trace,
        "cores": os.cpu_count(),
        "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
        "SPARK_GRAFT_DRIVER_MEM": env["SPARK_GRAFT_DRIVER_MEM"],
        "scale": scale,
        "version": program_version(),
        "storage_root": "fresh",
        "spark_local_dir": "fresh",
        "maintenance_thread": False,
    }


# -- /proc readings ------------------------------------------------------
def children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def java_child(pid: int, timeout: float = 0.0) -> int | None:
    """The JVM a PySpark driver process launched."""
    deadline = time.monotonic() + timeout
    while True:
        for c in children(pid):
            try:
                with open(f"/proc/{c}/comm") as f:
                    if f.read().strip() == "java":
                        return c
            except OSError:
                continue
        if time.monotonic() >= deadline:
            return None
        time.sleep(0.2)


def wait_gone(pid: int, timeout: float = 30.0) -> None:
    """Wait until a process that is not our child has exited (or is a
    zombie left for its new parent to reap)."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rpartition(")")[2].split()[0] == "Z":
                    return
        except OSError:
            return
        time.sleep(0.1)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of a
    process and all its live descendants: the JVM's Python workers
    count toward the engine's work."""
    total = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rpartition(")")[2].split()
        except OSError:
            continue  # exited between the listing and the read
        # fields[0] is field 3 (state): utime..cstime are fields 14..17
        total += sum(int(x) for x in fields[11:15])
        todo += children(p)
    return total / os.sysconf("SC_CLK_TCK")


def proc_io(pid: int) -> str:
    with open(f"/proc/{pid}/io") as f:
        return f.read()


def cleanup(run: Run) -> None:
    shutil.rmtree(run.work, ignore_errors=True)


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
