"""The run's environment and its process tree: isolation from inherited
settings, the Spark session's start and stop, child interpreters, the
peak resident memory of the benchmark process with its JVM and Python
workers, and the host's CPU-steal share."""

from __future__ import annotations

import multiprocessing
import os
import shutil
import signal
import subprocess
import time
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

DRIVER_MEMORY = "2g"


def isolate(root: str, run_dir: str, *, event_dir: str | None = None) -> None:
    """Fix everything the program reads from the environment.

    Clears the package's ``SPARK_GRAFT_*`` knobs and sets only the ones
    the benchmark fixes; puts Spark's local dirs, Python's and the JVM's
    temp dirs inside ``run_dir``; the Python workers import the package
    from ``root``. With ``event_dir`` the Spark event log is written
    there (traced runs only)."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for k in ("SPARK_CONF_DIR", "PYSPARK_SUBMIT_ARGS", "SPARK_LOCAL_DIRS", "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": root,
        "PYTHONHASHSEED": "0",
    })
    import tempfile

    tempfile.tempdir = tmp
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.abspath(event_dir)}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the JVM behind PySpark and wait for it and for the Python
    workers it started; any of them still alive after ``timeout`` is
    killed."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = [proc.pid, *descendants(proc.pid)] if proc is not None else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is not None:
        try:
            gw.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the gateway server exits on EOF
                try:
                    proc.wait(timeout=timeout)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap(tree, timeout)


def map_in_processes(func, jobs: list, procs: int) -> list:
    """``[func(job) for job in jobs]`` in at most ``procs`` fresh
    interpreters (spawned, so no Spark or JVM state is inherited);
    every child has ended when this returns."""
    if not jobs:
        return []
    ctx = multiprocessing.get_context("spawn")
    try:
        with ProcessPoolExecutor(max_workers=max(1, min(procs, len(jobs))), mp_context=ctx) as ex:
            return list(ex.map(func, jobs))
    finally:
        # The pool's semaphores started multiprocessing's resource
        # tracker; stop it too, so that no child outlives the call.
        resource_tracker._resource_tracker._stop()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return False
    return st[st.rindex(")") + 2] != "Z"


def reap(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended: first for them to
    exit by themselves, then terminate, then kill. Workers re-parented
    away from this process when the JVM exits are still waited for."""
    start = time.monotonic()
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        pids = [p for p in pids if _alive(p)]
        if not pids:
            return
        waited = time.monotonic() - start
        if waited > 2 * timeout:
            raise RuntimeError(f"processes {pids} outlived their kill")
        if waited > timeout / 2:
            sig = signal.SIGTERM if waited < timeout else signal.SIGKILL
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _hwm_kb(pid: int) -> int:
    """Peak resident set size (VmHWM) of ``pid``; 0 once it has gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process, the JVM and the Python
    workers during each ``with`` block: every process's high-water mark
    is reset on entry and the marks are summed on exit. Unlike sampling,
    this misses no short peak; the sum bounds the simultaneous peak from
    above."""

    def __init__(self):
        self.samples_mb: list[float] = []

    def __enter__(self):
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # reset the peak RSS to the current RSS
            except OSError:
                pass
        return self

    def __exit__(self, *exc):
        kb = sum(_hwm_kb(p) for p in [os.getpid(), *descendants()])
        self.samples_mb.append(kb / 1024.0)


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two samples that was stolen by the
    hypervisor (the 8th field of the ``cpu`` line)."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def remove_dead_runs(work: str) -> None:
    """Remove the run dirs (``run-<pid>``) of runs that were killed."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        pid = name[4:]
        if name.startswith("run-") and pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
