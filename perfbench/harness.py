"""Process-level plumbing shared by every workload: where the run may
write, how the Spark session is started (and its JVM launched, to time
set-up), memory accounting, and orderly shutdown of every process the run started.

Everything the run writes stays under ``<checkout>/.perfbench_work``:
Spark's local and warehouse directories, the JVM's temp directory,
Python's temp directory and, in a traced run, the Spark event log.
"""

from __future__ import annotations

import os
import resource
import shutil
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_ROOT = os.path.join(ROOT, ".perfbench_out")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


class Harness:
    """One benchmark process: work directory, session and its JVM."""

    def __init__(self, workload: str, trace: bool):
        self.workload = workload
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        self.event_dir = os.path.join(self.work, "eventlog")
        for d in (self.tmp, os.path.join(self.work, "local"), self.event_dir, OUT_ROOT):
            os.makedirs(d, exist_ok=True)
        # inherited by the JVM and by Spark's Python workers: the workers
        # import the engine package, so it must be on their path too
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        # a 2 GB driver heap, set through the engine's own knob (its
        # default is 8g) and committed and touched at start (see
        # _overrides): with the default, G1's heap growth moved
        # peak_rss_mb between 3.2 and 4.6 GB across five corpus runs
        os.environ["SPARK_DRIVER_MEMORY"] = "2g"
        self.spark = None
        self.last_start: dict[str, float] = {}

    # --- session -------------------------------------------------------------

    def _overrides(self) -> dict[str, str]:
        heap = os.environ["SPARK_DRIVER_MEMORY"]
        conf = {
            # the heap committed and touched up front, so the driver's
            # resident set does not follow G1's adaptive heap sizing
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_session(self, n_cpus: int | None = None):
        """``session.get_spark`` plus one warm-up job, timed in wall and CPU
        seconds (``last_start``); the first start also launches the JVM,
        whose CPU time, launcher included, it then holds. The builder
        is given this run's directories (the engine's defaults point at
        /tmp) through a wrapper around ``getOrCreate``."""
        from pyspark.sql import SparkSession

        from maillog2db_spark import session

        overrides = self._overrides()
        orig = SparkSession.Builder.getOrCreate

        def get_or_create(builder):
            for k, v in overrides.items():
                builder.config(k, v)
            return orig(builder)

        t0, c0 = time.perf_counter(), self.cpu_s()
        SparkSession.Builder.getOrCreate = get_or_create
        try:
            spark = session.get_spark(f"perfbench_{self.workload}", cpus=n_cpus or cpus())
        finally:
            SparkSession.Builder.getOrCreate = orig
        spark.range(200_000).selectExpr("sum(id)").collect()
        self.last_start = {"wall_s": time.perf_counter() - t0, "cpu_s": self.cpu_s() - c0}
        self.spark = spark
        return spark

    def restart(self, n_cpus: int):
        self.spark.stop()
        return self.start_session(n_cpus)

    # --- memory --------------------------------------------------------------

    def _jvm_proc(self):
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return getattr(gw, "proc", None) if gw is not None else None

    def peak_rss_mb(self) -> float:
        """Driver JVM peak resident set (VmHWM) plus this Python process's."""
        jvm_kb = 0
        proc = self._jvm_proc()
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    def cpu_s(self) -> float:
        """CPU seconds used so far by the engine: the driver JVM and every
        process under it (Spark's Python workers) plus this process's own
        user and system time — not its children, so not the tail
        generator. Unlike wall time this leaves out time the hypervisor
        steals from the machine's CPUs."""
        proc = self._jvm_proc()
        ticks = 0
        for pid in _tree(proc.pid) if proc is not None else []:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited between the scan and the read
            # utime, stime, cutime, cstime: the last two hold the reaped
            # workers, whose time would otherwise vanish when they exit
            ticks += sum(int(x) for x in fields[11:15])
        me = os.times()
        return ticks / os.sysconf("SC_CLK_TCK") + me.user + me.system

    # --- shutdown ------------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark, close the gateway so the JVM exits, wait for the JVM
        and for every process under it (Spark's Python workers), then
        drop the work dir."""
        from pyspark import SparkContext

        proc = self._jvm_proc()
        descendants = _tree(proc.pid)[1:] if proc is not None else []
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        for pid in descendants:
            _wait_gone(pid)
        shutil.rmtree(self.work, ignore_errors=True)


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process on the machine."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                out[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def _tree(pid: int) -> list[int]:
    """``pid`` and all of its descendants."""
    kids: dict[int, list[int]] = {}
    for p, pp in _parents().items():
        kids.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _alive(pid: int) -> bool:
    """Running (an exited process waiting to be reaped counts as gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pid: int, timeout: float = 15.0) -> None:
    deadline = time.time() + timeout
    while _alive(pid) and time.time() < deadline:
        time.sleep(0.05)
    if _alive(pid):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass
