"""Engine session lifecycle and JVM-side probes for the perfbench runs.

The session is the engine's own ``session.get_spark`` at ``local[nproc]``.
Everything the JVM, the Python workers and Spark's scratch space write goes
under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import signal
import time

from . import measure


class EngineSession:
    """One fresh engine session (one JVM) per benchmark process.

    ``event_log_dir`` turns on Spark's event log (the traced run only)."""

    def __init__(self, work_dir: str, cores: int, event_log_dir: str | None = None):
        self.work_dir = work_dir
        self.cores = cores
        self.event_log_dir = event_log_dir
        self.spark = None
        self.get_spark_s = 0.0
        self._jvm_proc = None
        self._gc_beans = None

    def start(self):
        from game_library_enrichment_etl_spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        # inherited by the JVM and the Python workers it forks
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
        }
        if self.event_log_dir:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(self.event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )
        self.get_spark_s = time.perf_counter() - t0
        self._jvm_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    # ------------------------------------------------------------ JVM probes
    def _mx(self):
        return self.spark._jvm.java.lang.management.ManagementFactory

    def jit_compile_s(self) -> float:
        """Total time the JVM's JIT compilers have spent (CompilationMXBean)."""
        return self._mx().getCompilationMXBean().getTotalCompilationTime() / 1e3

    def gc_s(self) -> float:
        """Total collection time over all JVM garbage collectors."""
        if self._gc_beans is None:  # converting the bean list costs ~50 ms
            self._gc_beans = list(self._mx().getGarbageCollectorMXBeans())
        return sum(max(b.getCollectionTime(), 0) for b in self._gc_beans) / 1e3

    def heap_retained_mb(self) -> tuple[float, int]:
        jvm = self.spark._jvm
        mem = self._mx().getMemoryMXBean()
        return measure.retained_heap(
            jvm.java.lang.System.gc, lambda: mem.getHeapMemoryUsage().getUsed()
        )

    def default_warmup_s(self) -> float:
        """Run the engine's default session warm-up (``session._warm_session``,
        which ``run.py`` pins off) once on this session; its wall time."""
        from game_library_enrichment_etl_spark import session

        pinned = os.environ.pop("SPARK_GRAFT_SESSION_WARM", None)
        try:
            t0 = time.perf_counter()
            session._warm_session(self.spark)
            return time.perf_counter() - t0
        finally:
            if pinned is not None:
                os.environ["SPARK_GRAFT_SESSION_WARM"] = pinned

    # ------------------------------------------------------------ shutdown
    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        if self.spark is None:
            return
        kids = measure.descendants(os.getpid())
        try:
            self.spark.stop()
        finally:
            self.spark = None
            proc = self._jvm_proc
            if proc is not None:
                try:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            _wait_gone(kids, timeout_s=20.0)


def noop(df) -> None:
    """Force every column of ``df`` through Spark's noop sink."""
    df.write.format("noop").mode("overwrite").save()


def _wait_gone(pids: set[int], timeout_s: float) -> None:
    """Wait for ``pids`` to exit; SIGKILL what is left after the timeout."""
    deadline = time.monotonic() + timeout_s
    left = set(pids)
    while left and time.monotonic() < deadline:
        left = {p for p in left if _alive(p)}
        if left:
            time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5.0
    while any(_alive(p) for p in left) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            state = fh.read().rsplit(b")", 1)[1].split()[0]
    except OSError:
        return False
    if state == b"Z":  # our own zombie child: reap it
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True
