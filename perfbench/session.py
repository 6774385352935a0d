"""Spark session lifecycle for the benchmark: JVM launch, session
start, first touch, shutdown, and the /proc-based memory sampler.

The session is built through the program's own ``conf.get_spark``. The
benchmark adds only what keeps a run inside its checkout and quiet:
local and temp dirs under the work dir, console progress off, and
(traced run only) the event log.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
import traceback


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def base_conf(work: str) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


class Session:
    """One driver JVM, restarted SparkSessions on it, and its processes."""

    def __init__(self, work: str):
        self.conf = base_conf(work)
        self.spark = None
        self.jvm_pid: int | None = None
        self._seen: set[int] = set()

    def launch_jvm(self) -> float:
        """Start the driver JVM (py4j gateway); returns seconds taken."""
        from pyspark import SparkConf, SparkContext

        t0 = time.perf_counter()
        SparkContext._ensure_initialized(conf=SparkConf().setAll(self.conf.items()))
        dt = time.perf_counter() - t0
        self.jvm_pid = SparkContext._gateway.proc.pid
        return dt

    def start(self, extra: dict[str, str] | None = None):
        """conf.get_spark on the running JVM; returns the session."""
        from text_extraction_spark.conf import get_spark

        self.spark = get_spark(
            f"local[{nproc()}]",
            app_name="perfbench",
            extra={**self.conf, **(extra or {})},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from text_extraction_spark.conf import stop_active

        self.note_children()
        stop_active()
        self.spark = None

    def first_touch(self) -> None:
        """One task per core through the text UDF: forks the Python
        workers and imports the extraction engine in each."""
        from pyspark.sql import functions as F
        from text_extraction_spark.pipeline import extract_text_udf

        n = nproc()
        df = self.spark.range(0, n, 1, n).select(
            extract_text_udf(F.lit("<p>warm</p>")).alias("t")
        )
        df.write.format("noop").mode("overwrite").save()

    # ------------------------------------------------------ processes

    def _children(self) -> list[int]:
        """The JVM and every process below it, from /proc."""
        if self.jvm_pid is None:
            return []
        return [self.jvm_pid, *_below(self.jvm_pid)]

    def note_children(self) -> None:
        self._seen.update(self._children())

    def rss_mb(self) -> float:
        """Summed resident memory of the JVM and its Python workers."""
        total = 0
        for p in self._children():
            try:
                with open(f"/proc/{p}/statm") as fh:
                    total += int(fh.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
        return total * os.sysconf("SC_PAGE_SIZE") / 2**20

    def shutdown(self, timeout: float = 30.0) -> None:
        """Stop the session, end the JVM, and wait until every process it
        started (Python daemon and workers included) has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            try:
                self.stop()
            except Exception:  # noqa: BLE001 — still end the JVM below
                traceback.print_exc()
        self.note_children()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 — the JVM is ended below either way
                traceback.print_exc()
            SparkContext._gateway = None
            SparkContext._jvm = None
            proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout
        for p in sorted(self._seen):
            while _alive(p) and time.monotonic() < deadline:
                time.sleep(0.05)
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def become_subreaper() -> None:
    """Make this process the one that orphaned descendants (a Python
    worker whose JVM has gone, say) are re-parented to, so that
    reap_descendants can end them and wait for them."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _below(pid: int) -> list[int]:
    """Every process below `pid`, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def reap_descendants(timeout: float = 10.0) -> None:
    """End every process still below this one: SIGTERM, then SIGKILL
    after `timeout`, and wait until none is left."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        while True:  # collect the ones that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        left = [p for p in _below(os.getpid()) if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class PeakRss:
    """Samples Session.rss_mb every `period` seconds while active."""

    def __init__(self, session: Session, period: float = 0.2):
        self.session = session
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.session.rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.session.note_children()
