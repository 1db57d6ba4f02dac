"""Process-level plumbing shared by the workloads: a hermetic scratch
directory, the Spark session, closed-loop client threads and memory."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

SCRATCH = ".perfbench_tmp"


@dataclass
class Op:
    """One foreground operation issued by a client."""

    kind: str
    start: float
    end: float
    ok: bool = True
    error: str = ""
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Harness:
    """Owns every byte a run writes (one scratch directory under the
    checkout, removed on close) and the Spark session.

    The session is the program's own ``session.get_spark`` with only the
    master, warehouse dir and local/temp dirs overridden (plus the event
    log when tracing)."""

    def __init__(self, checkout: str, trace: bool) -> None:
        self.cores = len(os.sched_getaffinity(0))
        base = os.path.join(checkout, SCRATCH)
        os.makedirs(base, exist_ok=True)
        self._base = base
        self.tmp = tempfile.mkdtemp(prefix="run-", dir=base)
        self.trace = trace
        self.event_dir = self.path("eventlog") if trace else None
        self.spark = None
        self._jvm_pid = None
        # Every temp file of the driver, the JVMs (the spark-submit
        # launcher's too) and the Python workers lands under self.tmp, and
        # no JVM writes an hsperfdata file; the program sizes its shuffle
        # by SPARK_GRAFT_CPUS, so give it the cores this process may use.
        local = self.path("local")
        java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={local}"
        os.environ.update({
            "TMPDIR": local,
            "SPARK_LOCAL_DIRS": local,
            "JAVA_TOOL_OPTIONS": " ".join(
                filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts))),
            "SPARK_GRAFT_CPUS": str(self.cores),
            "TZ": "UTC",
        })
        time.tzset()
        tempfile.tempdir = None

    def path(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def start_session(self):
        """(Re)start the Spark application; returns the session."""
        from etl_workflow_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("local"),
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self._jvm_pid is None:
            self._jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of this Python driver plus the Spark JVM, in MiB."""
        kb = 0
        for pid in ["self"] + ([str(self._jvm_pid)] if self._jvm_pid is not None else []):
            with open(f"/proc/{pid}/status") as f:
                kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return kb / 1024.0

    def close(self) -> None:
        """Stop the application, then the JVM (waiting for it to exit;
        its Python workers exit with it), then delete the scratch dir."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
            gateway = SparkContext._gateway
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            # a JVM whose launch was interrupted is not known to pyspark
            _reap_children()
            shutil.rmtree(self.tmp, ignore_errors=True)
            try:
                os.rmdir(self._base)
            except OSError:
                pass


def _reap_children(grace: float = 10.0) -> None:
    """Terminate every child process still running and wait for each."""
    me = os.getpid()
    kids = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        if ppid == me:
            kids.append(int(d))
    deadline = time.monotonic() + grace
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
            while os.waitpid(pid, os.WNOHANG) == (0, 0):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
                    break
                time.sleep(0.1)
        except (ProcessLookupError, ChildProcessError):
            pass  # already gone


def run_clients(clients: dict[str, callable], timeout: float) -> None:
    """Run each client function on its own thread and wait for all of
    them; re-raise the first client exception."""
    errors: list[BaseException] = []

    def body(fn):
        try:
            fn()
        except BaseException as e:  # surfaced to the caller below
            errors.append(e)

    threads = [threading.Thread(target=body, args=(fn,), name=name, daemon=True)
               for name, fn in clients.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout)
        if t.is_alive():
            raise TimeoutError(f"client {t.name} still running after {timeout}s")
    if errors:
        raise errors[0]


def du(path: str) -> int:
    """Bytes in the regular files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
