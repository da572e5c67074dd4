"""Process-level plumbing shared by every workload: scratch directories
inside the checkout, the Spark session, the serve thread, the HTTP client,
the process-tree RSS sampler and the median helpers.

Everything a run writes lives under `<checkout>/.perfbench_tmp/<pid>/`
(Spark's local dir, the JVM's java.io.tmpdir, Python's tempfile dir, the
corpora and the indexes) and is removed by `Run.close`, also when the
workload raises.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.request

# process start, the origin of every run's setup_s
T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TMP_ROOT = os.path.join(ROOT, ".perfbench_tmp")
# inputs built once per checkout and program version (see
# workloads._search_index)
CACHE_ROOT = os.path.join(ROOT, ".perfbench_cache")


def hd_median(values, steps: int = 16) -> float:
    """Harrell-Davis estimate of the median of a non-empty sequence: a
    weighted mean of all order statistics, the weight of the i-th of n
    being the mass of the Beta((n+1)/2, (n+1)/2) density on
    [(i-1)/n, i/n]. A request mix spans families of distinct costs, and
    the nearest-rank median of such a sample jumps from one family to
    the next; this estimate moves smoothly."""
    xs = sorted(values)
    n = len(xs)
    a1 = (n + 1) / 2.0 - 1.0

    def density(t: float) -> float:  # relative to its peak at t = 1/2
        if t <= 0.0 or t >= 1.0:
            return 1.0 if a1 == 0.0 else 0.0
        return math.exp(a1 * (math.log(t) + math.log1p(-t) + math.log(4.0)))

    weights = []
    for i in range(n):
        lo, h = i / n, 1.0 / (n * steps)
        acc = density(lo) + density(lo + steps * h)
        for k in range(1, steps):
            acc += (4 if k % 2 else 2) * density(lo + k * h)
        weights.append(acc)
    total = sum(weights)
    return sum(w * x for w, x in zip(weights, xs)) / total


def median(values) -> float:
    """Median of a sequence; 0.0 when it is empty."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def _tree(root_pid: int) -> dict[int, int]:
    """Parent pid of `root_pid` and of every descendant, by pid."""
    children: dict[int, list[int]] = {}
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
        parent[int(name)] = ppid
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in parent:
            tree[pid] = parent[pid]
        todo.extend(children.get(pid, ()))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _kind(pid: int, ppid: int) -> str:
    """driver (this process), jvm (the Spark JVM it launched), worker
    (the JVM's Python daemon and workers) or other. Children the JVM is
    still spawning run the java binary with the JVM's command line, so
    kinds go by the executable as well."""
    if pid == os.getpid():
        return "driver"
    try:
        exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if exe == "java":
        return "jvm" if ppid == os.getpid() else "other"
    return "worker" if exe.startswith("python") and b"pyspark." in cmd else "other"


class RssSampler:
    """Samples the RSS of the process tree (this Python driver, the JVM and
    its Python workers) every `period` seconds on a daemon thread;
    `peak_mb` is the largest sample seen and `peak_split` its split by
    process kind."""

    def __init__(self, period: float = 0.25):
        self.period = period
        self.peak_mb = 0.0
        self.peak_split: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        # short-lived helpers the JVM spawns (shell commands for file
        # permissions) are left out: while being spawned they report the
        # JVM's own pages, which would count the JVM twice
        split: dict = {}
        for pid, ppid in _tree(os.getpid()).items():
            # kind first, RSS after: a helper caught mid-spawn must not
            # lend the JVM's pages to the command it becomes
            k = _kind(pid, ppid)
            if k in ("driver", "jvm", "worker"):
                mb = _rss_bytes(pid) / 2**20
                split[f"{k}_mb"] = split.get(f"{k}_mb", 0.0) + mb
                split[f"{k}_n"] = split.get(f"{k}_n", 0) + 1
        total = sum(v for k, v in split.items() if k.endswith("_mb"))
        if total > self.peak_mb:
            self.peak_mb, self.peak_split = total, split

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def git_commit() -> str:
    """Commit of the checkout when it is a git repository, else 'unknown'
    (benchmark checkouts are exported trees without .git)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _remove_dead_runs() -> None:
    """Remove the scratch trees of runs whose process is gone (killed
    without a chance to clean up)."""
    try:
        names = os.listdir(TMP_ROOT)
    except OSError:
        return
    for name in names:
        if not name.isdigit():
            continue
        try:
            os.kill(int(name), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(TMP_ROOT, name), ignore_errors=True)
        except PermissionError:
            pass


class Run:
    """One benchmark process: owns the scratch tree, the Spark session and
    any serve threads, and tears all of them down in `close`."""

    def __init__(self, cores: int):
        self.cores = cores
        self.dir = os.path.join(TMP_ROOT, str(os.getpid()))
        _remove_dead_runs()
        shutil.rmtree(self.dir, ignore_errors=True)  # a reused pid's
        os.makedirs(os.path.join(self.dir, "tmp"))
        # Python's tempfile, pyspark's gateway handshake and the Python
        # workers honour TMPDIR; every JVM (spark-submit's launcher and the
        # driver) reads JAVA_TOOL_OPTIONS
        tmp = os.path.join(self.dir, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        tempfile.tempdir = None
        # Spark's Python workers import the package from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        self.spark = None
        self._servers: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def start_spark(self, trace: bool):
        from apt_search_engine_spark.session import get_spark

        # the heap is committed up front (-Xms = -Xmx, pre-touched), so
        # peak RSS does not depend on when the JVM chose to grow it
        conf = {
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if trace:
            # keep every job/stage of the run in the status store until
            # the traced run reads it back at exit
            conf.update({
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
            })
        self.spark = get_spark(
            "perfbench", master=f"local[{self.cores}]",
            shuffle_partitions=self.cores, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def serve(self, engine):
        """Start jobs/serve.py's HTTP server on an ephemeral localhost port
        in a daemon thread; returns (httpd, base_url)."""
        from apt_search_engine_spark.jobs.serve import serve

        httpd = serve(engine, host="127.0.0.1", port=0)
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        self._servers.append((httpd, t))
        return httpd, f"http://127.0.0.1:{httpd.server_address[1]}"

    def close(self) -> None:
        for httpd, t in self._servers:
            httpd.shutdown()
            httpd.server_close()
            t.join(timeout=30)
        self._servers.clear()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            self.spark = None
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.terminate()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=30)
                SparkContext._gateway = None
                SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(TMP_ROOT)
        except OSError:
            pass


class Response:
    __slots__ = ("status", "body", "cache", "t_send", "t_done", "error")

    def __init__(self, status, body, cache, t_send, t_done, error=None):
        self.status, self.body, self.cache = status, body, cache
        self.t_send, self.t_done, self.error = t_send, t_done, error

    @property
    def ms(self) -> float:
        return (self.t_done - self.t_send) * 1000.0


def get(base: str, path: str, headers=None, timeout: float = 120.0) -> Response:
    """One HTTP GET; a refused or dropped connection is a Response with
    status 0 and the error text, never an exception."""
    req = urllib.request.Request(base + path, headers=headers or {})
    t0 = time.time()
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            body = json.loads(r.read())
            return Response(r.status, body, r.headers.get("X-Cache"),
                            t0, time.time())
    except urllib.error.HTTPError as e:
        return Response(e.code, None, None, t0, time.time(), str(e))
    except (OSError, ValueError) as e:
        return Response(0, None, None, t0, time.time(),
                        f"{type(e).__name__}: {e}")


def header(args, cores: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "perfbench": {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "size": args.size, "nproc": os.cpu_count(),
            "local_n": cores, "python": sys.version.split()[0],
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "commit": git_commit(),
        }
    }
