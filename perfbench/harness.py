"""Shared plumbing for the benchmark: checkout-local environment, the
Spark session, process-tree memory and clean-up, the percentile/tail
helper and the JVM-side table checksum.

Nothing here starts work at import time; ``run.py`` calls into it."""

from __future__ import annotations

import math
import os
import shutil
import signal
import threading
import time

# every column of the transcript fixture, in schema order
COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")

# Spark's default parallelism, fixed whatever the core count: the engine
# sizes its encode exchange and its direct-path task groups from it, and
# with them the per-task FSST symbol-table reuse, so the encoded bytes
# (and the pins in pins.json) hold for this value only
PARALLELISM = 4


# ---------------------------------------------------------------- stats

def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method), 0 ≤ q ≤ 1."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values, min_beyond: int = 10):
    """Highest percentile that still has ``min_beyond`` samples above it.

    Returns ``(percentile, value, n)``: with n sorted samples the value is
    the (n - min_beyond)-th smallest, so exactly ``min_beyond`` samples
    lie beyond it, and the percentile is its rank as a share of n. Returns
    None when there are too few samples for any such percentile."""
    xs = sorted(values)
    n = len(xs)
    k = n - min_beyond
    if k < 1:
        return None
    return 100.0 * k / n, xs[k - 1], n


# ------------------------------------------------------------- checksum

_MASK32 = 0xFFFFFFFF


def checksum_columns(df, columns=None) -> dict:
    """Order-independent content checksum, computed inside the JVM.

    Per column: the sum over rows of xxhash64(value) masked to its low 32
    bits, plus the row count under ``"_rows"``. Masking first keeps the
    sum below 2^63 for up to 2^31 rows, so Spark's ANSI mode (on by
    default in Spark 4) cannot raise on an overflowing long sum. Equal
    tables give equal checksums whatever their row order or partitioning;
    a changed, lost or duplicated value changes them."""
    from pyspark.sql import functions as F

    columns = list(columns or df.columns)
    aggs = [
        F.sum(F.xxhash64(F.col(f"`{c}`")).bitwiseAND(F.lit(_MASK32)))
        .alias(f"h{i}")
        for i, c in enumerate(columns)
    ]
    row = df.agg(F.count(F.lit(1)).alias("n"), *aggs).collect()[0]
    out = {"_rows": int(row["n"])}
    for i, c in enumerate(columns):
        v = row[f"h{i}"]
        out[c] = int(v) if v is not None else 0
    return out


# -------------------------------------------------------- environment

def setup_env(root: str, work: str) -> None:
    """Point every temp/cache location of this process, the JVM and the
    Python workers inside the checkout (``work``), and make the engine
    importable by the Spark Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(work: str, cores: int, event_log_dir: str | None = None):
    """One local[cores] session at default parallelism ``PARALLELISM``,
    sized for a 4-core / 15 GB host that other jobs share: a 2 GB heap
    (the largest workload moves ~60 MB of raw rows per operation), no UI,
    all scratch under ``work``."""
    from pyspark.sql import SparkSession

    java_tmp = os.path.join(work, "java-tmp")
    os.makedirs(java_tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={java_tmp}")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.default.parallelism", str(PARALLELISM))
        .config("spark.sql.shuffle.partitions", str(4 * PARALLELISM))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log_dir)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, shut the JVM gateway down and wait until every
    process this run started (JVM, Python daemon and workers) is gone."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:  # already gone: nothing left to shut down
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except (OSError, AttributeError):
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        _reap(kids | descendants(os.getpid()), timeout)


def _reap(pids: set[int], timeout: float) -> None:
    deadline = time.time() + timeout
    alive = set(pids)
    while alive and time.time() < deadline:
        for p in list(alive):
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
            if not os.path.exists(f"/proc/{p}") or _is_zombie(p):
                alive.discard(p)
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    for p in alive:
        try:
            os.waitpid(p, 0)
        except ChildProcessError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def descendants(root: int) -> set[int]:
    """All live descendant pids of ``root``, read from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _vm_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process tree (driver, JVM, Python
    workers), read from /proc since psutil is not installed.

    Every ``interval`` seconds it sums VmRSS over the live processes of
    the tree and keeps the largest sum: the most memory the run held at
    one time."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_vm_rss_kb(p) for p in descendants(me) | {me})
        self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._sample()
        self._stop.set()
        self._thread.join(timeout=5.0)
        return self._peak_kb / 1024.0


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            try:
                total += os.path.getsize(os.path.join(dp, fn))
            except OSError:
                pass
    return total
