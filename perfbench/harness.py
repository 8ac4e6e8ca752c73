"""Spark session lifetime and process-tree memory for the benchmark.

Everything the session writes (shuffle files, JVM and Python temp files,
the warehouse) goes under the run's work directory, and :func:`stop`
waits for the JVM to exit, so a run leaves no process behind.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """Cores this process may run on: its affinity mask, capped by a
    cgroup CPU quota if one is set. ``os.cpu_count`` counts every core of
    the host, which on a shared machine can be many more."""
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            n = min(n, max(1, int(quota) // int(period)))
    except (OSError, ValueError):
        pass
    return n


def cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, or the usable cores, whichever is fewer."""
    n = usable_cpus()
    return min(n, int(os.environ.get("SPARK_GRAFT_CPUS") or n))


def task_slots() -> int:
    """Spark task threads: one core fewer than :func:`cpus`, so that the
    driver JVM's planning, JIT and GC threads and the benchmark process
    do not compete with the tasks for a core."""
    return max(1, cpus() - 1)


def start(work_dir: str) -> SparkSession:
    """A session at ``local[task_slots]`` built by the library's own factory."""
    from sonata_neo4j_loader_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # pyspark and its workers honour TMPDIR; the JVMs (spark-submit's
    # launcher and the driver) take java.io.tmpdir and would write perf
    # data under /tmp; SPARK_LOCAL_DIRS, when set, overrides spark.local.dir
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    n = task_slots()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            # the heap sized up front: left to grow, the driver's heap
            # expanded differently from run to run of the same code, and
            # moved the near-dup peak RSS by 20%
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage of the run back from
            # the status store, so none may be evicted before it does
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark: SparkSession | None = None) -> None:
    """Stop the session (by default the active one, if any), shut the JVM
    gateway down and wait for the JVM."""
    spark = spark or SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# the sampler child: every ``period`` seconds, the CPU time of a fixed loop
# on one core, stamped with the monotonic clock; it exits when its stdin
# closes, which also happens if the benchmark process dies
_SAMPLER = r"""
import select, sys, time
path, period, n = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
with open(path, "w", buffering=1) as out:
    while not select.select([sys.stdin], [], [], period)[0]:
        c0 = time.thread_time()
        acc = 0
        for i in range(n):
            acc ^= i * 2654435761 % 4294967291
        out.write(f"{time.monotonic()} {time.thread_time() - c0}\n")
"""


class SpeedProbe:
    """How fast a core of the host runs, sampled all through a run.

    A child process times a fixed pure-Python loop (``LOOP`` iterations,
    a few milliseconds) every ``PERIOD`` seconds, as CPU time, so time it
    spends waiting for a core is left out. :meth:`mean` is the mean sample
    within a window of the monotonic clock: the host's speed while a timed
    call ran there. The child runs no library code and costs a few percent
    of one core.
    """

    PERIOD = 0.1
    LOOP = 25_000
    # the mean sample while a timed call runs on the 4-core reference
    # machine: :meth:`scale` turns a wall into seconds on that machine
    REFERENCE_S = 0.008

    def __init__(self, path: str):
        self.path = path
        self.proc: subprocess.Popen | None = None

    def __enter__(self) -> SpeedProbe:
        self.proc = subprocess.Popen(
            [sys.executable, "-c", _SAMPLER, self.path, str(self.PERIOD), str(self.LOOP)],
            stdin=subprocess.PIPE,
        )
        return self

    def __exit__(self, *exc) -> None:
        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait(timeout=10)

    def mean(self, t0: float, t1: float) -> float:
        """The mean sample (seconds per loop) taken between ``t0`` and
        ``t1`` on the monotonic clock; for a window too short to hold one,
        the sample nearest to its middle."""
        with open(self.path) as f:
            samples = [tuple(map(float, line.split())) for line in f if line.endswith("\n")]
        if not samples:
            raise RuntimeError("speed probe took no sample")
        got = [s for t, s in samples if t0 <= t <= t1]
        if not got:
            mid = (t0 + t1) / 2
            got = [min(samples, key=lambda ts: abs(ts[0] - mid))[1]]
        return sum(got) / len(got)

    def scale(self, wall: float, t0: float, t1: float) -> float:
        """``wall``, taken from ``t0`` to ``t1``, in seconds on the
        reference machine."""
        return wall * self.REFERENCE_S / self.mean(t0, t1)


def _tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants: the
    Python driver, the JVM and any Python workers."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the process tree while active.

    Entering resets each process's high-water mark (``clear_refs``);
    leaving sums the marks. The sum bounds the tree's simultaneous peak
    from above, and costs nothing while the timed call runs. ``peak`` is
    the largest sum over all the times the object was used.
    """

    def __init__(self):
        self.peak = 0

    def __enter__(self) -> PeakRss:
        for pid in _tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        self.peak = max(self.peak, sum(_hwm_bytes(pid) for pid in _tree()))
