"""Host-fit Spark launcher and the measurements taken around it.

- ``configure`` points every scratch location (Spark local dirs, temp
  files, warehouse) inside the checkout, puts the checkout root on the
  Python workers' path, and sizes the session to this host: ``local[n]``
  with *n* the usable cores (affinity and cgroup quota), never wider, and a
  driver heap that fits beside other tenants instead of the 16g default.
- ``setup`` is one session set-up as a user pays it: ``get_spark`` +
  ``register_whisper`` + the first DataSource read.
- ``JobStats``, ``gc_seconds`` and ``peak_rss_mb`` read Spark's status
  tracker, the JVM's GC beans and /proc.
"""

from __future__ import annotations

import os
import signal
import sys
import time
import uuid

#: Driver heap for every workload; the largest (bulk rollup over two 83 MB
#: files) peaks well below it.
DRIVER_MEMORY = "3g"


def host_cores() -> int:
    """Cores this process may use: CPU affinity, capped by a cgroup v2
    quota when one is set."""
    n = len(os.sched_getaffinity(0))
    try:
        with open("/sys/fs/cgroup/cpu.max") as f:
            quota, period = f.read().split()
        if quota != "max":
            n = min(n, max(1, int(int(quota) // int(period))))
    except (OSError, ValueError):
        pass
    return n


def configure(root: str, work: str, cores: int) -> dict[str, str]:
    """Set the environment the JVM and its Python workers inherit; return
    the extra Spark conf for ``get_spark``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }


def setup(rec, conf: dict[str, str], cores: int, probe_path: str):
    """One session set-up; returns (spark, seconds, per-step seconds)."""
    from whisper_pandas_spark.session import get_spark
    from whisper_pandas_spark.sources.whisper import register_whisper

    steps = {}
    t0 = time.perf_counter()
    with rec.span("session.get_spark", request=-1):
        spark = get_spark(
            app_name="perfbench", master=f"local[{cores}]", extra_conf=conf
        )
    t1 = time.perf_counter()
    with rec.span("sources.whisper.register_whisper", request=-1):
        register_whisper(spark)
    t2 = time.perf_counter()
    with rec.span("sources.whisper.first_read", request=-1):
        spark.read.format("whisper").load(probe_path).collect()
    t3 = time.perf_counter()
    steps["get_spark_s"] = t1 - t0
    steps["register_s"] = t2 - t1
    steps["first_read_s"] = t3 - t2
    return spark, t3 - t0, steps


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    process it started (the Python worker daemon and workers) have exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 20
    for pid in started:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while *pid* exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Σ VmHWM of the JVM and every process under it (the Python worker
    daemon and its workers), read now."""
    pid = jvm_pid(spark)
    return sum(_vm_hwm_kb(p) for p in [pid, *descendants(pid)]) / 1024.0


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (all collectors)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


class JobStats:
    """Tag the jobs of one block with a fresh job group; read back how many
    stages and tasks ran and how many tasks failed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.group = ""

    def start(self) -> None:
        self.group = uuid.uuid4().hex
        self.sc.setJobGroup(self.group, "perfbench")

    def stop(self) -> dict[str, int]:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        st = self.sc.statusTracker()
        jids = st.getJobIdsForGroup(self.group)
        # the status store is fed asynchronously by the listener bus: wait
        # (briefly) until it has seen every job of the group end
        for _ in range(100):
            infos = [st.getJobInfo(j) for j in jids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.01)
        tasks = stages = failed = 0
        for jid in jids:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped (shuffle reuse)
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"spark.tasks": tasks, "spark.stages": stages, "spark.failed_tasks": failed}


def noop(df) -> None:
    """Materialize *df* fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()
