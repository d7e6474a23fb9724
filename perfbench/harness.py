"""Process plumbing for the benchmark: where a run writes, how the Spark
session is started and stopped, and the counters read from outside the
program (Spark's status tracker, ``/proc`` high-water marks).

Nothing here starts a thread. Importing it has no side effects.
"""

from __future__ import annotations

import os
import shlex
import shutil
import statistics
import sys
import tempfile
from dataclasses import dataclass, field

# Spark task slots. On a 4-vCPU shared VM, local[2] ran the composite
# workload 6-28% faster than local[4] in three interleaved pairs of runs:
# with 4 slots, the Python workers, the JVM and the driver oversubscribe
# the cores.
N_CORES = 2
DRIVER_MEMORY = "3g"


def repo_root() -> str:
    """The checkout the benchmark runs in: the parent of this directory."""
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def require_package(root: str) -> None:
    """Exit non-zero, printing no result, unless the checkout holds the
    engine's sources. The benchmark never falls back to an installed copy."""
    pkg = os.path.join(root, "stackstac_spark", "__init__.py")
    if not os.path.isfile(pkg):
        print(f"perfbench: no stackstac_spark package under {root}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, root)
    import stackstac_spark

    if os.path.dirname(os.path.abspath(stackstac_spark.__file__)) != os.path.dirname(pkg):
        print("perfbench: stackstac_spark imported from outside the checkout", file=sys.stderr)
        sys.exit(2)


def make_run_dir(root: str, tag: str) -> str:
    """A private scratch directory inside the benchmark's own directory for
    inputs, Spark's local dirs, warehouse and the JVM's temp files; removed
    by ``cleanup``."""
    base = os.path.join(root, "perfbench", ".tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix=f"{tag}-", dir=base)


def configure_env(root: str, run_dir: str) -> None:
    """Environment the Spark JVM and its Python workers inherit. Must run
    before the first session starts."""
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = run_dir
    os.environ["SPARK_LOCAL_DIRS"] = run_dir
    os.environ["SPARK_GRAFT_CPUS"] = str(N_CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={run_dir} -Dderby.system.home={run_dir} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
            "--conf",
            shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "pyspark-shell",
        ]
    )
    tempfile.tempdir = run_dir


def start_session():
    """The engine's own session factory, pinned to ``local[N_CORES]``."""
    import stackstac_spark

    spark = stackstac_spark.get_spark("perfbench", master=f"local[{N_CORES}]", shuffle_partitions=N_CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_times() -> tuple[int, int]:
    """(all CPU jiffies, stolen jiffies) of this machine since boot: steal is
    time the hypervisor ran something else while a CPU here wanted to run."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children's) used so far by
    this process and every process below it: the Spark JVM and its Python
    workers. The kernel does not count time the hypervisor stole as a
    process's CPU time."""
    procs: dict[int, tuple[int, int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        procs[int(name)] = (int(fields[1]), sum(int(v) for v in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cleanup(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass


@dataclass
class JobCounts:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


def job_counts(spark, group: str) -> JobCounts:
    """Jobs, tasks and failed tasks Spark ran under a job group, from the
    status tracker (no sampling thread: read once, after the work)."""
    tracker = spark.sparkContext.statusTracker()
    out = JobCounts()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        for stage_id in info.stageIds:
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                out.tasks += st.numTasks
                out.failed_tasks += st.numFailedTasks
    return out


@dataclass
class Samples:
    """Timings collected during a run, by metric name."""

    values: dict[str, list[float]] = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.values.setdefault(name, []).append(value)

    def median(self, name: str) -> float:
        vals = self.values.get(name) or []
        if not vals:
            raise RuntimeError(f"no samples for {name}")
        return statistics.median(vals)

    def count(self, name: str) -> int:
        return len(self.values.get(name) or [])
