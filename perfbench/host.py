"""Host sizing, the Spark session the benchmark runs on, and /proc
accounting for the process tree that session spawns.

The session is sized from this host, never from the engine's 32-core /
64g defaults: cores from the CPU affinity mask, driver heap from
MemTotal with headroom left for the Python workers and other tenants.
All scratch output (Spark local dirs, temp files) stays under the
benchmark's work directory inside the checkout.
"""

import ctypes
import os
import signal
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, "_work")
PR_SET_CHILD_SUBREAPER = 36


def host_cores():
    return len(os.sched_getaffinity(0))


def mem_total_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0 ** 2
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_gb():
    """A quarter of MemTotal, 1..8 GB: the corpora here need far less,
    and the machine's memory is shared with the Python workers."""
    return max(1, min(8, int(mem_total_gb() * 0.25)))


def start_session(cores, heap_gb, ui=False):
    """Local Spark session at ``local[cores]``. ``ui`` turns on the UI
    REST API the traced run reads stage metrics from.

    The JVM runs C1-only (-XX:TieredStopAtLevel=1). With the default
    tiered C2 compiler, CPU per rep on a 4-core host kept falling for five
    or more reps, more than a run can afford, so runs stopped at
    different depths of warm-up. With C1 only, the cold rep is cheaper
    and the next reps agree. The JVM side runs slower than under C2; the
    Python workers, about 45 % of a text rep's CPU seconds, are
    unaffected."""
    tmp = os.path.join(WORK_DIR, "tmp")
    local = os.path.join(WORK_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # spark-submit's launcher JVM, which builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    pypath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + pypath if pypath else "")
    from pdftabextract_spark.session import get_spark
    conf = {
        "spark.driver.memory": f"{heap_gb}g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 "
            # C1-only shrinks the default code cache to 48 MB, which a long
            # run can fill; the JVM then stops compiling
            "-XX:ReservedCodeCacheSize=256m",
        "spark.local.dir": local,
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf["spark.ui.port"] = "0"
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def jvm_gc_seconds(spark):
    """Cumulative collection time of the driver JVM's collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, b.getCollectionTime())
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_system_gc(spark):
    spark.sparkContext._jvm.System.gc()


# ------------------------------------------------------------ process tree

def _children_map():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root=None):
    """Pids of ``root`` (default: this process) and all its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _status_kb(pid, field):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def reset_peak_rss():
    """Reset VmHWM of every process in the tree to its current RSS."""
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_gb():
    """Sum of VmHWM over the tree: driver Python, JVM, Python workers."""
    return sum(_status_kb(pid, "VmHWM") for pid in process_tree()) / 1024.0 ** 2


def cpu_steal_s():
    """Host-wide CPU time stolen by the hypervisor so far (all CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _comm(pid):
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree_cpu():
    """(total, python_workers) CPU seconds of the tree so far, reaped
    children included (a worker that exits is charged to its parent).
    Python workers = Python processes other than this one."""
    tck = os.sysconf("SC_CLK_TCK")
    me = os.getpid()
    total = py = 0.0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        sec = sum(int(x) for x in fields[11:15]) / tck
        total += sec
        if pid != me and _comm(pid).startswith("python"):
            py += sec
    return total, py


def shutdown(spark, timeout=60):
    """Stop Spark, close the JVM gateway and wait until every process
    this run spawned has exited (SIGKILL after ``timeout``)."""
    tree = [p for p in process_tree() if p != os.getpid()]
    try:
        if spark is not None:
            spark.stop()
    finally:
        from pyspark import SparkContext
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # noqa: BLE001 - the JVM may already be gone
                pass
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if not _wait_gone(tree, timeout):
            for pid in tree:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            _wait_gone(tree, 10)


def become_subreaper():
    """Orphaned descendants (the Python daemon and workers once the JVM
    exits) are re-parented to this process, so ``shutdown`` can reap them
    instead of leaving zombies behind."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap():
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _wait_gone(pids, timeout):
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        _reap()
        if not any(os.path.exists(f"/proc/{p}") for p in pids):
            return True
        time.sleep(0.1)
    return False
