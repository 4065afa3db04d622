"""Run-level plumbing: the Spark session, the checkout-local work area, the
process-tree memory sampler, the host stamp and small statistics."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import threading

CORES = 4
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEM = "3g"


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024
_TICK = os.sysconf("SC_CLK_TCK")


def _tree_stats() -> dict[int, tuple[int, float]]:
    """pid -> (RSS in KB, CPU seconds incl. reaped children) for this
    process and all its descendants (the driver JVM and the Python
    workers), read from /proc."""
    parent, stats = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        fields = st[st.rfind(")") + 2:].split()
        parent[int(pid)] = int(fields[1])
        cpu = sum(int(x) for x in fields[11:15]) / _TICK  # utime stime cutime cstime
        stats[int(pid)] = (int(fields[21]) * _PAGE_KB, cpu)
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree."""
    return sum(cpu for _, cpu in _tree_stats().values())


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the driver
    JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _tree_kb(self) -> int:
        return sum(rss for rss, _ in _tree_stats().values())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_kb())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024.0


def cpu_times() -> list[int]:
    """Aggregate CPU tick counters from /proc/stat (user nice system idle
    iowait irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: host contention the benchmark cannot control."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8]))


def source_digest(root: str) -> str:
    """Digest of the engine sources: names the code measured even where the
    checkout is not a git repository."""
    h = hashlib.sha256()
    for base in ("tmframe_spark",):
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, base)):
            dirnames.sort()
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    p = os.path.join(dirpath, fn)
                    h.update(os.path.relpath(p, root).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD commit read from .git without running git (None outside a repo)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        path = os.path.join(root, ".git", ref[5:])
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.strip().endswith(ref[5:]):
                    return line.split()[0]
    except OSError:
        return None
    return None


def host_stamp(root: str, seed: int, workload: str, params: dict) -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_master": f"local[{CORES}]",
        "spark.sql.shuffle.partitions": SHUFFLE_PARTITIONS,
        "spark.driver.memory": DRIVER_MEM,
        "seed": seed,
        "workload": workload,
        "workload_params": params,
        "git_commit": git_commit(root),
        "source_digest": source_digest(root),
        "python": sys.version.split()[0],
    }


class Context:
    """What a workload needs: the session, the tracer, a private work
    directory inside the checkout and the seed."""

    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.seed = seed
        self.work = os.path.join(root, ".perfbench", "work", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        # a Unix socket path holds at most 107 bytes, which a deep checkout
        # overruns; the sockets go in a directory given relative to the
        # checkout, which every process of the run has as its cwd
        os.chdir(root)
        # everything Spark and its Python workers write stays in the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        self.spark = None
        self.tracer = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def start_spark(self):
        from tmframe_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            cores=CORES,
            shuffle_partitions=SHUFFLE_PARTITIONS,
            app_name="tmframe-perfbench",
            extra_conf={
                "spark.driver.memory": DRIVER_MEM,
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.python.unix.domain.socket.dir": os.path.relpath(tmp, self.root),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": (
                    f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        shutil.rmtree(self.work, ignore_errors=True)

