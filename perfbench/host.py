"""Host record, Spark session lifetime and the process-tree memory sampler."""

from __future__ import annotations

import os
import platform
import threading
import time


def host_record() -> dict:
    """nproc, MemTotal and the CPU model of this host."""
    mem_kb, model = 0, platform.processor() or "unknown"
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024, "cpu_model": model}


def steal_s() -> float:
    """CPU time the hypervisor gave other guests, summed over this host's
    CPUs since boot (the steal column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def spark_sizing(host: dict) -> tuple[int, str]:
    """(local cores, driver memory) from the host: at most 4 cores, and a
    sixth of RAM capped at 3 GiB, so runs stay comparable and small."""
    cores = max(1, min(4, host["nproc"]))
    mem_mb = max(1024, min(3072, host["mem_total_mb"] // 6))
    return cores, f"{mem_mb}m"


class Spark:
    """One Spark application in its own JVM, started and stopped by the
    benchmark. Everything it writes stays under work_dir."""

    def __init__(self, work_dir: str, cores: int, driver_mem: str):
        self.work_dir, self.cores, self.driver_mem = work_dir, cores, driver_mem
        self.session = None

    def start(self):
        """get_spark plus one trivial job: the benchmark's set-up."""
        from terrakit_spark.session import get_spark

        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = self.driver_mem
        # The heap is fixed in size (initial = max, young generation fixed)
        # so the JVM's resident memory follows what the engine keeps live,
        # not the collector's resizing, which moved peak_rss_mb by a quarter
        # between identical runs.
        self.session = get_spark(
            master=f"local[{self.cores}]",
            app_name="perfbench",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{self.driver_mem} -Xmn384m",
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.session.range(1).count()
        return self.session

    def stop(self) -> None:
        """Stop the application and its JVM, and wait until the JVM exits."""
        from pyspark import SparkContext

        if self.session is not None:
            self.session.stop()
            self.session = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def control_s(spark, cores: int) -> float:
    """A fixed pure-JVM job (no Python, one small shuffle): its time tracks
    how fast the host runs right now, apart from the engine."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(15_000_000 * cores, numPartitions=cores * 4).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1000)))
    ).collect()
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """One thread that sums VmRSS over this process and its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s, self.peak_kb = interval_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in tree_pids(root)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
