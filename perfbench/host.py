"""Host facts and the run-owned environment.

Everything here reads ``/proc`` of the host and of the benchmark's own
process tree; nothing is written outside the run directory.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_seconds() -> float:
    """Cumulative CPU steal of the whole host, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def run_environment(root: str, run_dir: str, event_log_dir: str | None) -> dict:
    """Environment for this run's processes: cores and driver heap from
    the host, the repo on the Python workers' path, and every temporary,
    spill and warehouse directory inside ``run_dir``."""
    cpus = nproc()
    # a quarter of RAM for the driver heap: local mode runs every task in
    # it, and the Python workers and the page cache need the rest
    heap_mb = mem_total_bytes() // 4 // (1 << 20)
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    confs = [
        f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "spark.ui.showConsoleProgress=false",
    ]
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir={event_log_dir}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    pythonpath = os.environ.get("PYTHONPATH")
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": root + (os.pathsep + pythonpath if pythonpath else ""),
        "TMPDIR": tmp,
        # every JVM (the launcher too): temporaries in the run directory
        # and no hsperfdata files under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_EXTRA_CONFS": ";".join(confs),
    }


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return data[data.rindex(")") + 2:].split()


def descendants(root_pid: int) -> list[int]:
    """Live processes below ``root_pid`` (not including it)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_seconds(root_pid: int | None = None) -> float:
    """User + system CPU of this process tree: live members plus the
    children they have reaped (Python workers that exited)."""
    root_pid = root_pid or os.getpid()
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in st[11:15])
    return total / _CLK_TCK


def peak_rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until every pid has exited; return those still alive."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _stat(p) is not None and _stat(p)[0] != "Z"]
        if alive:
            time.sleep(0.1)
    return alive


def noise_snapshot() -> dict:
    return {"steal_s": steal_seconds(), "loadavg": list(os.getloadavg())}
