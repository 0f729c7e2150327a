"""Process-tree CPU and memory, and host load, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def _stat_path(path: str) -> list[str] | None:
    try:
        with open(path, encoding="ascii") as f:
            raw = f.read()
    except OSError:
        return None
    # Field 2 (comm) is parenthesised and may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def is_running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def tree_cpu_s() -> float:
    """User+sys CPU seconds of this process and all its descendants,
    reaped children included (cutime/cstime)."""
    total = 0
    for pid in descendants(os.getpid()):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based).
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def jit_cpu_s() -> float:
    """User+sys CPU seconds of the JIT compiler threads of the JVMs
    below this process. The JVM must keep those threads alive
    (`-XX:-UseDynamicNumberOfCompilerThreads`), or the CPU of one that
    exits is lost from this sum."""
    total = 0
    for pid in java_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii") as f:
                    if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        continue
            except OSError:
                continue
            st = _stat_path(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                total += int(st[11]) + int(st[12])
    return total / _TICK


def java_pids(root: int | None = None) -> list[int]:
    out = []
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/comm", encoding="ascii") as f:
                if f.read().strip() == "java":
                    out.append(pid)
        except OSError:
            pass
    return out


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_load() -> dict:
    """Load average, CPU pressure and the host's cumulative CPU ticks
    (with steal), to tell noisy runs apart."""
    out: dict = {}
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    out["cpu_ticks"] = {"total": sum(ticks[:8]), "steal": ticks[7]}
    with open("/proc/loadavg", encoding="ascii") as f:
        out["loadavg"] = [float(x) for x in f.read().split()[:3]]
    try:
        with open("/proc/pressure/cpu", encoding="ascii") as f:
            some = f.readline().split()
        out["cpu_pressure_some"] = {
            k: float(v) for k, v in (kv.split("=") for kv in some[1:4])
        }
    except OSError:
        out["cpu_pressure_some"] = None
    return out


def steal_share(start: dict, end: dict) -> float:
    """Share of all CPU time the hypervisor stole between two
    `host_load` snapshots."""
    total = end["cpu_ticks"]["total"] - start["cpu_ticks"]["total"]
    steal = end["cpu_ticks"]["steal"] - start["cpu_ticks"]["steal"]
    return steal / total if total else 0.0
