"""Process-tree RSS and host CPU sampler, read from ``/proc``.

One daemon thread samples every ``interval`` seconds for the whole run:
the summed RSS of this process and all its descendants (the JVM and
the Python workers), and ``/proc/stat`` host counters.  Host busy time
outside the tree is the host's busy jiffies minus the tree's own CPU
time; steal is read directly.  No spin probe: it would compete with the
benchmark for the same cores.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


# Thread names (as /proc truncates them) of HotSpot's JIT compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_stat(pid: int):
    """(ppid, utime+stime+cutime+cstime jiffies, rss bytes, comm) or None."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state (field 3 of proc(5)); ppid is field 4
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15])
    rss = int(fields[21]) * _PAGE
    return ppid, cpu, rss, raw[raw.index("(") + 1:raw.rindex(")")]


def _jit_jiffies(pid: int) -> int:
    """utime+stime jiffies of the JIT compiler threads of JVM ``pid``."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(_JIT_THREADS):
            fields = raw[raw.rindex(")") + 2:].split()
            total += int(fields[11]) + int(fields[12])
    return total


def _tree(root: int) -> dict:
    """pid → (ppid, cpu, rss, comm) for ``root`` and its descendants."""
    info = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _proc_stat(int(name))
            if st is not None:
                info[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in info.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in info:
            out[pid] = info[pid]
            todo.extend(kids.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    return [pid for pid in _tree(root) if pid != root]


def tree_sample(root: int):
    """(rss_bytes, cpu_jiffies, n_procs) summed over ``root`` and its
    descendants."""
    tree = _tree(root)
    return (sum(st[2] for st in tree.values()),
            sum(st[1] for st in tree.values()), len(tree))


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used so far by ``root`` (default: this process) and
    its descendants, less the JVM's JIT compiler threads.  Those took
    about 60 % of the JVM's CPU in a ``serve`` run, in amounts that follow
    the compiler's own timing rather than the work asked of the program,
    and were the largest source of run-to-run spread.  The JVM is started
    with a fixed set of compiler threads (see ``run.prepare_env``), so
    none exits and takes its time out of reach of the subtraction."""
    tree = _tree(os.getpid() if root is None else root)
    jiffies = sum(st[1] for st in tree.values())
    jiffies -= sum(_jit_jiffies(pid) for pid, st in tree.items()
                   if st[3] == "java")
    return jiffies / _HZ


def host_cpu():
    """(busy, steal, total) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = (vals + [0] * 8)[:8]
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + idle + iowait + steal


class Sampler:
    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.root = os.getpid()
        self.peak_rss = 0
        self.samples = 0
        self._tree_cpu: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="perfbench-sampler")

    def start(self) -> "Sampler":
        self._host0 = host_cpu()
        self._cpu0 = tree_sample(self.root)[1]
        self._thread.start()
        return self

    def _sample(self) -> None:
        rss, cpu, _ = tree_sample(self.root)
        self.peak_rss = max(self.peak_rss, rss)
        self._cpu_last = cpu
        self.samples += 1

    def _loop(self) -> None:
        self._sample()
        while not self._stop.wait(self.interval):
            self._sample()

    def stop(self) -> dict:
        """Stop the thread; return the host record for the run."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        busy1, steal1, total1 = host_cpu()
        busy0, steal0, total0 = self._host0
        total = max(1, total1 - total0)
        # reaped children fold into the parent's cutime/cstime, so the
        # tree's cumulative CPU never drops; a child that exits between
        # samples without being reaped by a tree member can be missed
        tree = max(0, self._cpu_last - self._cpu0)
        other = max(0, (busy1 - busy0) - tree)
        return {
            "samples": self.samples,
            "peak_rss_mb": self.peak_rss / 2**20,
            "host_jiffies": total,
            "steal_frac": (steal1 - steal0) / total,
            "tree_cpu_s": tree / _HZ,
            "other_busy_s": other / _HZ,
            "other_busy_frac": other / total,
        }
