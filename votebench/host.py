"""Host-side measurements: process age, the process tree's peak resident
memory, and the ambient context of a timed section."""

from __future__ import annotations

import os
import threading


def process_age_s() -> float:
    """Seconds since this process started, from the kernel's start time, so
    set-up includes interpreter start and imports."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Peak of the summed resident memory of this process, the Spark JVM
    and its Python workers, sampled every ``PERIOD_S``, with the
    per-process split at the peak."""

    PERIOD_S = 0.2

    def __init__(self) -> None:
        self.peak_bytes = 0
        self.peak_split: "dict[str, float]" = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> "dict[str, int]":
        """Resident bytes of the measured processes, keyed '<pid>:<name>':
        this process, its JVM child and every Python process below them.

        Other descendants are the JVM's short-lived helper commands. Between
        spawn and exec such a child still maps the JVM's memory, and
        counting it would double the JVM for that instant."""
        procs: dict[int, tuple[int, str]] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit():
                try:
                    with open(f"/proc/{entry}/stat") as f:
                        head, tail = f.read().rsplit(")", 1)
                    procs[int(entry)] = (int(tail.split()[1]), head.split("(", 1)[1])
                except OSError:
                    continue
        me = os.getpid()
        keep, frontier = {me: "python"}, [me]
        while frontier:
            p = frontier.pop()
            for child, (par, comm) in procs.items():
                measured = comm.startswith("python") or (p == me and comm == "java")
                if par == p and measured and child not in keep:
                    keep[child] = comm
                    frontier.append(child)
        out = {}
        for pid, comm in keep.items():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    out[f"{pid}:{comm}"] = int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return out

    def _sample(self) -> None:
        split = self._tree_rss()
        total = sum(split.values())
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_split = {k: round(v / 2**20, 1) for k, v in split.items()}

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.PERIOD_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_bytes / 2**20


class Ambient:
    """Host context of one timed section: CPU steal over it and a
    single-core probe at each edge. Reported, never gated."""

    def __init__(self) -> None:
        from bench import cpu_probe, read_cpu_jiffies

        self._read, self._probe = read_cpu_jiffies, cpu_probe
        self.probe_before_s = cpu_probe()
        self._jiffies = read_cpu_jiffies()

    def close(self) -> dict:
        from bench import steal_pct

        steal = steal_pct(self._jiffies, self._read())
        return {
            "steal_pct": steal,
            "cpu_probe_s_before": self.probe_before_s,
            "cpu_probe_s_after": self._probe(),
        }
