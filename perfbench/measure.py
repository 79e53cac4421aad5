"""Measurement helpers: Harrell-Davis percentiles, the tail-percentile rule, a peak-RSS
sampler over the Spark driver JVM and its Python workers, and the
in-memory span recorder of the traced run."""

from __future__ import annotations

import json
import os
import threading

import numpy as np

#: percentiles the tail rule chooses from, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values, q: float) -> float:
    """The ``q``-th percentile by the Harrell-Davis estimator: a
    weighted mean of every order statistic, with the weights a
    Beta((n+1)p, (n+1)(1-p)) distribution puts on each 1/n of [0, 1].
    On a window of a dozen calls it moves with every call near the
    percentile, where an interpolated sample percentile reads one or
    two calls."""
    x = np.sort(np.asarray(values, dtype=np.float64))
    n = len(x)
    p = q / 100.0
    a, b = (n + 1) * p, (n + 1) * (1.0 - p)
    # midpoint rule on 256 points per order statistic; no endpoint, so
    # a or b below 1 needs no special case
    k = 256
    t = (np.arange(n * k) + 0.5) / (n * k)
    logw = (a - 1.0) * np.log(t) + (b - 1.0) * np.log1p(-t)
    w = np.exp(logw - logw.max()).reshape(n, k).sum(axis=1)
    return float(w @ x / w.sum())


def tail_percentile(n: int) -> float | None:
    """The highest ladder percentile with at least ten of ``n`` samples
    beyond it; None when even the median has fewer than ten beyond."""
    best = None
    for q in TAIL_LADDER:
        if n - int(np.ceil(n * q / 100.0)) >= MIN_BEYOND:
            best = q
    return best


# ------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may hold spaces: the fields after ")" are fixed
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_hwm_kb(root: int) -> dict[int, int]:
    """Peak resident memory (``VmHWM``, kB) of ``root`` and each of its
    descendants alive now."""
    kids = _children()
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            pass  # exited
    return out


class PeakMemory:
    """Peak resident memory of a process tree: the kernel's high-water
    mark of every process seen in the tree while active, summed.  Polled
    every ``period`` seconds on a background thread only to catch
    processes that exit; the high-water marks themselves miss no spike.
    Use as a context manager."""

    def __init__(self, root_pid: int, period: float = 0.2):
        self.root_pid = root_pid
        self.period = period
        self.hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        for pid, kb in tree_hwm_kb(self.root_pid).items():
            self.hwm[pid] = max(self.hwm.get(pid, 0), kb)

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._poll()

    def __enter__(self) -> "PeakMemory":
        self._poll()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()

    @property
    def peak_mb(self) -> float:
        return sum(self.hwm.values()) / 1024


# ------------------------------------------------------------ spans


class Tracer:
    """One in-memory span per public call and per phase inside it:
    ``(id, name, start, end, parent)``, times in seconds from
    ``time.perf_counter``.  Written out only by :meth:`dump`."""

    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append({"id": len(self.spans), "name": name, "start": start,
                           "end": end, "parent": parent})
        return len(self.spans) - 1

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
