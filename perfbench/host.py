"""Host-side readings taken beside every run.

* :func:`host_load_mb_per_s` — a control for co-tenant load: a
  process pool at the run's width does the same per-document work as
  ``scripts/host_probe.py`` (``xkit.doc.extract_doc``) and reports
  MB/s. It is run metadata, not a metric of the program.
* :class:`WorkerRss` — the largest resident set of any Spark Python
  worker, read from ``/proc`` while the timed jobs run.
* :func:`adopt_orphans` and :func:`stop_all` — every process a run
  starts (the JVM, the Python worker daemon it forks, the process
  pools and their resource tracker) has ended when the run exits.
"""

from __future__ import annotations

import ctypes
import multiprocessing
import os
import signal
import threading
import time
from multiprocessing import resource_tracker

PR_SET_CHILD_SUBREAPER = 36


def _extract_all(docs: list) -> int:
    from xkit.doc import extract_doc

    return sum(len(extract_doc(*d)[0]) for d in docs)


def host_load_mb_per_s(docs: list, width: int, repeats: int = 2) -> float:
    """``docs`` are ``(kinds, texts, refs, offsets)`` tuples."""
    mb = sum(len(t) for d in docs for t in d[1] if t) / 1e6
    chunks = [docs[i :: width * 4] for i in range(width * 4)]
    ctx = multiprocessing.get_context("spawn")
    best = float("inf")
    with ctx.Pool(width) as pool:
        pool.map(_extract_all, [docs[:2]] * width)
        for _ in range(repeats):
            t0 = time.perf_counter()
            pool.map(_extract_all, chunks)
            best = min(best, time.perf_counter() - t0)
    return mb / best


def _children() -> dict:
    kids: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list:
    """Every live or unreaped process below ``root``."""
    kids = _children()
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, ())
    return out


def adopt_orphans() -> None:
    """Make this process the parent of whatever its descendants leave
    behind (the worker daemon outlives the JVM that forked it for a
    moment), so that :func:`stop_all` can see it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(grace: float = 5.0, timeout: float = 30.0) -> list:
    """Stop the spawn pools' resource tracker, which lives until told
    to, then :func:`wait_all`."""
    resource_tracker._resource_tracker._stop()
    return wait_all(grace, timeout)


def wait_all(grace: float, timeout: float) -> list:
    """Wait for every descendant of this process to end: ``grace``
    seconds to exit on its own, then SIGTERM, then SIGKILL once
    ``timeout`` has passed. Returns the pids that had to be signalled."""
    t0 = time.monotonic()
    signalled: list = []
    while True:
        _reap()
        left = descendants(os.getpid())
        if not left:
            return signalled
        waited = time.monotonic() - t0
        if waited > timeout:
            targets, sig = left, signal.SIGKILL
        elif waited > grace:
            targets, sig = [p for p in left if p not in signalled], signal.SIGTERM
        else:
            targets = []
        for pid in targets:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        signalled += [p for p in targets if p not in signalled]
        time.sleep(0.05)


def _python_workers(root: int) -> list:
    """Descendants of ``root`` running the PySpark worker daemon (the
    daemon forks the workers, so they share its command line)."""
    out = []
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(pid)
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Samples the peak RSS (``VmHWM``) of this process's Spark Python
    workers every ``interval`` seconds between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        for pid in _python_workers(os.getpid()):
            self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)
        self._sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        return self.peak_kb / 1024
