"""Operational stats — the reference's ``StatsService`` + 60 s ticker
(``core/stats.py``, wired in ``nft/bin/crawl.py:72`` and
``nft/bin/shared.py:187-305``).

The reference is single-process, so its counters see every RPC call and
write.  Spark splits the work across executors; the engine's answer has two
halves:

* **Executor-side metrics** (task counts, shuffle/scan volumes, per-stage
  timings) already land in Spark's status store, which keeps them with the
  UI disabled (``session.py`` disables it): read them with
  ``sc._jsc.sc().statusStore()``, or run ``perfbench/run.py --trace 1``,
  which attributes each job and stage to the pipeline call that started
  it.  Re-counting them driver-side would be redundant and wrong.
  ``rpc.*`` counters cover only driver-side probes (height checks,
  force-load fetches); executor-side RPC volume is visible as task metrics
  on the fetch stages.
* **Pipeline-level counters** (batches, block ranges, rows per silver
  table) are driver-observable facts this module counts exactly, and are
  the numbers the reference's ticker line reports.

``StatsTicker`` prints one machine-parseable line per interval — the analog
of the reference's 60 s stats writer — plus a final line on stop.
"""

from __future__ import annotations

import threading
import time
from collections import Counter


class StatsService:
    """Thread-safe named counters (reference ``core/stats.py`` API:
    increment / get_count / reset)."""

    def __init__(self) -> None:
        self._counts: Counter[str] = Counter()
        self._lock = threading.Lock()
        self._t0 = time.time()

    def increment(self, name: str, n: int = 1) -> None:
        with self._lock:
            self._counts[name] += n

    def get_count(self, name: str) -> int:
        with self._lock:
            return self._counts.get(name, 0)

    def reset(self) -> None:
        with self._lock:
            self._counts.clear()
            self._t0 = time.time()

    def snapshot(self) -> dict[str, int]:
        with self._lock:
            return dict(self._counts)

    def line(self) -> str:
        snap = self.snapshot()
        uptime = int(time.time() - self._t0)
        fields = " ".join(f"{k}={snap[k]}" for k in sorted(snap))
        return f"STATS uptime_s={uptime} {fields}".rstrip()


class StatsTicker(threading.Thread):
    """Periodic stats line (the reference's 60 s ticker,
    ``nft/bin/crawl.py:72``).  ``writer`` defaults to print; tests inject a
    list collector."""

    def __init__(self, stats: StatsService, interval: float = 60.0, writer=print):
        super().__init__(daemon=True)
        self.stats = stats
        self.interval = interval
        self.writer = writer
        self._stop = threading.Event()

    def run(self) -> None:
        while not self._stop.wait(self.interval):
            self.writer(self.stats.line())

    def stop(self, final_line: bool = True) -> None:
        self._stop.set()
        if final_line:
            self.writer(self.stats.line())
