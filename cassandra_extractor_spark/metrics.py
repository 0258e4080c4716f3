"""Metrics registry + Prometheus text exposition (reference M1:
``metrics.py:5-35``, ``management.py:36-54``).

The reference tracks processed/ignored/total counters and fetch/task/
write latency histograms per extractor.  Here the control plane feeds
the registry (``actuator.py``): ``creates_total``,
``config_reloads_total`` and ``extractions_total`` counters, and each
job run's wall time as the ``extract_seconds`` summary.  It renders in
Prometheus exposition format without external deps.  Per-sink rows and
latencies, micro-batch progress and state are not fed yet (ROADMAP
Direction 8).
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class MetricsRegistry:
    """Thread-safe counter/gauge/histogram registry."""

    namespace: str = "cassandra_extractor_spark"
    _counters: dict[tuple[str, tuple], float] = field(default_factory=lambda: defaultdict(float))
    _gauges: dict[tuple[str, tuple], float] = field(default_factory=dict)
    #: per summary series, its running (count, sum): all the exposition
    #: reads, in memory that does not grow with the observations
    _histograms: dict[tuple[str, tuple], tuple[int, float]] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @staticmethod
    def _key(name: str, labels: dict[str, str] | None) -> tuple[str, tuple]:
        return name, tuple(sorted((labels or {}).items()))

    def inc(self, name: str, value: float = 1.0, **labels: str) -> None:
        with self._lock:
            self._counters[self._key(name, labels)] += value

    def set_gauge(self, name: str, value: float, **labels: str) -> None:
        with self._lock:
            self._gauges[self._key(name, labels)] = value

    def observe(self, name: str, value: float, **labels: str) -> None:
        with self._lock:
            key = self._key(name, labels)
            count, total = self._histograms.get(key, (0, 0))
            self._histograms[key] = count + 1, total + value

    def time(self, name: str, **labels: str):
        """Context manager recording elapsed seconds into a histogram."""
        registry = self

        class _Timer:
            def __enter__(self):
                self.t0 = time.time()
                return self

            def __exit__(self, *exc):
                registry.observe(name, time.time() - self.t0, **labels)
                return False

        return _Timer()

    @staticmethod
    def _fmt_labels(labels: tuple) -> str:
        if not labels:
            return ""
        return "{" + ",".join(f'{k}="{v}"' for k, v in labels) + "}"

    def exposition(self) -> str:
        """Prometheus text format (the reference's GET /metrics body)."""
        lines: list[str] = []
        with self._lock:
            for (name, labels), v in sorted(self._counters.items()):
                lines.append(f"# TYPE {self.namespace}_{name} counter")
                lines.append(f"{self.namespace}_{name}{self._fmt_labels(labels)} {v}")
            for (name, labels), v in sorted(self._gauges.items()):
                lines.append(f"# TYPE {self.namespace}_{name} gauge")
                lines.append(f"{self.namespace}_{name}{self._fmt_labels(labels)} {v}")
            for (name, labels), (count, total) in sorted(self._histograms.items()):
                lines.append(f"# TYPE {self.namespace}_{name} summary")
                lab = self._fmt_labels(labels)
                lines.append(f"{self.namespace}_{name}_count{lab} {count}")
                lines.append(f"{self.namespace}_{name}_sum{lab} {total}")
        return "\n".join(lines) + "\n"
