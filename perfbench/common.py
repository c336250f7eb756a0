"""Result record and statistics shared by the workloads."""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, ``q`` in 0..100."""
    if not values:
        return 0.0
    s = sorted(values)
    k = -(-q * len(s) // 100)  # ceil
    return s[max(0, min(len(s) - 1, int(k) - 1))]


@dataclass
class Result:
    """One run's outcome. ``metrics`` maps name -> (value, unit)."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    notes: dict[str, float] = field(default_factory=dict)

    def fail(self, message: str) -> None:
        self.failed += 1
        self.problems.append(message)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0

    def record(self) -> dict:
        return {
            "correct": self.correct,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in self.metrics.items()
            },
        }

    def summary(self, workload: str) -> str:
        """Human-readable line printed before the result record: the
        error rate, the problems found and workload notes such as
        storage amplification."""
        rate = self.failed / self.attempted if self.attempted else 1.0
        return "perfbench " + json.dumps(
            {"workload": workload, "error_rate": rate,
             "problems": self.problems[:10], **self.notes},
            sort_keys=True,
        )


def timing_metrics(result: Result, setup_s: float, latencies: list[float],
                   ops_per_s: float) -> None:
    """The end-to-end metrics every workload reports."""
    result.metrics["setup_s"] = (setup_s, "s")
    result.metrics["ops_per_s"] = (ops_per_s, "1/s")
    result.metrics["latency_p50_s"] = (percentile(latencies, 50), "s")
    result.notes["timed_ops"] = len(latencies)
    # printed only, and only with ten or more ops beyond it, which not
    # every workload times
    if len(latencies) >= 100:
        result.notes["latency_p90_s"] = percentile(latencies, 90)
