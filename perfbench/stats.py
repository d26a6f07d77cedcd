"""Small statistics helpers shared by the runner and its tests."""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them;
    a single value is its own quartiles."""
    if not values:
        raise ValueError("no samples")
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def describe(name: str, values: list[float], unit: str) -> str:
    """One human-readable line: median, quartiles and sample count."""
    q1, med, q3 = quartiles(values)
    return (f"{name}: median {med:.6g} {unit} (q1 {q1:.6g}, q3 {q3:.6g}, "
            f"n={len(values)})")


@dataclass
class Rep:
    """One crawl of a workload: set-up, run, correctness verdict."""

    setup_s: float = 0.0
    run_s: float = 0.0
    cpu_s: float = 0.0
    urls: int = 0  # URLs dequeued and fetched
    errors: int = 0  # of those, URLs that ended with an engine error
    round_s: list = field(default_factory=list)
    ok: bool = False  # finished AND matched the reference digest


def failed_frac(rep: Rep) -> float:
    """URLs that ended with an engine error over all URLs dequeued; a
    crawl that crashed or failed the correctness check counts all its
    URLs as failed."""
    if not rep.urls:
        return 1.0
    return (rep.errors if rep.ok else rep.urls) / rep.urls
