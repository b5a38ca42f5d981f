"""Pure arithmetic behind the benchmark's reported numbers."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def geomean(values) -> float:
    """Geometric mean: every operation weighs the same whatever its size,
    so a 2x gain on a 0.2 s op moves it as much as one on a 2 s op."""
    values = list(values)
    return float(statistics.geometric_mean(values)) if values else 0.0


def failed_ratio(failed: int, attempted: int) -> float:
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


def amplification(numerator_bytes: int, live_bytes: int) -> float:
    """Bytes stored (or written) per byte of the live snapshot."""
    if live_bytes <= 0:
        raise ValueError("live snapshot has no bytes")
    return numerator_bytes / live_bytes


def slot_util(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Share of the executor slots that ran tasks during ``wall_s``."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return executor_run_s / (wall_s * cores)

