"""Summary math and failure accounting for one workload's records."""

from __future__ import annotations

import math
import statistics

PERCENTILES = (99, 95, 90, 75, 50)
TAIL_SAMPLES = 10  # a percentile is reported only with this many samples beyond it


def supported_percentile(n: int) -> int | None:
    """Highest of ``PERCENTILES`` with at least ``TAIL_SAMPLES`` of ``n``
    samples beyond it; None when even the median lacks them."""
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= TAIL_SAMPLES:
            return p
    return None


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def timing(values) -> dict:
    """Median, sample count and the highest supported percentile."""
    xs = list(values)
    out = {"median": statistics.median(xs), "n": len(xs)}
    p = supported_percentile(len(xs))
    if p is not None and p != 50:
        out[f"p{p}"] = percentile(xs, p)
    return out


def account(records: list[dict], seconds: float, exit_code: int | None) -> dict:
    """Attempted and failed runs of one measuring process.

    ``records`` are the worker's records of one process in order. A run
    fails on an exception or a wrong output. When the process ended
    abnormally (killed, or the JVM lost), the runs it could not make are
    failed too: as many runs of the median completed length as would
    have started in the rest of the ``seconds`` window, the one in flight
    included, and at least that one.
    """
    runs = [r for r in records if r["type"] in ("setup", "warmup", "run")]
    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"])
    if exit_code != 0:
        done = [r["run_s"] for r in runs if r["type"] == "run"]
        if not done:
            set_up = any(r["type"] == "setup" for r in runs)
            lost = (0 if set_up else 1) + (1 if seconds > 0 else 0)
        else:
            left = max(seconds - sum(done), 0.0)
            lost = max(1, math.ceil(left / statistics.median(done)))
        attempted += lost
        failed += lost
    return {"attempted": attempted, "failed": failed}
