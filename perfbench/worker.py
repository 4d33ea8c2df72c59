"""One workload in one fresh process and JVM.

Started by ``run.py``; appends one JSON record per line to ``--out`` and
flushes after each, so the records written before a crash or a kill
survive it:

- ``setup``: ``get_spark()`` wall time and the end of the first, untimed
  run (``setup_s`` is measured from the parent's spawn time to it);
- ``warmup``: a second untimed run, which takes the slowest of the JIT
  warm-up out of the window (the first run after set-up was still up to
  40 % slower than the ones after it);
- ``run``: one steady run, its wall time, whether its output matched the
  expectation, and, for a traced run, its per-layer numbers.

Steady runs form a closed loop with one client: the next run starts when
the previous one ends, until ``--seconds`` have passed. With ``--trace
1`` runs alternate untraced and traced in the order U T T U (repeated),
so the process measures its own tracing overhead without favouring
either side as the JVM warms up.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from workloads import WORKLOADS, Tracer

class JvmLost(Exception):
    """The Spark JVM is gone; no further run can succeed."""


def _jvm_lost(exc: BaseException) -> bool:
    from py4j.protocol import Py4JNetworkError

    return isinstance(exc, (Py4JNetworkError, ConnectionError, EOFError))


def one_run(workload, tracer: Tracer) -> dict:
    t0 = time.perf_counter()
    try:
        bad = workload.run(tracer)
    except Exception as exc:  # a failed run is recorded, the loop goes on
        if _jvm_lost(exc):
            raise JvmLost() from exc
        return {"run_s": time.perf_counter() - t0, "ok": False,
                "bad": [traceback.format_exc(limit=3)[-2000:]]}
    layers = None
    if tracer.enabled:
        got = tracer.harvest()
        layers = {**tracer.spans, **tracer.counts}
        layers.update({k: v for k, v in got.items() if "/" not in k})
        layers["dedup.clusters_jobs"] = sum(
            v for k, v in got.items() if k.endswith("/dedup.clusters_s.jobs"))
    # the traced run's time includes reading the counters: that is the
    # cost tracing adds
    return {"run_s": time.perf_counter() - t0, "ok": not bad, "bad": bad[:5], "layers": layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--spec", required=True, help="JSON: input family -> root and expectation")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    with open(args.spec) as f:
        spec = json.load(f)
    out = open(args.out, "a", buffering=1)

    def emit(rec: dict) -> None:
        out.write(json.dumps(rec) + "\n")

    from oblate_spark.session import get_spark
    from sparkstats import SparkCounters

    t0 = time.perf_counter()
    spark = get_spark()
    session_s = time.perf_counter() - t0
    counters = SparkCounters(spark) if args.trace else None
    wl = WORKLOADS[args.workload](spark, spec)
    try:
        first = one_run(wl, Tracer(spark, counters, "setup"))
        emit({"type": "setup", "end": time.time(), "session_start_s": session_s, **first})
        emit({"type": "warmup", **one_run(wl, Tracer(spark, None, "warmup"))})
        start = time.perf_counter()
        i = 0
        # a traced process makes at least one untraced and one traced run
        while time.perf_counter() - start < args.seconds or (args.trace and i < 2):
            traced = bool(args.trace) and i % 4 in (1, 2)
            rec = one_run(wl, Tracer(spark, counters if traced else None, f"run{i}"))
            emit({"type": "run", "i": i, "traced": traced, **rec})
            i += 1
    except JvmLost:
        emit({"type": "lost", "end": time.time()})
        return 3
    finally:
        out.close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
