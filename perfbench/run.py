"""Benchmark of record for oblate_spark on one host.

    python3 perfbench/run.py --workload {img_files,img_frame,img,table,dedup,table_dedup,all}
                             --seed N --seconds S --trace {0,1}

Run from the root of a checkout. For each workload the inputs are made
from ``--seed`` (cached on disk, outside every timing), then a fresh
process with a fresh JVM sets up Spark with the program's defaults at
``local[<cores>]``, makes two untimed runs (set-up, warm-up) and then
runs the workload in a closed loop with one client for ``--seconds``.
Every run's output is checked against the expectation from
``expect.py``. Resident memory of each process tree is sampled while it
runs.

With ``--trace 0`` the last line of standard output is a JSON object with
the end-to-end metrics; with ``--trace 1`` it holds the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

from workloads import WORKLOADS  # imports pyspark; starts no JVM

HERE = os.path.dirname(os.path.abspath(__file__))

DEFAULT_SEED = 1
RUN_TIMEOUT_S = 120.0  # beyond --seconds, before a measuring process is killed
# reading smaps_rollup of the JVM's 12 g heap takes ~75 ms on a 4-core
# host: one sample a second costs the measured process ~2 % of the host
SAMPLE_EVERY_S = 1.0
#: the workloads of ``--workload all``; ``img`` and ``table_dedup`` each run two
#: of them in one JVM
WORKLOAD_NAMES = ("img_files", "img_frame", "table", "dedup")

PER_LAYER = (
    "session.start_s", "python.start_s", "compiler.validate_call_s", "driver.plan_s",
    "driver.jobs", "driver.stages", "driver.tasks",
    "codecs.decode_us", "codecs.detect_us", "codecs.phash_us",
    "python.run_s", "arrow.to_python_mb", "arrow.from_python_mb", "images.decode_failed",
    "images.files_s", "images.frame_s",
    "stats.profile_s", "stats.unique_s", "stats.referential_s", "drift.psi_ks_s", "drift.tdigest_s",
    "dedup.lsh_s", "dedup.verify_s", "dedup.clusters_s", "dedup.canonical_s",
    "dedup.clusters_jobs", "dedup.candidates", "dedup.pairs_kept", "dedup.kept_ratio",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.peak_mem_mb", "exec.spill_mb",
    "scan.input_mb", "scan.rows", "scan.time_s",
    "shuffle.write_mb", "shuffle.write_s", "shuffle.fetch_wait_s", "trace.overhead_s",
)
UNITS = {"_s": "s", "_us": "us", "_mb": "MB", "_ratio": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _checkout_ok(root: str) -> bool:
    return all(
        os.path.exists(os.path.join(root, p))
        for p in ("oblate_spark/session.py", "oblate_spark/fixtures.py", "__spark_entry__.py")
    )


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make this process the parent of each orphaned descendant. The
    PySpark worker daemon moves itself and its workers into a process
    group of their own and can outlive the JVM that started it; as
    orphans they stay in this process's tree, where they are found,
    stopped and reaped."""
    import ctypes

    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _descendants() -> list[int]:
    """Every process below this one, zombies included: a JVM whose main
    thread has exited shows as a zombie while its other threads still
    free its memory, and it has ended only when it is reaped."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        children.setdefault(int(stat[stat.rindex(")") + 2:].split()[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _reap() -> None:
    """Collect the exit status of every ended child of this process."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _kill(pids) -> None:
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def stop_descendants(grace_s: float) -> None:
    """Wait for every process this one started, and every process those
    started, to end; kill what outlives ``grace_s`` and reap them all.
    Call it only when no ``Popen`` of this process is still unwaited."""
    deadline = time.monotonic() + grace_s
    while True:
        _reap()
        left = _descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            _kill(left)
        time.sleep(0.05)


_KCMP = {"x86_64": 312, "aarch64": 272}.get(os.uname().machine)  # kcmp(2) syscall number
_KCMP_VM = 1


def _same_address_space(a: int, b: int) -> bool:
    """Whether processes ``a`` and ``b`` share one address space, as a
    child does between the JVM's vfork-style spawn and its exec (its
    ``smaps_rollup`` is then its parent's). False when the kernel cannot
    tell."""
    if _KCMP is None:
        return False
    import ctypes

    return ctypes.CDLL(None).syscall(_KCMP, a, b, _KCMP_VM, 0, 0) == 0


def _pss_mb(pids) -> float:
    """Summed proportional set size (``Pss`` of ``smaps_rollup``) of
    ``pids``: a page shared by several processes, such as a forked Python
    worker's copy-on-write pages, is split between them. A child that
    shares its parent's address space has the parent's Pss and is counted
    once."""
    procs = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
        except (FileNotFoundError, ProcessLookupError, StopIteration):
            continue
        procs[pid] = (int(stat[stat.rindex(")") + 2:].split()[1]), pss)  # (ppid, kB)
    return sum(
        pss for pid, (ppid, pss) in procs.items()
        if not (ppid in procs and _same_address_space(pid, ppid))
    ) / 1024.0


def watch(cmd: list[str], env: dict, timeout_s: float) -> tuple[int, float, float]:
    """Run ``cmd`` and sample the memory of every process below this one
    (Python driver, JVM, PySpark daemon and workers). Returns (exit code,
    peak summed Pss in MB, spawn wall time). If ``cmd`` is still running
    after ``timeout_s``, it and everything it started are killed (exit
    code -9). Returns only when every process it started has ended."""
    _become_subreaper()
    spawned = time.time()
    proc = subprocess.Popen(cmd, env=env, start_new_session=True)
    peak = 0.0
    deadline = time.monotonic() + timeout_s
    try:
        while proc.poll() is None:
            peak = max(peak, _pss_mb(_descendants()))
            if time.monotonic() > deadline:
                _kill(_descendants())
            try:
                proc.wait(SAMPLE_EVERY_S)
            except subprocess.TimeoutExpired:
                pass
    finally:
        if proc.poll() is None:
            _kill(_descendants())
        proc.wait()
        # after a clean exit the JVM and the Python workers wind down on
        # their own; after a crash or kill nothing left is worth waiting for
        stop_descendants(grace_s=30.0 if proc.returncode == 0 else 0.0)
    return proc.returncode, peak, spawned


def _read_records(path: str) -> list[dict]:
    recs = []
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                try:
                    recs.append(json.loads(line))
                except json.JSONDecodeError:  # a line cut by a kill
                    break
        os.remove(path)
    return recs


def codec_timings(seed: int, n: int = 200, repeats: int = 5) -> dict:
    """Per-image time of the public codec functions over a seeded sample
    of the seed's image rows, in process, without Spark."""
    import numpy as np

    from inputs import IMAGE_PX, N_IMAGES, image_offset
    from oblate_spark.fixtures import defect_for_index, make_row
    from oblate_spark.functions import codecs

    rng = np.random.default_rng([seed, 5])
    idx = [int(i) for i in image_offset(seed) + rng.choice(N_IMAGES, n, replace=False)]
    payloads = [bytes(make_row(i, IMAGE_PX)["bytes"]) for i in idx if defect_for_index(i) != "bad_bytes"]
    pixels = [codecs.decode_image(p) for p in payloads]

    def per_item_us(fn, items) -> float:
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            for it in items:
                fn(it)
            times.append((time.perf_counter() - t0) / len(items) * 1e6)
        return statistics.median(times)

    return {
        "codecs.decode_us": per_item_us(codecs.decode_image, payloads),
        "codecs.detect_us": per_item_us(codecs.detect_format, payloads),
        "codecs.phash_us": per_item_us(codecs.phash64, pixels),
    }


def measure(name: str, seed: int, seconds: float, trace: int) -> dict:
    """Inputs, expectation and the measuring process of one workload;
    returns its summary."""
    import expect
    import inputs
    from summary import account, timing

    cwd = os.getcwd()
    tmp = os.path.abspath(os.path.join(inputs.CACHE_DIR, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(inputs.CACHE_DIR, "spark-local"))
    env["PYTHONPATH"] = os.pathsep.join([cwd] + [p for p in [env.get("PYTHONPATH")] if p])
    # temporary files stay inside the checkout: Python's and the JVM's
    # (java.io.tmpdir; the perf-data file has no other location, so it is off)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env.pop("OBLATE_SPARK_DRIVER_MEM", None)

    spec = {}
    for family in WORKLOADS[name].families:
        root = getattr(inputs, family)(seed)
        # the oracle runs in a process of its own, so DuckDB's memory is
        # returned before the JVM starts
        got = subprocess.run([sys.executable, os.path.join(HERE, "expect.py"), family, root, str(seed)],
                             env=env, stdout=subprocess.PIPE, check=True, text=True)
        spec[family] = {"root": root, **json.loads(got.stdout.splitlines()[-1])}
    rows = WORKLOADS[name].rows_in(spec)
    run_dir = os.path.join(inputs.CACHE_DIR, "runs")
    os.makedirs(run_dir, exist_ok=True)
    spec_path = os.path.join(run_dir, f"{os.getpid()}-{name}-spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)

    out = os.path.join(run_dir, f"{os.getpid()}-{name}.jsonl")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", name,
           "--spec", spec_path, "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    code, peak, spawned = watch(cmd, env, seconds + RUN_TIMEOUT_S)
    recs = _read_records(out)
    os.remove(spec_path)

    errors = [] if code == 0 else [f"measuring process ended with code {code}"]
    errors += [b for r in recs if r["type"] != "lost" and not r["ok"] for b in r["bad"]]
    res = {"workload": name, "seed": seed, "rows": rows, "peak_rss_mb": peak,
           **account(recs, seconds, code), "errors": errors[:10]}
    setup = next((r for r in recs if r["type"] == "setup"), None)
    runs = [r for r in recs if r["type"] == "run"]
    ok_plain = [r["run_s"] for r in runs if r["ok"] and not r["traced"]]
    if setup is not None:
        res["setup"] = timing([setup["end"] - spawned])
    if ok_plain:
        res["run"] = timing(ok_plain)
    if trace:
        res["layers"] = _layers(setup, runs, ok_plain, seed)
    return res


def _layers(setup: dict | None, runs: list[dict], plain: list[float], seed: int) -> dict:
    traced = [r for r in runs if r["traced"] and r["ok"] and r["layers"]]
    out = {m: 0.0 for m in PER_LAYER}
    for m in PER_LAYER:
        vals = [r["layers"][m] for r in traced if m in r["layers"]]
        if vals:
            out[m] = statistics.median(vals)
    if setup is not None:
        # Python workers start in the first run; later runs reuse them
        out["python.start_s"] = (setup.get("layers") or {}).get("python.start_s", 0.0)
        out["session.start_s"] = setup["session_start_s"]
    ratios = [r["layers"]["dedup.pairs_kept"] / r["layers"]["dedup.candidates"]
              for r in traced if r["layers"].get("dedup.candidates")]
    out["dedup.kept_ratio"] = statistics.median(ratios) if ratios else 0.0
    if traced and plain:
        out["trace.overhead_s"] = (
            statistics.median(r["run_s"] for r in traced) - statistics.median(plain))
    out.update(codec_timings(seed))
    return out


def end_to_end(res: dict) -> dict:
    """The end-to-end metrics of one workload summary."""
    m = {"peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"}}
    if "setup" in res:
        m["setup_s"] = {"value": res["setup"]["median"], "unit": "s", "n": res["setup"]["n"]}
    if "run" in res:
        run = res["run"]
        m["run_s"] = {"value": run["median"], "unit": "s", "n": run["n"],
                      **{k: v for k, v in run.items() if k.startswith("p")}}
        m["rows_per_s"] = {"value": res["rows"] / run["median"], "unit": "rows/s", "n": run["n"]}
    return m


def _line(res: dict, trace: int) -> str:
    if trace:
        body = "  ".join(f"{k}={v:.6g}" for k, v in res.get("layers", {}).items())
    else:
        body = "  ".join(
            f"{k}={v['value']:.6g} {v['unit']}"
            + "".join(f" {p}={x:.6g}" for p, x in v.items() if p.startswith("p"))
            + (f" (n={v['n']})" if "n" in v else "")
            for k, v in end_to_end(res).items()
        )
    frac = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    return (f"{res['workload']:<10} seed={res['seed']} rows={res['rows']}  {body}  "
            f"ops_failed_frac={frac:.4g} ratio ({res['failed']}/{res['attempted']})")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not _checkout_ok(root):
        print("perfbench: run from the root of an oblate_spark checkout "
              "(oblate_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    results = []
    try:
        for name in names:
            res = measure(name, args.seed, args.seconds, args.trace)
            for err in res["errors"]:
                print(f"{name}: {err}", file=sys.stderr)
            print(_line(res, args.trace), flush=True)
            results.append(res)
    finally:
        stop_descendants(grace_s=0.0)

    def metrics_of(res: dict) -> dict:
        if args.trace:
            return {k: {"value": v, "unit": unit_of(k)} for k, v in res.get("layers", {}).items()}
        return {k: {"value": v["value"], "unit": v["unit"]} for k, v in end_to_end(res).items()}

    if len(results) == 1:
        metrics = metrics_of(results[0])
    else:
        metrics = {f"{r['workload']}.{k}": v for r in results for k, v in metrics_of(r).items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
