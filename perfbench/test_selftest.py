"""Self-tests of the benchmark's own logic; they start no JVM.

    python3 -m pytest perfbench/test_selftest.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import numpy as np  # noqa: E402
import pytest  # noqa: E402

import expect  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import sparkstats  # noqa: E402
import summary  # noqa: E402


@pytest.mark.parametrize(
    "n, p", [(1, None), (19, None), (20, 50), (39, 50), (40, 75), (100, 90), (199, 90), (200, 95), (1000, 99)]
)
def test_supported_percentile_needs_ten_samples_beyond(n, p):
    assert summary.supported_percentile(n) == p


def test_timing_reports_median_count_and_supported_percentile():
    xs = [float(v) for v in range(1, 101)]
    t = summary.timing(reversed(xs))
    assert t["median"] == 50.5
    assert t["n"] == 100
    assert t["p90"] == pytest.approx(float(np.percentile(xs, 90)))
    assert set(summary.timing([3.0, 1.0, 2.0])) == {"median", "n"}


def test_percentile_matches_numpy_linear():
    xs = list(np.random.default_rng(0).random(37))
    for p in (50, 75, 90, 95, 99):
        assert summary.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_image_offsets_are_aligned_to_the_defect_period():
    for seed in (0, 1, 7919, 10**6):
        assert inputs.image_offset(seed) % inputs.DEFECT_PERIOD == 0


def test_manifest_over_offset_range_repeats_the_block():
    from oblate_spark.fixtures import expected_defect_counts

    block = expect.image_manifest(0, 1000)
    off = inputs.image_offset(3)
    assert expect.image_manifest(off, 3000) == {k: 3 * v for k, v in block.items()}
    base = expected_defect_counts(1000)
    assert block["unique.duplicate"] == 2 * base["dup_image_id"] + base["hot_phash"] + base["dup_phash"]
    assert block["image.decode_failed"] == base["bad_bytes"] == 5
    assert block["literal.invalid_value"] == block["image.fmt_mismatch"] == base["bad_fmt"]


def test_duplicate_partners_stay_inside_an_aligned_range():
    from oblate_spark.fixtures import dims_for_index, defect_for_index

    off, n = inputs.image_offset(5), 2000
    ids = {f"img_{i:012d}" for i in range(off, off + n)}
    for i in range(off, off + n):
        if defect_for_index(i) == "dup_image_id":
            assert dims_for_index(i, inputs.IMAGE_PX)[0] in ids


def test_row_digest_is_order_free_and_null_aware():
    rows = [("a", 1, None), ("b", 2, "x"), ("a", 1, None)]
    assert expect.digest(rows) == expect.digest(reversed(rows))
    assert expect.digest([("a", None)]) != expect.digest([("a", "")])
    assert expect.digest([])[0] == 0


@pytest.mark.parametrize(
    "text, value",
    [
        ("total (min, med, max (stageId: taskId))\n4.1 s (985 ms, 1.0 s, 1.1 s (stage 0.0: task 3))", 4.1),
        ("total (min, med, max (stageId: taskId))\n3.1 MiB (784.1 KiB, ...)", 3.1 * 2**20),
        ("985 ms", 0.985),
        ("1,234", 1234.0),
        ("2.0 m", 120.0),
    ],
)
def test_sql_metric_values_parse(text, value):
    assert sparkstats.parse_metric(text) == pytest.approx(value)


def test_account_counts_failed_runs_of_a_healthy_process():
    recs = [{"type": "setup", "ok": True}, {"type": "warmup", "ok": True, "run_s": 1.0},
            {"type": "run", "ok": True, "run_s": 1.0}, {"type": "run", "ok": False, "run_s": 1.0}]
    assert summary.account(recs, 10.0, 0) == {"attempted": 4, "failed": 1}


def test_account_charges_the_unmade_runs_of_a_killed_process():
    recs = [{"type": "setup", "ok": True}] + [{"type": "run", "ok": True, "run_s": 2.0}] * 3
    # 6 s of a 10 s window used: the run in flight and one more of 2 s
    assert summary.account(recs, 10.0, -9) == {"attempted": 6, "failed": 2}
    assert summary.account([], 10.0, -9) == {"attempted": 2, "failed": 2}
    assert summary.account([{"type": "setup", "ok": True}], 10.0, 3) == {"attempted": 2, "failed": 1}


_CHILD = """
import json, os, signal, subprocess, sys, time
grandchild = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
with open(sys.argv[2], "w") as f:
    f.write(str(grandchild.pid))
with open(sys.argv[1], "w") as f:
    f.write(json.dumps({"type": "setup", "ok": True, "end": time.time(), "session_start_s": 0.1}) + "\\n")
    for i in range(2):
        f.write(json.dumps({"type": "run", "i": i, "ok": True, "run_s": 1.0, "traced": False}) + "\\n")
    f.write(json.dumps({"type": "run", "i": 2, "ok": True, "run_s": 1.0, "traced": False})[:20])
    f.flush()
    os.kill(os.getpid(), signal.SIGKILL)
"""


def test_killed_process_is_accounted_and_its_tree_stopped(tmp_path):
    out, pid = tmp_path / "records.jsonl", tmp_path / "grandchild.pid"
    code, peak, _ = run.watch([sys.executable, "-c", _CHILD, str(out), str(pid)], dict(os.environ), 30.0)
    grandchild = int(pid.read_text())
    assert code == -9
    assert peak > 0
    assert not os.path.exists(f"/proc/{grandchild}")  # killed and reaped
    recs = run._read_records(str(out))
    assert [r["type"] for r in recs] == ["setup", "run", "run"]
    # two 1 s runs of a 10 s window made: the one in flight and seven more are lost
    # (the cut third record is not a run)
    assert summary.account(recs, 10.0, code) == {"attempted": 11, "failed": 8}


_DAEMON = """
import os, subprocess, sys
# like the PySpark worker daemon: a process group of its own, outliving its parent
daemon = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(1.5)"], process_group=0)
with open(sys.argv[1], "w") as f:
    f.write(str(daemon.pid))
"""


def test_a_clean_exit_waits_for_processes_in_other_groups(tmp_path):
    pid = tmp_path / "daemon.pid"
    t0 = time.monotonic()
    code, _, _ = run.watch([sys.executable, "-c", _DAEMON, str(pid)], dict(os.environ), 30.0)
    assert code == 0
    assert time.monotonic() - t0 >= 1.5  # waited for, not killed
    assert not os.path.exists(f"/proc/{int(pid.read_text())}")


def test_timeout_kills_a_hung_process(tmp_path):
    code, _, _ = run.watch([sys.executable, "-c", "import time; time.sleep(60)"], dict(os.environ), 1.0)
    assert code == -9


def test_bare_directory_exits_nonzero_without_a_result(tmp_path, capsys, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "table", "--seed", "1", "--seconds", "1", "--trace", "0"]) != 0
    assert capsys.readouterr().out == ""


def test_benchmark_json_names_match_the_printed_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert set(run.WORKLOAD_NAMES) <= set(WORKLOADS)
    assert {m["name"] for m in spec["per_layer"]} == set(run.PER_LAYER)
    assert {m["name"] for m in spec["end_to_end"]} == {"setup_s", "rows_per_s", "run_s", "peak_rss_mb"}
    for m in spec["per_layer"]:
        assert m["unit"] == run.unit_of(m["name"])


def test_pss_counts_a_child_sharing_its_parents_address_space_once(monkeypatch):
    procs = {  # pid: (stat, Pss kB); 100 is a JVM, 101 its spawn before the exec, 102 a worker
        100: ("100 (java) S 1 100", 4_000_000),
        101: ("101 (process reaper) R 100 100", 4_000_000),
        102: ("102 (python3) S 100 100", 80_000),
    }

    def fake_open(path, *args, **kwargs):
        import io

        _, _, pid, name = path.split("/")
        stat, pss = procs[int(pid)]
        return io.StringIO(stat if name == "stat" else f"Rss: {pss} kB\nPss: {pss} kB\n")

    monkeypatch.setattr("builtins.open", fake_open)
    monkeypatch.setattr(run, "_same_address_space", lambda a, b: {a, b} == {100, 101})
    assert run._pss_mb([100, 101, 102]) == pytest.approx(4_080_000 / 1024)


def test_a_forked_child_has_its_own_address_space():
    pid = os.fork()
    if pid == 0:
        import time

        time.sleep(5)
        os._exit(0)
    try:
        assert run._same_address_space(os.getpid(), os.getpid())
        assert not run._same_address_space(os.getpid(), pid)
        assert run._pss_mb([os.getpid(), pid]) > 0
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)


def test_rows_count_each_image_once_per_call():
    from workloads import WORKLOADS

    spec = {"images": {"rows": 8000}, "table": {"rows": 200}, "documents": {"rows": 10}}
    assert WORKLOADS["img_files"].rows_in(spec) == WORKLOADS["img_frame"].rows_in(spec) == 8000
    assert WORKLOADS["img"].rows_in(spec) == 16000
    assert WORKLOADS["table_dedup"].rows_in(spec) == 210


def test_documents_follow_the_pool_rules(tmp_path):
    import pyarrow.parquet as pq

    root = inputs.documents(4, str(tmp_path), n_docs=400)
    docs = pq.read_table(f"{root}/documents").to_pylist()
    assert [d["doc_id"] for d in docs] == list(range(400))
    words = [d["text"].split() for d in docs]
    copies = [w for w in words if w[-1] == "dup"]
    assert len(copies) == round(inputs.DUP_SHARE * 400)
    for w in words:
        base = [x for x in w if x != "dup"]
        assert set(base) <= set(inputs.DOC_VOCAB)
        assert inputs.DOC_WORDS[0] <= len(base) < inputs.DOC_WORDS[1]
    assert all(d["n_chars"] == len(d["text"]) and d["source"] == f"src{d['doc_id'] % 20}" for d in docs)
    assert inputs.documents(4, str(tmp_path), n_docs=400) == root  # cached
