"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

Only the corrupted-blob test starts a JVM: one local Spark session (about
a minute).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import engine, host, run, workloads
from perfbench.spans import LAYER_SUM_TOLERANCE, Trace, layer_sum

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_end_to_end_reports_every_metric():
    runs = [{"wall": w, "cpu_s": 2.0 * w, "rss": 1e6 * w + 2e6, "wire": 500}
            for w in (1.0, 2.0, 4.0)]
    got = run.end_to_end([9.0, 1.0, 3.0, 2.0], runs, 2_000_000)
    assert got.keys() == run.END_TO_END.keys()
    assert got["setup_s"] == (2.0, 3)  # the cold first set-up left out
    assert got["run_s"] == (2.0, 3)
    assert got["cpu_s"] == (4.0, 3)
    assert got["peak_nonheap_rss_mb"] == (2.0, 3)
    pages = workloads.WORKLOADS["roundtrip_unique"]
    view = {n: v for n, v, _, _ in run.workload_view(pages, got, runs)}
    assert view == {"pages_per_s": pages.pages / 2.0,
                    "wire_bytes_per_page": 500 / pages.pages}
    queries = workloads.WORKLOADS["driver_queries"]
    assert run.workload_view(queries, got, runs) == [("queries_s", 2.0, "s",
                                                      3)]


def _trace(*children) -> Trace:
    tr = Trace()
    root = tr.add("root", 0.0, 10.0, None)
    for name, start, end in children:
        tr.add(name, start, end, root)
    return tr


def test_self_times_subtract_covered_children():
    tr = _trace(("a", 0.0, 4.0), ("b", 4.0, 10.0))
    b = tr.spans.index(next(s for s in tr.spans if s.name == "b"))
    tr.add("b.stage", 5.0, 9.0, b)
    assert tr.self_time(b) == pytest.approx(2.0)
    assert tr.self_by_name() == pytest.approx(
        {"root": 0.0, "a": 4.0, "b": 2.0, "b.stage": 4.0})


def test_attached_stages_report_their_overlap():
    tr = _trace(("job", 0.0, 10.0))
    overlap = tr.attach(1, [("job.map_stages", -0.001, 4.0),
                            ("job.map_stages", 3.0, 6.0),
                            ("job.reduce_stages", 6.0, 9.5)])
    assert overlap == pytest.approx(1.0)
    assert tr.self_by_name()["job"] == pytest.approx(0.5)


def _synthetic_layers(tr: Trace, executions: dict, plan: dict) -> dict:
    """The layers run.per_layer checks: per call, the planning probe and
    the union of the engine's SQL executions."""
    return {**{f"{c}.plan": v for c, v in plan.items()},
            **{f"{c}.engine": engine.union_s(ex)
               for c, ex in executions.items()}}


def test_layer_sum_holds_when_measured_layers_cover_the_wall():
    tr = _trace(("write", 0.0, 7.0), ("read", 7.0, 10.0))
    layers = _synthetic_layers(
        tr, {"write": [(0.5, 4.0), (3.5, 6.9)], "read": [(7.2, 9.95)]},
        {"write": 0.45, "read": 0.2})
    assert layers["write.engine"] == pytest.approx(6.4)
    res = layer_sum(tr.spans[0].duration, layers)
    assert res["ok"] and abs(res["error"]) < LAYER_SUM_TOLERANCE


def test_layer_sum_breaks_on_unmeasured_time_and_on_double_counting():
    tr = _trace(("write", 0.0, 7.0), ("read", 7.0, 10.0))
    # a second of driver work no layer measured
    gap = layer_sum(10.0, _synthetic_layers(
        tr, {"write": [(0.5, 6.0)], "read": [(7.2, 9.95)]},
        {"write": 0.45, "read": 0.2}))
    assert not gap["ok"] and gap["error"] == pytest.approx(0.11)
    # a planning probe that also timed work the engine layer holds
    long = layer_sum(10.0, _synthetic_layers(
        tr, {"write": [(0.5, 6.9)], "read": [(7.2, 9.95)]},
        {"write": 2.0, "read": 0.2}))
    assert not long["ok"] and long["error"] == pytest.approx(-0.135)


def test_rss_peak_ignores_a_single_sample_spike(monkeypatch):
    samples = iter([100, 5000, 120, 130, 90])
    monkeypatch.setattr(host, "tree_rss_bytes", lambda: next(samples))
    sampler = host.RssSampler()
    for _ in range(5):
        sampler._sample()
    assert sampler.peak == 120


def test_jit_cpu_counts_only_compiler_threads():
    """A thread named as HotSpot names its C2 compiler thread is counted;
    the CPU of the other threads is not."""
    import ctypes
    import threading
    import time

    def burn(seconds):
        t_end = time.thread_time() + seconds
        while time.thread_time() < t_end:
            pass

    libc = ctypes.CDLL(None)
    burned, stop = threading.Event(), threading.Event()

    def compiler():
        libc.prctl(15, b"C2 CompilerThread0")  # PR_SET_NAME
        burn(0.3)
        burned.set()
        stop.wait()  # only live threads are counted

    before = host.tree_jit_cpu_s()
    t = threading.Thread(target=compiler)
    t.start()
    try:
        burned.wait()
        burn(0.3)
        got = host.tree_jit_cpu_s() - before
    finally:
        stop.set()
        t.join()
    assert got == pytest.approx(0.3, abs=0.05)


def test_metric_display_strings_parse_back():
    assert engine._parse_metric("5,000", "sum") == 5000
    assert engine._parse_metric("569.0 KiB", "size") == 569 * 1024
    assert engine._parse_metric(
        "total (min, med, max (stageId: taskId))\n102 ms (17 ms, 30 ms, "
        "32 ms (stage 3.0: task 12))", "nsTiming") == 102e6
    assert engine._parse_metric("3.5 s", "timing") == 3500


def test_seed_picks_a_doc_id_window():
    assert workloads.doc_id_window(0, 100) == (0, 100)
    assert workloads.doc_id_window(3, 100) == (300, 400)
    lo, hi = workloads.doc_id_window(workloads.SEED_WINDOWS + 3, 100)
    assert (lo, hi) == (300, 400)


def test_query_tables_match_their_checksums(tmp_path):
    workloads.verify_tables()
    copy = tmp_path / "sf"
    shutil.copytree(workloads.SF_DIR, copy)
    with open(copy / "region.parquet", "r+b") as f:
        f.seek(100)
        byte = f.read(1)
        f.seek(100)
        f.write(bytes([byte[0] ^ 0xFF]))
    with pytest.raises(RuntimeError, match="region.parquet"):
        workloads.verify_tables(str(copy))


def test_queries_check_flags_a_wrong_value():
    runner = workloads.make_runner(workloads.WORKLOADS["driver_queries"],
                                   seed=1, workdir="unused")
    frame = pd.DataFrame({"k": [2, 1], "v": [0.5, 1.25]})
    runner.oracle = {q: workloads.normalize(frame) for q in run.QUERIES}
    out = {q: frame.copy() for q in run.QUERIES}
    assert runner.check(out, None) == ([], None)
    out["dedup_minhash_lsh"].loc[0, "v"] = 0.75
    out["tpch_q1"] = frame.iloc[:1]
    problems, _ = runner.check(out, None)
    assert [p.split(":")[0] for p in problems] == ["tpch_q1",
                                                   "dedup_minhash_lsh"]


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "roundtrip_unique",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode == 2 and p.stdout == ""


def _flip_one_blob_byte(sink: str) -> None:
    """Flip the middle byte of the largest blob in the sink, in place.

    The file's Hadoop checksum goes too, so the damage reaches the
    receiver's decoder instead of failing the file read."""
    files = [os.path.join(d, f)
             for d, _, fs in os.walk(os.path.join(sink, "routed"))
             for f in fs if f.endswith(".parquet")]
    target = max(files, key=os.path.getsize)
    # the file alone: read_table would add the path's partition columns
    table = pq.ParquetFile(target).read()
    blobs = table.column("blob").to_pylist()
    i = max(range(len(blobs)), key=lambda k: len(blobs[k]))
    b = bytearray(blobs[i])
    b[len(b) // 2] ^= 0xFF
    blobs[i] = bytes(b)
    col = table.schema.get_field_index("blob")
    pq.write_table(table.set_column(col, table.schema.field(col), [blobs]),
                   target)
    d, f = os.path.split(target)
    os.remove(os.path.join(d, f".{f}.crc"))


def test_flipped_sink_byte_fails_receive(tmp_path, monkeypatch):
    from bench import StallMonitor

    w = workloads.Workload("roundtrip_small", "roundtrip", 2_000, warmups=1)
    workdir = str(tmp_path / "work")
    workloads.prepare_env(workdir, ROOT)
    runner = workloads.make_runner(w, seed=1, workdir=workdir)
    try:
        runner.setup_once()
        runner.warm_up()
        clean = run.measure(runner, 0, StallMonitor())
        assert [r["problems"] for r in clean] == [[]] * run.MIN_RUNS
        # from here each run receives the last export's sink, damaged
        rows = runner.export()
        monkeypatch.setattr(runner, "export", lambda: rows)
        monkeypatch.setattr(runner, "discard_output", lambda: None)
        _flip_one_blob_byte(runner.sink)
        runs = run.measure(runner, 0, StallMonitor())
    finally:
        runner.close()
    failed = sum(1 for r in runs if r["problems"])
    assert failed / len(runs) > 0
