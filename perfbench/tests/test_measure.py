"""Unit tests of the perfbench measurement helpers (no Spark needed).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import eventlog, measure  # noqa: E402

_BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


# ------------------------------------------------------------ process-tree CPU
def test_proc_tree_cpu_counts_live_and_reaped_children():
    cpu = measure.ProcTreeCpu()
    c0 = cpu.seconds()
    # a reaped child: its CPU moves into our cutime
    subprocess.run([sys.executable, "-c", _BURN.format(s=0.3)], check=True)
    # a live grandchild (child's child): only visible through the tree walk
    code = ("import subprocess, sys\n"
            f"p = subprocess.Popen([sys.executable, '-c', {_BURN.format(s=0.3)!r} + "
            "'import time; time.sleep(30)'])\n"
            "print(p.pid, flush=True)\n"
            "p.wait()\n")
    mid = subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)
    try:
        grandchild = int(mid.stdout.readline())
        time.sleep(0.6)  # let the grandchild finish burning
        used = cpu.seconds() - c0
        assert used >= 0.55, used
        # killing the grandchild and reaping everything loses nothing
        os.kill(grandchild, 9)
        mid.wait(timeout=10)
        assert cpu.seconds() - c0 >= used - 0.02
    finally:
        mid.kill()
        mid.wait(timeout=10)


def test_proc_tree_cpu_does_not_double_count_a_reaped_chain():
    cpu = measure.ProcTreeCpu()
    c0 = cpu.seconds()
    code = ("import subprocess, sys\n"
            f"subprocess.run([sys.executable, '-c', {_BURN.format(s=0.3)!r}], check=True)\n")
    subprocess.run([sys.executable, "-c", code], check=True)
    used = cpu.seconds() - c0
    assert 0.28 <= used <= 0.9, used


# ------------------------------------------------------------ retained heap
def test_retained_heap_waits_for_two_agreeing_readings():
    readings = iter([246e6, 90e6, 83.70e6, 83.72e6, 10e6])
    gcs = []
    mb, rounds = measure.retained_heap(lambda: gcs.append(1), lambda: next(readings),
                                       sleep=lambda s: None)
    assert rounds == 4 and len(gcs) == 4
    assert mb == pytest.approx(83.72)


def test_retained_heap_pauses_after_each_gc_for_async_cleanup():
    # a cleaner thread frees 135 MB some time after the first collection:
    # read at once, two readings agree on the uncleaned heap
    clock = [0.0]
    gcs = []

    def used():
        return 76e6 if gcs and clock[0] - gcs[0] >= 0.3 else 211e6

    mb, _ = measure.retained_heap(lambda: gcs.append(clock[0]), used, sleep=lambda s: None)
    assert mb == pytest.approx(211)
    gcs.clear()
    mb, rounds = measure.retained_heap(lambda: gcs.append(clock[0]), used,
                                       sleep=lambda s: clock.__setitem__(0, clock[0] + s))
    assert mb == pytest.approx(76) and rounds == 2


def test_retained_heap_raises_when_readings_never_settle():
    vals = iter(range(1, 100))
    with pytest.raises(RuntimeError):
        measure.retained_heap(lambda: None, lambda: next(vals) * 10e6, max_rounds=5,
                              sleep=lambda s: None)


# ------------------------------------------------------------ tail percentile
def test_tail_percentile_needs_ten_samples_beyond():
    assert measure.tail_percentile(range(10)) is None
    pct, val, n = measure.tail_percentile(range(11))
    assert (val, n) == (0, 11) and pct == pytest.approx(100 / 11)
    pct, val, n = measure.tail_percentile([float(x) for x in range(100)])
    assert val == 89.0 and pct == 90.0 and n == 100
    # exactly ten samples lie beyond the reported value
    xs = list(range(37))
    _, val, _ = measure.tail_percentile(xs)
    assert sum(1 for x in xs if x > val) == 10


# ------------------------------------------------------------ span self time
def test_self_time_subtracts_union_of_children():
    # overlapping children (engine threads) are counted once; parts outside
    # the parent are clipped
    assert measure.self_time(0, 10, []) == 10
    assert measure.self_time(0, 10, [(1, 3), (2, 5)]) == pytest.approx(6)
    assert measure.self_time(0, 10, [(-2, 1), (9, 12), (4, 4)]) == pytest.approx(8)


def test_tracer_spans_nest_and_self_times_partition_the_root():
    seen = []
    tr = measure.Tracer(True, on_enter=lambda s: seen.append(("in", s.name)),
                        on_exit=lambda s, p: seen.append(("out", s.name, p and p.name)))
    with tr.span("batch", request=7):
        time.sleep(0.02)
        with tr.span("read", request=7):
            time.sleep(0.03)
        with tr.span("apply", request=7):
            time.sleep(0.05)
    spans = tr.spans
    assert [s.name for s in spans] == ["batch", "read", "apply"]
    assert spans[1].parent == spans[0].sid and spans[2].parent == spans[0].sid
    assert all(s.request == 7 for s in spans)
    st = measure.self_times(spans)
    assert sum(st.values()) == pytest.approx(spans[0].dur)
    assert st[spans[0].sid] == pytest.approx(0.02, abs=0.015)
    assert seen[-1] == ("out", "batch", None) and ("out", "read", "batch") in seen


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(False, on_enter=lambda s: 1 / 0)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_paired_ratio_cancels_which_lane_goes_first():
    from perfbench.layers import paired_ratio

    # the lane that goes first pays 20%; it alternates, starting with num
    num = [1.2, 1.0, 1.2, 1.0, 1.2]
    den = [1.0, 1.2, 1.0, 1.2, 1.0]
    assert paired_ratio(num, den) == pytest.approx(1.0)  # odd last batch left out


# ------------------------------------------------------------ event log
def _ev(**kw):
    return json.dumps(kw) + "\n"


def test_eventlog_attributes_jobs_by_group_then_window(tmp_path):
    log = tmp_path / "app-1"
    log.write_text(
        _ev(**{"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
               "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id":
                                                   eventlog.GROUP_PREFIX + "1"}})
        + _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                 "Task End Reason": {"Reason": "Success"}, "Task Info": {"Failed": False},
                 "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 10,
                                  "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})
        + _ev(**{"Event": "SparkListenerTaskEnd", "Stage ID": 0,
                 "Task End Reason": {"Reason": "ExceptionFailure"},
                 "Task Info": {"Failed": True}, "Task Metrics": {}})
        + _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500})
        # no group (an engine thread): goes to the innermost open span
        + _ev(**{"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2100,
                 "Stage IDs": [2], "Properties": {}})
        + _ev(**{"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2300})
    )
    spans = [measure.Span(0, "batch", 0.5, 3.0, None), measure.Span(1, "apply", 0.9, 1.8, 0),
             measure.Span(2, "compact", 2.0, 2.9, 0)]
    jobs, stages = eventlog.parse(eventlog.find_log(str(tmp_path)))
    by = eventlog.attribute(jobs, spans)
    assert [j.jid for j in by[1]] == [0] and [j.jid for j in by[2]] == [1]
    tot = eventlog.job_totals(by[1], stages)
    assert tot["jobs"] == 1 and tot["stages"] == 1  # stage 1 never ran a task
    assert tot["tasks"] == 2 and tot["failed_tasks"] == 1
    assert tot["cpu_s"] == pytest.approx(2.0) and tot["shuffle_write_bytes"] == 100
    assert eventlog.covered_s(0.9, 1.8, by[1]) == pytest.approx(0.5)


# ------------------------------------------------------------ inputs
def test_inputs_match_the_engine_generator_payload():
    from game_library_enrichment_etl_spark import datagen

    from perfbench import inputs

    ours = inputs.events(3000, 500, seed=5)
    ref = datagen.gen_change_events(3000, 500, seed=5)
    assert list(ours.columns) == list(ref.columns)

    def html_bytes(df):
        return df["html"].dropna().map(len).mean()

    assert html_bytes(ours) == pytest.approx(html_bytes(ref), rel=0.03)
    assert (ours["op"] == "D").mean() == pytest.approx((ref["op"] == "D").mean(), abs=0.02)
    langs = ours["lang"].dropna().value_counts(normalize=True)
    assert len(langs) == len(datagen.LANGS) and langs.max() < 2 / len(datagen.LANGS)


# ------------------------------------------------------------ BENCHMARK.json
def test_benchmark_json_lists_the_reported_metrics():
    import re

    from perfbench.layers import PER_LAYER

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["per_layer"]] == list(PER_LAYER)
    assert all(m["unit"] == PER_LAYER[m["name"]] for m in bench["per_layer"])
    names = [m["name"] for key in ("end_to_end", "per_layer", "workloads")
             for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values()) <= 0.25
