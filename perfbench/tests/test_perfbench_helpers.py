"""Spark-free tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import random
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from checks import (HostSpeed, close_ranks, multiset_digest,  # noqa: E402
                    same_rows, tree_cpu_s)
from tracing import Tracer, self_time  # noqa: E402


def _job_start(jid, submit, stages, group=None, desc=None):
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if desc is not None:
        props["spark.job.description"] = desc
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": submit, "Stage IDs": stages,
            "Properties": props}


def _task_end(stage, run_ms, cpu_ns=0, gc_ms=0, shuffle=0, spill=0, out=0,
              busy_ms=None):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": 100,
                          "Finish Time": 100 + (busy_ms if busy_ms is not None
                                                else run_ms)},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Output Metrics": {"Bytes Written": out}}}


def _log(events):
    return [json.dumps(e) + "\n" for e in events]


def test_fold_sums_tasks_per_stage_and_reads_job_properties():
    jobs, stages = eventlog.fold(_log([
        {"Event": "SparkListenerApplicationStart"},
        _job_start(0, 1000, [0, 1], group="p1"),
        _task_end(0, 400, cpu_ns=300_000_000, gc_ms=10, shuffle=1 << 20),
        _task_end(0, 600, cpu_ns=500_000_000),
        _task_end(1, 1500, out=2 << 20, spill=1 << 20, busy_ms=1000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 3000},
        _job_start(1, 3500, [2], desc="lineage"),
    ]))
    assert jobs[0] == {"group": "p1", "desc": None, "submit_ms": 1000,
                       "end_ms": 3000, "stages": [0, 1]}
    assert jobs[1]["desc"] == "lineage" and jobs[1]["end_ms"] is None
    assert stages[0]["tasks"] == 2 and stages[0]["run_ms"] == 1000
    assert stages[0]["busy_ms"] == 1000 and stages[1]["busy_ms"] == 1000
    assert stages[0]["cpu_ns"] == 800_000_000
    assert stages[1]["output"] == 2 << 20 and stages[1]["spill"] == 1 << 20

    row = eventlog.stage_row(jobs, stages, [0], slots=2, wall_s=2.0)
    assert row["jobs"] == 1 and row["tasks"] == 3
    assert row["run_s"] == 2.5 and row["cpu_s"] == 0.8
    assert row["gc_s"] == 0.01
    assert row["shuffle_write_mb"] == 1.0 and row["output_mb"] == 2.0
    assert row["spill_mb"] == 1.0
    # 2 s of busy task time on 2 slots over a 2 s wall: half the slots idle
    assert row["slot_idle_share"] == 0.5


def test_fold_charges_a_reused_stage_to_the_job_that_ran_it():
    jobs, stages = eventlog.fold(_log([
        _job_start(0, 0, [0], group="a"),
        _task_end(0, 100),
        _job_start(1, 10, [0, 1], group="b"),  # stage 0 listed, skipped
        _task_end(1, 50),
    ]))
    assert eventlog.stage_row(jobs, stages, [0], 1, 1.0)["run_s"] == 0.1
    assert eventlog.stage_row(jobs, stages, [1], 1, 1.0)["run_s"] == 0.05


def test_interval_stage_assigns_gaps_to_the_next_stage():
    bounds = [("prescan", 0, 10), ("transform", 12, 20), ("triples", 20, 30)]
    assert eventlog.interval_stage(5, bounds) == "prescan"
    assert eventlog.interval_stage(10, bounds) == "transform"  # in the gap
    assert eventlog.interval_stage(20, bounds) == "triples"
    assert eventlog.interval_stage(-1, bounds) == "prescan"
    assert eventlog.interval_stage(99, bounds) == "triples"


def test_self_time_subtracts_covered_child_time():
    assert self_time(0.0, 10.0, []) == 10.0
    assert self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children are counted once
    assert self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children are clipped to the parent's interval
    assert self_time(0.0, 10.0, [(-5.0, 2.0), (9.0, 15.0)]) == 7.0
    assert self_time(0.0, 10.0, [(11.0, 12.0)]) == 10.0


def test_tracer_nesting_and_children():
    tr = Tracer("r", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    kids = tr.children(outer["id"])
    assert [k["name"] for k in kids] == ["a", "b"]
    assert all(s["run"] == "r" and s["end"] >= s["start"] for s in tr.spans)
    st = self_time(outer["start"], outer["end"],
                   [(k["start"], k["end"]) for k in kids])
    assert 0.0 <= st <= outer["end"] - outer["start"]


def test_disabled_tracer_records_nothing():
    tr = Tracer("r", enabled=False)
    with tr.span("x") as sp:
        assert sp is None
    assert tr.spans == []


def test_multiset_digest_is_order_insensitive_and_sensitive_to_content():
    rows = [(i, i - i % 3) for i in range(100)]
    shuffled = rows[:]
    random.Random(0).shuffle(shuffled)
    assert multiset_digest(rows) == multiset_digest(shuffled)
    assert multiset_digest(rows) != multiset_digest(rows[:-1])
    assert multiset_digest(rows) != multiset_digest(rows + [rows[0]])
    changed = rows[:]
    changed[5] = (5, 4)
    assert multiset_digest(rows) != multiset_digest(changed)


def test_row_comparisons():
    assert same_rows([(1, 2), (1, 2), (3, 4)], [(3, 4), (1, 2), (1, 2)])
    assert not same_rows([(1, 2)], [(1, 2), (1, 2)])
    assert close_ranks({1: 0.5, 2: 0.25}, {1: 0.500001, 2: 0.25}, 1.5e-6)
    assert not close_ranks({1: 0.5}, {1: 0.5, 2: 0.1}, 1.5e-6)
    assert not close_ranks({1: 0.5}, {1: 0.51}, 1.5e-6)


def test_benchmark_json_lists_the_metrics_the_run_prints():
    from run import END_TO_END
    from workloads import PER_LAYER, WORKLOADS

    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)),
                           "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_tree_cpu_counts_a_busy_child_as_a_worker():
    burn = "import time\nt = time.process_time()\n" \
           "while time.process_time() - t < 0.5: pass\n" \
           "import sys; sys.stdin.read()"
    child = subprocess.Popen([sys.executable, "-c", burn],
                             stdin=subprocess.PIPE)
    try:
        before = tree_cpu_s()
        # the child holds its CPU time until it exits and is reaped
        deadline = 200
        while tree_cpu_s()["workers"] - before["workers"] < 0.4 and deadline:
            deadline -= 1
            subprocess.run(["sleep", "0.05"])
        after = tree_cpu_s()
    finally:
        child.stdin.close()
        child.wait()
    assert after["workers"] - before["workers"] >= 0.4
    assert after["jvm"] == after["jit"] == 0.0
    # reaped, the child's time moves into this process's figure
    assert tree_cpu_s()["driver"] >= before["driver"] + 0.4


def test_host_speed_takes_the_median_loop_time_inside_the_intervals():
    hs = HostSpeed(n=10, period_s=1.0)
    hs.samples = [(1.0, 5.0), (2.0, 1.0), (3.0, 2.0), (4.0, 3.0), (9.0, 7.0)]
    assert hs.loop_s([(1.5, 4.0)]) == 2.0
    assert hs.loop_s([(0.0, 1.0), (8.0, 9.0)]) == 6.0
    # no sample inside: the median of all of them
    assert hs.loop_s([(5.0, 6.0)]) == 3.0


def test_host_speed_samples_while_running():
    hs = HostSpeed(n=1000, period_s=0.01)
    hs.start()
    deadline = 500
    while len(hs.samples) < 3 and deadline:
        deadline -= 1
        subprocess.run(["sleep", "0.01"])
    used = hs.own_cpu_s()
    hs.stop()
    assert len(hs.samples) >= 3 and all(c > 0 for _, c in hs.samples)
    assert used >= sum(c for _, c in hs.samples[:3])
