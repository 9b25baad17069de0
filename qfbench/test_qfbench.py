"""The benchmark's own checks; no Spark needed.

    python3 -m pytest qfbench/test_qfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pandas as pd
import pytest

import corpus
import eventlog
import procfs
import run

HERE = os.path.dirname(os.path.abspath(__file__))


def _labels(n: int = 6) -> pd.DataFrame:
    return pd.DataFrame({
        "conv_id": [f"c{i // 3}" for i in range(n)],
        "turn_idx": [i % 3 for i in range(n)],
        "keep": [i % 2 == 0 for i in range(n)],
        "drop_reason": [None if i % 2 == 0 else "dup" for i in range(n)],
        "scrubbed_text": [f"t{i}" if i != 4 else None for i in range(n)],
    })


def test_identical_labels_match():
    ref = _labels()
    assert corpus.count_mismatches(ref.sample(frac=1, random_state=0), ref) == 0


@pytest.mark.parametrize("column, value", [
    ("keep", None), ("drop_reason", "gibberish"), ("scrubbed_text", "x"),
])
def test_one_changed_label_is_caught(column, value):
    ref = _labels()
    out = ref.copy()
    out.loc[3, column] = (not out.loc[3, "keep"]) if column == "keep" else value
    assert corpus.count_mismatches(out, ref) == 1


def test_missing_extra_and_duplicate_rows_are_caught():
    ref = _labels()
    assert corpus.count_mismatches(ref.iloc[1:], ref) == 1
    extra = pd.concat([ref, ref.iloc[:1].assign(turn_idx=9)])
    assert corpus.count_mismatches(extra, ref) == 1
    assert corpus.count_mismatches(pd.concat([ref, ref.iloc[:1]]), ref) == 1


def test_resumable_expectation_splits_base_and_delta(tmp_path):
    full = _labels()
    base = full[full["conv_id"] == "c0"].copy()
    base["drop_reason"] = "base-dictionary"
    full.to_parquet(tmp_path / "ref.parquet", index=False)
    base.to_parquet(tmp_path / "ref_base.parquet", index=False)
    c = corpus.Corpus(str(tmp_path), {"files": {"base": [], "delta": []}})
    exp = corpus.expected_labels(c).set_index(corpus.KEYS)
    assert (exp.loc["c0", "drop_reason"] == "base-dictionary").all()
    assert exp.loc["c1", "drop_reason"].tolist() == ["dup", None, "dup"]


def _corpus(serials: list[int]) -> pd.DataFrame:
    return pd.DataFrame({"conv_id": [f"conv_{s:08d}" for s in serials for _ in (0, 1)]})


def test_whale_is_staged_alone_and_delta_is_every_tenth():
    serials = list(range(40)) + [corpus.WHALE_SERIAL]
    files = corpus._files(_corpus(serials), corpus.SHAPES["whale"])
    assert set(files["base"][-1]["conv_id"]) == {f"conv_{corpus.WHALE_SERIAL:08d}"}
    assert len(files["base"]) == corpus.N_FILES + 1
    assert sum(map(len, files["base"])) == 2 * len(serials)

    files = corpus._files(_corpus(list(range(40))), corpus.SHAPES["resumable"])
    delta = sorted({int(c[5:]) for f in files["delta"] for c in f["conv_id"]})
    assert delta == [9, 19, 29, 39]
    assert len(files["base"]) == corpus.N_FILES
    assert len(files["delta"]) == corpus.N_FILES // 2


def test_node_layer_map():
    assert eventlog.node_layer(
        "ArrowEvalPython", "ArrowEvalPython [feats(text#3)#29]") == "featurize"
    assert eventlog.node_layer(
        "ArrowEvalPython",
        "ArrowEvalPython [lu_key(substring(text#5, 1, 512))#41]",
    ) == "mask_frequency_dict"
    assert eventlog.node_layer(
        "Exchange", "Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM",
    ) == "salt"
    assert eventlog.node_layer(
        "Exchange", "Exchange hashpartitioning(conv_id#0, 8)",
    ) == "conversation_layout.exchange"
    assert eventlog.node_layer(
        "HashAggregate", "HashAggregate(keys=[lu_key#42], functions=[partial_count(1)])",
    ) is None
    assert eventlog.node_layer("Project", "Project [a#1]") is None


def _plan_info(name, simple, metrics, children=()):
    return {"nodeName": name, "simpleString": simple, "children": list(children),
            "metrics": [{"name": n, "accumulatorId": a, "metricType": t}
                        for n, a, t in metrics]}


def test_event_log_totals_per_op(tmp_path):
    plan = _plan_info(
        "Execute InsertIntoHadoopFsRelationCommand", "Execute Insert...",
        [("written output", 9, "size"), ("job commit time", 10, "timing")],
        [_plan_info("ArrowEvalPython", "ArrowEvalPython [feats(text#1)]",
                    [("time to run Python workers", 1, "timing"),
                     ("data sent to Python workers", 2, "size")])])
    props = {eventlog.OP_PROPERTY: "3", "spark.sql.execution.id": "7"}
    task = {
        "Event": "SparkListenerTaskEnd", "Stage ID": 5,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Accumulables": [{"ID": 1, "Update": "1500"},
                                       {"ID": 2, "Update": "2000000"}]},
        "Task Metrics": {"Executor Run Time": 2000, "JVM GC Time": 100,
                         "Disk Bytes Spilled": 0,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 4096}},
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "time": 1000, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [5], "Properties": props},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 5, "Submission Time": 1000, "Completion Time": 3000}},
        task, task,
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 7, "accumUpdates": [[9, 5000000], [10, 250]]},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    st = eventlog.read(str(path))[3]
    assert st.tasks == 2 and st.jobs == {0} and st.shuffle_bytes == 8192
    assert st.node[("featurize", "time to run Python workers")] == pytest.approx(3.0)
    assert st.node[("featurize", "data sent to Python workers")] == pytest.approx(4.0)
    assert st.layer_tasks["featurize"] == [2.0, 2.0]
    assert st.gc_s == pytest.approx(0.2)
    assert st.writes == [(1.0, 5.0, 0.25)]
    assert st.layer_stage_span == {5: (1.0, 3.0)}


def test_union_length():
    assert run.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert run.union_length([]) == 0


def test_tree_cpu_counts_children():
    before = procfs.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.time()\nwhile time.time()-t<0.5: pass"])
    time.sleep(0.2)
    assert child.pid in procfs.process_tree()
    child.wait()
    assert procfs.tree_cpu_s() - before >= 0.3


def test_reap_children_stops_the_pool_resource_tracker():
    import multiprocessing

    with multiprocessing.get_context("spawn").Pool(1) as pool:
        assert pool.map(abs, [-1]) == [1]
        pool.close()
        pool.join()
    del pool
    run.reap_children()
    assert [p for p in procfs.process_tree()[1:] if procfs.running(p)] == []


def test_wait_ended_kills_what_outlives_the_deadline():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    t0 = time.time()
    run.wait_ended([child.pid], timeout=0.2)
    assert time.time() - t0 < 10
    assert child.wait(timeout=10) == -9


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} <= set(corpus.SHAPES)
