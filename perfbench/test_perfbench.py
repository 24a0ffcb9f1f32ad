"""Self-tests for the benchmark: seeded inputs are byte-identical, the
result line has every named metric with its unit, each workload
completes a short run on tiny inputs, and a directory without the
engine fails without printing a result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run as runner  # noqa: E402
import spans  # noqa: E402


def _write_all(seed: int, d: str) -> list[str]:
    cols, _ = gen.corpus(seed, 120, exact_dup_share=0.1, near_dup_share=0.1, boilerplate_share=0.2)
    paths = [gen.write_documents(cols, d)]
    vecs = gen.embeddings(seed, 50)
    paths.append(gen.write_vectors(vecs, os.path.join(d, "embeddings.parquet"), "vec_id"))
    feed = gen.ChangeFeed(seed, dict(zip(cols["doc_id"], cols["text"])), gen.vocabulary(seed, 2000))
    for i in range(3):
        paths.append(gen.write_changes(feed.batch(5, 2, 2), os.path.join(d, f"b{i}.parquet")))
    reqs = gen.requests(seed, vecs, cols["text"], 10)
    path = os.path.join(d, "requests.json")
    with open(path, "w") as fh:
        json.dump(reqs, fh)
    return paths + [path]


def test_inputs_are_byte_identical_by_seed(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not filecmp.cmp(a[0], c[0], shallow=False)


def test_corpus_properties_match_injection():
    cols, props = gen.corpus(3, 400, exact_dup_share=0.2, near_dup_share=0.1)
    assert props["docs"] == len(cols["text"]) == 400
    assert props["distinct_texts"] == len(set(cols["text"]))
    # every exact duplicate collapses onto an earlier text
    assert props["distinct_texts"] <= 400 - round(props["exact_dup_share"] * 400)
    assert 0.1 < props["exact_dup_share"] < 0.3


def test_change_feed_out_of_order_delete_loses_to_newer_upsert():
    texts = {i: f"w{i} x y z" for i in range(20)}
    feed = gen.ChangeFeed(1, texts, gen.vocabulary(1, 50))
    batch = feed.batch(4, 1, 2)
    rows = list(zip(batch["doc_id"], batch["text"], batch["seq"], batch["op"]))
    assert len({r[2] for r in rows}) == len(rows)  # seqs unique
    keys = [r[0] for r in rows]
    both = {k for k in keys if keys.count(k) == 2}
    assert len(both) == 1
    (k,) = both
    upsert = next(r for r in rows if r[0] == k and r[3] != "D")
    delete = next(r for r in rows if r[0] == k and r[3] == "D")
    assert delete[2] < upsert[2]
    assert feed.live[k] == upsert[1]
    assert len(feed.live) == 20 + 1 - 2


def test_covered_seconds_is_interval_union():
    assert spans._covered_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans._covered_s([]) == 0


def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "op3|vector.cosine_topk"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500},
         "Task Metrics": {"Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2e6},
                          "Disk Bytes Spilled": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1600}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1700,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "op3|serve.collect"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 1700, "Finish Time": 1800}, "Task Metrics": {}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1800},
    ]
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = spans.read_event_log(str(tmp_path))
    sp = [spans.Span("op3", "vector.cosine_topk", 0.7), spans.Span("op3", "serve.collect", 0.2)]
    engine, per_call = spans.summarize(
        log, sp, {"op3": (0.9, 2.0)}, cores=2, sink_calls=frozenset({"serve.collect"})
    )
    assert engine["spark.jobs_per_op"] == 2
    assert engine["spark.tasks_per_op"] == 3
    assert engine["spark.task_s_per_op"] == pytest.approx(1.1)
    assert engine["spark.shuffle_read_mb_per_op"] == pytest.approx(2.0)
    assert engine["spark.single_task_job_frac"] == 0.5
    assert engine["driver.build_s_per_op"] == pytest.approx(0.7)
    assert engine["driver.eager_jobs_per_op"] == 1
    # jobs ran 1.0-1.6 and 1.7-1.8 of the 0.9-2.0 op
    assert engine["driver.self_s_per_op"] == pytest.approx(0.4)
    assert per_call["vector.cosine_topk"]["jobs"] == 1
    assert per_call["serve.collect"]["task_s"] == pytest.approx(0.1)


def test_benchmark_json_names_match_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["end_to_end"]] == list(runner.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(runner.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        unit = {**runner.END_TO_END, **runner.PER_LAYER}[m["name"]]
        assert m["unit"] == unit


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [
        ("graphrag_dag", 1),
        ("index_maintenance", 0),
        ("rag_serving", 1),
        ("pretrain_funnel", 0),
    ],
)
def test_smoke_result_shape(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0
    record, result = [json.loads(x) for x in p.stdout.strip().splitlines()[-2:]]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = runner.PER_LAYER if trace else runner.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    env = record["record"]["env"]
    assert env["nproc"] >= 1 and env["spark"] and env["java"]
    assert record["record"]["inputs"]["docs"] > 0
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_runs"))


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run("graphrag_dag", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""
