"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from eecs485_p4_mapreduce_spark.mapreduce.job import md5_partition
from perfbench import calibrate, gen
from perfbench.check import verify_mr_output
from perfbench.run import percentile, percentile_supported, query_mix
from perfbench.trace import EventLog, Span, assign_jobs, op_layers, pass_layers, union_s

T0 = 1_700_000_000.0  # epoch seconds of the fixture's first event


def _ms(s: float) -> int:
    return int(round((T0 + s) * 1000))


def _task(stage: int, launch: float, finish: float, run_ms: int, *, rows=0, sw_b=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": "ExceptionFailure" if failed else "Success"},
        "Task Info": {"Launch Time": _ms(launch), "Finish Time": _ms(finish), "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 500_000,
            "JVM GC Time": 10, "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": 0, "Records Read": rows},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw_b, "Shuffle Records Written": 7},
        },
    }


@pytest.fixture
def event_dir(tmp_path):
    """One op (group g0, span 0..10 s) with a 2-stage job at 2..6 s and a
    streaming job (other group) at 7..9 s with one progress record."""
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": _ms(2),
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g0"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Submission Time": _ms(2), "Completion Time": _ms(4)}},
        _task(0, 2.0, 4.0, 2000, rows=3000),
        _task(0, 2.0, 3.0, 1000, rows=1000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Submission Time": _ms(4), "Completion Time": _ms(6)}},
        _task(1, 4.0, 6.0, 2000, failed=True),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": _ms(6)},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": _ms(7),
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "some-run-id"}},
        _task(2, 7.0, 9.0, 2000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": _ms(9)},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"runId": "r", "timestamp": "2023-11-14T22:13:27.000Z",
                      "durationMs": {"triggerExecution": 2000, "addBatch": 1500, "walCommit": 100},
                      "stateOperators": [{"numRowsTotal": 42, "commitTimeMs": 30}]}},
        # a job outside every op span belongs to no op
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": _ms(50),
         "Stage IDs": [], "Properties": {}},
    ]
    roll = tmp_path / "eventlog_v2_local-1"
    roll.mkdir()
    half = len(events) // 2
    (roll / "events_1_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[:half]))
    (roll / "events_2_local-1").write_text("".join(json.dumps(e) + "\n" for e in events[half:]))
    (roll / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_event_log_parser_on_fixture(event_dir):
    log = EventLog(event_dir)
    assert sorted(log.jobs) == [0, 1, 2]
    assert len(log.stages[0].tasks) == 2 and log.stages[1].tasks[0].failed
    assert len(log.progress) == 1 and log.progress[0].state_rows == 42

    op = Span("q", T0, T0 + 10, attrs={"group": "g0"})
    op.child("build", T0).end = T0 + 5  # the first job covers 2..5 of it
    op.child("exec", T0 + 5).end = T0 + 10
    # the progress timestamp must fall inside the op span
    assert op.start <= log.progress[0].start <= op.end
    jobs = assign_jobs([op], log)[id(op)]
    assert sorted(j.jid for j in jobs) == [0, 1]

    r = op_layers(op, jobs, log)
    assert r["operators.build_s"] == pytest.approx(5)
    assert r["operators.build_self_s"] == pytest.approx(2)  # 5 s minus the job's 3 s
    assert r["operators.exec_s"] == pytest.approx(5)
    assert r["spark.busy_s"] == pytest.approx(6)  # 2..6 and 7..9
    assert r["spark.driver_gap_s"] == pytest.approx(4)
    assert (r["spark.jobs"], r["spark.stages"], r["spark.tasks"]) == (2, 3, 4)
    assert r["spark.failed_tasks"] == 1
    assert (r["sources.input_rows"], r["sources.scan_tasks"]) == (4000, 2)
    assert r["streaming.triggers"] == 1 and r["streaming.add_batch_ms"] == 1500
    assert r["streaming.outside_trigger_s"] == pytest.approx(8)
    assert r["streaming.state_rows"] == 42

    s = pass_layers([r])
    assert s["spark.parallelism"] == pytest.approx(7 / 6)  # 7 s of tasks over 6 s busy
    assert s["sources.scan_max_task_share"] == pytest.approx(2 / 3)


def test_union_clips_and_merges():
    assert union_s([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_s([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2)


def _write_parts(out, lines_by_part):
    os.makedirs(out, exist_ok=True)
    for p, lines in enumerate(lines_by_part):
        with open(os.path.join(out, f"part-{p:05d}"), "w", encoding="utf-8") as fh:
            fh.writelines(ln + "\n" for ln in lines)


@pytest.fixture
def mr_case(tmp_path):
    truth = {w: str(i + 1) for i, w in enumerate(
        ["", "bye", "hello", "world", "goodbye", "hadoop", "spark", "map"])}
    parts = [[], []]
    for key in sorted(truth, key=lambda k: k.encode()):
        parts[md5_partition(key, 2)].append(f"{key}\t{truth[key]}")
    return tmp_path, truth, parts


def test_mr_verifier_accepts_correct_output(mr_case):
    tmp, truth, parts = mr_case
    _write_parts(tmp / "ok", parts)
    assert verify_mr_output(str(tmp / "ok"), 2, truth) is None


def test_mr_verifier_rejects_key_in_wrong_part(mr_case):
    tmp, truth, parts = mr_case
    moved = [parts[0][1:], sorted(parts[1] + parts[0][:1], key=lambda ln: ln.encode())]
    _write_parts(tmp / "moved", moved)
    assert "belongs in part 0" in verify_mr_output(str(tmp / "moved"), 2, truth)


def test_mr_verifier_rejects_unsorted_part(mr_case):
    tmp, truth, parts = mr_case
    _write_parts(tmp / "unsorted", [list(reversed(parts[0])), parts[1]])
    assert "out of C-locale order" in verify_mr_output(str(tmp / "unsorted"), 2, truth)


def test_mr_verifier_rejects_wrong_value_and_missing_part(mr_case):
    tmp, truth, parts = mr_case
    _write_parts(tmp / "value", [parts[0], [parts[1][0] + "0", *parts[1][1:]]])
    assert "has value" in verify_mr_output(str(tmp / "value"), 2, truth)
    _write_parts(tmp / "missing", [parts[0]])
    assert "part files" in verify_mr_output(str(tmp / "missing"), 2, truth)


def test_percentile_support_rule():
    assert not percentile_supported(99, 90)
    assert percentile_supported(100, 90)
    assert percentile_supported(1000, 99) and not percentile_supported(999, 99)
    assert percentile_supported(20, 50) and not percentile_supported(19, 50)
    assert percentile(list(range(1, 101)), 90) == 90
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_corpus_truth_matches_files(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CORPUS_MB", 0.05)
    monkeypatch.setattr(gen, "CORPUS_FILES", 3)
    monkeypatch.setattr(gen, "VOCAB", 300)
    truth = gen.corpus(str(tmp_path), seed=3)
    counts: dict[str, int] = {}
    postings: dict[str, set] = {}
    for name in sorted(os.listdir(tmp_path / "wc")):
        for line in open(tmp_path / "wc" / name, encoding="utf-8"):
            for w in line.split():
                counts[w] = counts.get(w, 0) + 1
    for name in sorted(os.listdir(tmp_path / "index")):
        for line in open(tmp_path / "index" / name, encoding="utf-8"):
            doc, _, text = line.rstrip("\n").partition("\t")
            for w in text.split():
                postings.setdefault(w, set()).add(int(doc))
    assert truth["wc"] == {w: str(c) for w, c in counts.items()}
    assert truth["index"] == {
        w: f"{len(d)}\t{','.join(map(str, sorted(d)))}" for w, d in postings.items()}
    assert len(os.listdir(tmp_path / "wc")) == 3


def test_same_seed_same_tables(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "SCALE", 0.001)
    gen.tables(str(tmp_path / "a"), seed=5)
    gen.tables(str(tmp_path / "b"), seed=5)
    gen.tables(str(tmp_path / "c"), seed=6)
    import pyarrow.parquet as pq

    a, b, c = (pq.read_table(tmp_path / d / "documents.parquet") for d in "abc")
    assert a.equals(b) and not a.equals(c)


def test_pool_groups_sit_at_cost_strata_middles():
    lines = [{"name": f"p{i:02d}", "group": "plain", "warm": float(i), "builds": 0,
              "mismatch": None} for i in range(40)]
    lines += [
        {"name": "bad", "group": "plain", "warm": 0.5, "builds": 0, "mismatch": "1/2 rows differ"},
        {"name": "err", "group": "plain", "error": "AnalysisException: x"},
        {"name": "loop_a", "group": "iterative", "warm": 1.0, "builds": 0, "mismatch": None},
        {"name": "loop_b", "group": "iterative", "warm": 2.0, "builds": 1, "mismatch": None},
        {"name": calibrate.STREAM_LEAD, "group": "streaming", "warm": 1.0, "builds": 0,
         "mismatch": None},
    ]
    p = calibrate.pool(lines)
    # the middle ranks of the three thirds of forty
    assert [n for n, _ in p["plain"]] == ["p06", "p20", "p33"]
    assert set(p["distribution"]["left_out"]) == {"bad", "err"}
    assert p["iterative"] == ["loop_b", 2.0]
    assert p["streaming"][0] == calibrate.STREAM_LEAD


def test_query_mix_orders_the_pool_by_seed():
    a, b = ([op.name for op in query_mix(s)] for s in (1, 2))
    assert a == [op.name for op in query_mix(1)] and sorted(a) == sorted(b)
    assert a[:2] == b[:2]  # the iterative loop and the stream lead
    assert any(query_mix(s)[2:] != query_mix(1)[2:] for s in range(2, 6))
