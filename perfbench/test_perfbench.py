"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run each workload at sf0.001 with a few ops and
batches (about half a minute each: every run starts a fresh Spark
process), and plant faults the output checks must count as failed ops.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from gen import MAX_PAGES, NEW_PER_POLL, PAGE_SIZE, WINDOW_ROWS, FeedGenerator, fixture_tables  # noqa: E402
from run import END_TO_END, per_layer_metrics, tail  # noqa: E402
from spans import ARTIFACT_FAMILIES  # noqa: E402
from workloads import DASHBOARD_QUERIES, analytics_list, plan  # noqa: E402

E2E_NAMES = [n for n, _ in END_TO_END] + ["error_rate", "peak_rss_mb", "write_bytes_per_row", "stored_bytes_per_row"]


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def last_json(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


# ---- fast unit tests -------------------------------------------------------


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct = tail(xs)
    assert value == 20.0 and sum(x > value for x in xs) == 10 and pct == 66
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100)


def test_inputs_depend_only_on_seed():
    a, b, c = fixture_tables(7, 0.001), fixture_tables(7, 0.001), fixture_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert plan("dashboard", 3, 12) == plan("dashboard", 3, 12)


def test_dashboard_plan_mixes_refreshes_and_registered_queries():
    ops = plan("dashboard", 5, 12)["ops"]
    kinds = [op["kind"] for op in ops]
    assert kinds.count("refresh") == kinds.count("query") + 2
    assert {op["name"] for op in ops if op["kind"] == "query"} <= set(DASHBOARD_QUERIES)


def test_analytics_list_is_shortened_from_its_end():
    assert analytics_list(12) == ["dedup_semantic_embeddings", "sim_neardup_embeddings"]
    assert analytics_list(1) == ["dedup_semantic_embeddings"]


def test_feed_latest_wins_state():
    gen = FeedGenerator(1)
    b0, b1, b2 = gen.batch(0), gen.batch(1), gen.batch(2)
    assert len(b0) == WINDOW_ROWS and len(gen.incidents) == WINDOW_ROWS + 2 * NEW_PER_POLL
    assert 50 <= len(b1) <= PAGE_SIZE * MAX_PAGES  # the reference's row band and page cap
    assert {r["id"] for r in b2} >= {i["id"] for i in gen.incidents[-2 * NEW_PER_POLL :]}
    assert any(r["version"] > 0 for r in b2)
    exp = gen.expected()
    assert len(exp) == len(gen.incidents)
    for r in b2:  # the last batch carries each incident's latest version
        assert exp[r["id"]] == (r["modified"].replace("T", " ").rstrip("Z"), r["message"])


def test_refuses_to_run_without_the_program(tmp_path):
    proc = bench("--workload", "dashboard", "--seed", "1", "--seconds", "1", cwd=str(tmp_path))
    assert proc.returncode != 0 and proc.stdout == ""


# ---- end to end at sf0.001 -------------------------------------------------


@pytest.mark.parametrize("workload", ["dashboard", "analytics", "etl_merge"])
def test_workload_prints_every_end_to_end_metric(workload):
    proc = bench("--workload", workload, "--seed", "3", "--seconds", "4", "--sf", "0.001")
    out = last_json(proc)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [n for n, _ in END_TO_END]
    for name, unit in END_TO_END:
        assert out["metrics"][name]["unit"] == unit and out["metrics"][name]["value"] > 0
    for name in E2E_NAMES:
        assert f"  {name} " in proc.stdout


def test_traced_run_reports_every_layer_metric():
    proc = bench("--workload", "etl_merge", "--seed", "3", "--seconds", "4", "--sf", "0.001", "--trace", "1")
    out = last_json(proc)
    assert [n for n in out["metrics"]] == [n for n, _ in per_layer_metrics(4)]
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["sink.merge_s"] > 0 and m["sink.partitions_touched"] > 0 and m["xml_feed.scan_s"] > 0
    assert m["trace.wall_s"] > 0 and "tracing overhead" in proc.stdout


def test_traced_analytics_reaches_every_artifact_family_and_streaming():
    proc = bench("--workload", "analytics", "--seed", "3", "--seconds", "4", "--sf", "0.001", "--trace", "1")
    m = {k: v["value"] for k, v in last_json(proc)["metrics"].items()}
    for family in ARTIFACT_FAMILIES:
        assert m[f"artifacts.{family}_s"] > 0, family
    assert m["streaming.batches"] > 0 and m["streaming.state_rows"] > 0
    assert m["q.dedup_semantic_embeddings.build_s"] > 0 and "FAILED probe" not in proc.stdout


def test_planted_wrong_hash_is_a_failed_op():
    proc = bench("--workload", "dashboard", "--seed", "3", "--seconds", "4", "--sf", "0.001", "--fault", "wrong_hash:1")
    out = last_json(proc)
    assert out["failed"] == 1 and not out["correct"]
    assert "FAILED op" in proc.stdout


def test_corrupted_sink_row_is_a_failed_op():
    proc = bench("--workload", "etl_merge", "--seed", "3", "--seconds", "4", "--sf", "0.001", "--fault", "corrupt_sink_row")
    out = last_json(proc)
    assert out["failed"] == 1 and not out["correct"]
    assert "sink check" in proc.stdout
