"""Regression net for the driver's BENCH capture contract (round 5 lost
its bench signal to this): the driver reads a bounded 2000-char stdout
TAIL and parses the LAST line as the headline JSON, so

- stdout must end with one compact JSON line under ~1,900 chars carrying
  {metric, value, unit, queries, sf};
- the bulky per-run arrays must go to stderr (their own JSON line), never
  stdout.

Runs bench.main() in-process on a tiny query subset at sf0.001.
"""

import io
import json
import sys
from contextlib import redirect_stderr, redirect_stdout
from pathlib import Path

import pytest


@pytest.fixture()
def bench_env(monkeypatch, spark):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERIES",
                       "token_stats,corpus_rollup")
    monkeypatch.setenv("SPARK_GRAFT_BENCH_RUNS", "2")
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import bench
    return bench


def test_bench_stdout_fits_driver_tail_window(bench_env):
    out, err = io.StringIO(), io.StringIO()
    with redirect_stdout(out), redirect_stderr(err):
        bench_env.main()

    # the driver's exact parse: last line of the last 2000 stdout chars
    tail = out.getvalue()[-2000:]
    last = tail.strip().rsplit("\n", 1)[-1]
    head = json.loads(last)
    assert head["metric"] == "headline_queries_total_time"
    assert head["unit"] == "sec" and head["value"] > 0
    assert set(head["queries"]) == {"token_stats", "corpus_rollup"}
    assert len(last) < 1900

    # runs arrays live on stderr as their own parseable JSON line
    runs_lines = [l for l in err.getvalue().splitlines()
                  if l.startswith('{"runs"')]
    assert len(runs_lines) == 1
    runs = json.loads(runs_lines[0])["runs"]
    assert set(runs) == set(head["queries"])
    assert all(len(v) == 2 for v in runs.values())  # SPARK_GRAFT_BENCH_RUNS

    # and never on stdout (the defect that truncated BENCH_r05)
    assert '"runs"' not in out.getvalue()


def test_fit_headline_line_tiers():
    """The contract line must fit the driver's 2000-char stdout tail at
    any query count: precision tiers first, then slowest-kept trimming
    with an explicit q_omitted marker."""
    import json

    import bench

    timings = {f"query_name_{i:03d}": 0.001 + i * 0.037 for i in range(120)}
    out = {"metric": "headline_queries_total_time", "value": 12.345,
           "unit": "sec", "queries": dict(timings), "sf": 0.1}
    line = bench.fit_headline_line(out, timings)
    assert len(line) <= 1900
    parsed = json.loads(line)
    assert parsed["value"] == 12.345  # headline precision untouched
    kept = parsed["queries"]
    assert parsed["q_omitted"] == 120 - len(kept)
    # the kept set is the SLOWEST queries
    slowest = sorted(timings, key=lambda q: -timings[q])[:len(kept)]
    assert set(kept) == set(slowest)


def test_fit_headline_line_small_set_untouched():
    import json

    import bench

    timings = {"a": 1.234, "b": 0.567}
    out = {"metric": "headline_queries_total_time", "value": 1.801,
           "unit": "sec", "queries": dict(timings), "sf": 0.1}
    parsed = json.loads(bench.fit_headline_line(out, timings))
    assert parsed["queries"] == {"a": 1.234, "b": 0.567}
    assert "q_omitted" not in parsed


def test_job_stats_reports_job_wall_time():
    """scripts/job_stats.py's per-job ``dur_ms`` is completion minus
    submission of the REST job record, not its task count."""
    import os

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from job_stats import _job_ms

    job = {"submissionTime": "2026-01-01T12:00:00.250GMT",
           "completionTime": "2026-01-01T12:00:01.125GMT",
           "numCompletedTasks": 8}
    assert _job_ms(job) == 875
