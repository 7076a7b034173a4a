"""The event-log reader on a small captured Spark 4.1 log.

The fixture is a trimmed rolling log (``eventlog_v2_local-test`` with two
``events_N`` parts) of three tagged actions on ``local[2]``: a parquet write
of a pandas UDF over 100 rows (``t:write``), a count of that output
(``t:count``) and a grouped count into a noop sink (``t:noop``).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import EventLog, log_files  # noqa: E402

LOG = os.path.join(HERE, "data", "eventlog_v2_local-test")


@pytest.fixture(scope="module")
def log() -> EventLog:
    return EventLog.load(LOG)


def test_rolling_parts_read_in_numeric_order(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    for n in (10, 2, 1):
        (d / f"events_{n}_app").write_text("")
    (d / "appstatus_app").write_text("")
    assert [os.path.basename(f) for f in log_files(str(d))] == [
        "events_1_app", "events_2_app", "events_10_app",
    ]
    # a log dir holding the one application resolves to the same files
    assert log_files(str(tmp_path)) == log_files(str(d))


def test_executions_carry_tag_kind_and_output_path(log):
    by_tag = {x.description: x for x in log.executions.values()}
    assert by_tag["t:write"].kind == "write"
    assert by_tag["t:write"].path.endswith("/perfbench-fixture/out")
    assert by_tag["t:count"].kind == "count"
    assert by_tag["t:noop"].kind == "save" and by_tag["t:noop"].path is None
    assert all(x.seconds > 0 for x in by_tag.values())


def test_write_is_attributed_to_its_tag(log):
    s = log.summary(lambda d: d == "t:write")
    assert s["sources.write_rows"] == 100
    assert s["sources.write_bytes"] > 0
    assert s["sources.write_files"] == 2
    assert s["shuffle.write_bytes"] == 0
    assert s["spark.tasks"] == 2 and s["spark.tasks_failed"] == 0


def test_arrow_udf_metrics(log):
    s = log.summary(lambda d: d == "t:write")
    assert s["functions.udf_rows"] == 100
    assert s["functions.arrow_sent_bytes"] > 0
    assert s["functions.arrow_returned_bytes"] > 0
    # the other actions run no Python UDF
    assert log.summary(lambda d: d == "t:noop")["functions.udf_rows"] == 0


def test_shuffle_and_scan_sums(log):
    noop = log.summary(lambda d: d == "t:noop")
    assert noop["shuffle.write_bytes"] > 0
    assert noop["shuffle.read_bytes"] == noop["shuffle.write_bytes"]
    count = log.summary(lambda d: d == "t:count")
    assert count["sources.write_rows"] == 0
    assert count["sources.scan_bytes"] > 0


def test_jobs_stages_and_busy_time(log):
    every = log.summary(lambda d: d.startswith("t:"))
    parts = [log.summary(lambda d, t=t: d == t) for t in ("t:write", "t:count", "t:noop")]
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        assert every[key] == sum(p[key] for p in parts)
    assert every["spark.jobs"] >= 3
    busy = log.stage_busy_s(lambda d: d.startswith("t:"))
    assert 0 < busy <= sum(log.stage_busy_s(lambda d, t=t: d == t) for t in ("t:write", "t:count", "t:noop")) + 1e-9
    assert 1.0 <= every["spark.task_skew"]
