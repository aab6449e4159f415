"""Tests of the benchmark's own code; they need no Spark session.

    python3 -m pytest perfbench -q

``fixtures/eventlog-small.jsonl`` was recorded from a local[4] session
with the event log on: two untagged jobs (``spark.range(50).count()``),
then a group-by count under span ``agg``, a mapInPandas sum under span
``pandas`` and, nested in it, a count under span ``pandas:inner``. Event
types and fields the parser does not read were dropped. The expected job
ids and stage ids were read from ``statusTracker()`` while recording.
"""

import os

import pytest

from perfbench import trace as tr
from perfbench.digest import crawl_digest, mismatches
from perfbench.stats import summarize

HERE = os.path.dirname(os.path.abspath(__file__))
EVENT_LOG = os.path.join(HERE, "fixtures", "eventlog-small.jsonl")


@pytest.fixture(scope="module")
def log():
    return tr.parse_event_log(EVENT_LOG)


def test_event_log_per_group_counts(log):
    counts = tr.group_counts(log)
    # statusTracker at recording time: agg -> jobs [2, 3], stages [[3], [4, 5]];
    # stage 4 was skipped (its shuffle output was reused), so two stages ran
    assert counts["pb:agg"]["jobs"] == 2
    assert counts["pb:agg"]["stages"] == 2
    # 4 map tasks over range(1000, 4 partitions) + 1 coalesced reduce task
    assert counts["pb:agg"]["tasks"] == 5
    # 2 mapInPandas tasks over range(100, 2 partitions) + 1 reduce task
    assert counts["pb:pandas"]["tasks"] == 3
    assert counts["pb:pandas"]["jobs"] == 2
    # a nested span's jobs are charged to the nested span only
    assert counts["pb:pandas:inner"]["jobs"] == 2
    assert counts[None]["jobs"] == 2
    for c in counts.values():
        assert c["failed_tasks"] == 0 and c["retried_tasks"] == 0
        assert c["shuffle_read_bytes"] == c["shuffle_write_bytes"] > 0


def test_event_log_sql_metrics_and_untagged_jobs(log):
    rows = tr.sql_metric(log, {"pb:pandas"}, r"^MapInPandas", "number of output rows")
    assert rows == 100
    assert tr.sql_metric(log, {"pb:agg"}, r"^MapInPandas", "number of output rows") == 0
    assert tr.sql_metric(log, {"pb:pandas"}, r"^MapInPandas",
                         "data sent to Python workers") > 0
    assert tr.untagged_jobs(log, 0, float("inf")) == [0, 1]


def test_span_self_time_and_driver_only_time():
    log = {"jobs": {}, "stage_job": {}, "stages_run": [], "tasks": [
        {"stage": 0, "launch_ms": 1_100, "finish_ms": 1_300},
        {"stage": 0, "launch_ms": 1_200, "finish_ms": 1_400},
        {"stage": 0, "launch_ms": 1_600, "finish_ms": 1_900},
    ], "exec_group": {}, "metric_node": {}, "acc": {}}
    for t in log["tasks"]:
        t.update(failed=False, retry=False, run_ms=0, shuffle_read=0,
                 shuffle_write=0, spill=0)
    log["stage_job"][0] = 0
    log["jobs"][0] = {"group": "pb:e0", "submit_ms": 1_000}
    spans = [
        {"name": "e0:commit", "parent": "e0", "start_ms": 1_500, "end_ms": 2_000, "plan_s": {}},
        {"name": "e0", "parent": None, "start_ms": 1_000, "end_ms": 2_000, "plan_s": {}},
    ]
    driver_log = [(1_050, "WARN X: Failed to compile ..."),
                  (1_700, "WARN W: No Partition Defined for Window operation!")]
    recs = {r["span"]: r for r in tr.span_metrics(spans, log, driver_log)}
    assert recs["e0"]["wall_s"] == pytest.approx(1.0)
    assert recs["e0"]["self_s"] == pytest.approx(0.5)
    # tasks cover 1100-1400 of the epoch's own 1000-1500
    assert recs["e0"]["driver_only_s"] == pytest.approx(0.2)
    assert recs["e0:commit"]["driver_only_s"] == pytest.approx(0.2)
    assert recs["e0"]["codegen_fallbacks"] == 1
    assert recs["e0"]["single_partition_windows"] == 0
    assert recs["e0:commit"]["single_partition_windows"] == 1


ORDER = [(0, "http://host0.test/p/0/a", 0), (1, "http://host0.test/p/1/b", 0),
         (2, "http://host1.test/p/0/c", 1)]
SEEN = {u for _, u, _ in ORDER} | {"http://host1.test/p/2/d"}


def test_digest_accepts_the_same_crawl():
    assert mismatches(crawl_digest(ORDER, SEEN), crawl_digest(list(ORDER), set(SEEN))) == []


def test_digest_fails_when_two_order_rows_are_swapped():
    swapped = [ORDER[1], ORDER[0], ORDER[2]]
    assert mismatches(crawl_digest(ORDER, SEEN), crawl_digest(swapped, SEEN)) == [
        "order_sha256"
    ]
    # the same urls under swapped sequence numbers fail too
    relabeled = [(0, ORDER[1][1], 0), (1, ORDER[0][1], 0), ORDER[2]]
    assert "order_sha256" in mismatches(crawl_digest(ORDER, SEEN),
                                        crawl_digest(relabeled, SEEN))


def test_digest_fails_on_a_different_seen_set():
    got = crawl_digest(ORDER, SEEN - {"http://host1.test/p/2/d"})
    assert mismatches(crawl_digest(ORDER, SEEN), got) == ["seen_sha256", "n_seen"]


def test_summary_reports_sample_count():
    s = summarize([3.0, 1.0, 2.0])
    assert s["n"] == 3 and s["p50"] == 2.0
    assert s["hi_pct"] is None  # no percentile has ten samples above it
    s = summarize(range(1, 101))
    assert s["n"] == 100
    assert (s["hi_pct"], s["hi"]) == (90.0, 90)
    with pytest.raises(ValueError):
        summarize([])
