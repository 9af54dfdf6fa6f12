"""The event-log parser on a small captured log (two job groups and
ungrouped work from a local[2] session, trimmed to the events the
parser reads)."""

import os

import tracing

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                   "eventlog_small.json")


def test_per_group_counters_sum_to_known_values():
    g = tracing.parse_event_log(LOG)
    assert g["r1"]["jobs"] == 1 and g["r2"]["jobs"] == 2
    assert g["r1"]["tasks"] == 3 and g["r2"]["tasks"] == 3
    assert g["r1"]["executor_run_ms"] == 284
    assert g["r2"]["executor_run_ms"] == 229
    assert g["r1"]["shuffle_write_bytes"] == 0
    assert g["r2"]["shuffle_write_bytes"] == 266
    assert g["r1"]["result_bytes"] == 15072
    assert g["r2"]["result_bytes"] == 9416
    # Job wall: completion minus submission, summed over the group's jobs.
    assert abs(g["r1"]["job_wall_s"] - 0.203) < 1e-9
    assert abs(g["r2"]["job_wall_s"] - (0.141 + 0.057)) < 1e-9


def test_jobs_outside_any_group_are_reported():
    g = tracing.parse_event_log(LOG)
    ungrouped = g[tracing.UNGROUPED]
    assert ungrouped["jobs"] == 3
    assert ungrouped["tasks"] == 5
    assert ungrouped["executor_run_ms"] == 260
    total_tasks = sum(c["tasks"] for c in g.values())
    with open(LOG) as f:
        assert total_tasks == sum('"SparkListenerTaskEnd"' in line for line in f)
