import os

import pytest

from perfbench.eventlog import aggregate, read_events

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_aggregates_tasks_in_window():
    out = aggregate(read_events(FIXTURE), (2000, 3000), cores=4)
    assert out["spark.jobs"] == 2
    assert out["spark.stages"] == 3
    assert out["spark.tasks"] == 4
    assert out["spark.executor_run_ms"] == 510
    assert out["spark.executor_cpu_ms"] == pytest.approx(425.0)
    assert out["spark.gc_ms"] == 10
    assert out["spark.input_bytes"] == 10_050
    assert out["spark.input_records"] == 1_005
    assert out["spark.shuffle_write_bytes"] == 768
    assert out["spark.shuffle_read_bytes"] == 768
    assert out["spark.spill_bytes"] == 96
    assert out["spark.core_busy_frac"] == pytest.approx(510 / (1000 * 4))


def test_input_records_attributed_to_job_group():
    out = aggregate(read_events(FIXTURE), (0, 10_000), cores=1)
    assert out["input_records_by_group"] == {"warm#0": 10, "product_sales#7": 1000}
