"""Self-tests of the benchmark's tracer: job attribution, self times and
stage accounting.

    python3 -m pytest perfbench/tests -q
"""

import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench.trace import StatusStore, Tracer, pass_counters, stage_totals  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from soweego_spark.session import get_spark

    s = get_spark(cpus=2, shuffle_partitions=4, app_name="perfbench-tests",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_shuffle_charged_to_the_layer_that_shuffles(spark):
    from pyspark.sql import functions as F

    sc = spark.sparkContext
    tracer = Tracer(sc, "toy")
    df = spark.range(20000, numPartitions=4)
    with tracer.span("pass") as top:
        with tracer.span("narrow") as narrow:
            mapped = df.select((F.col("id") * 3).alias("v")).cache()
            mapped.write.format("noop").mode("overwrite").save()
        with tracer.span("wide") as wide:
            mapped.groupBy((F.col("v") % 10).alias("k")).count().collect()
    per_span, placed = pass_counters(StatusStore(sc), tracer)
    mapped.unpersist()

    assert placed == 0
    assert per_span[narrow.sid]["jobs"] >= 1
    assert per_span[narrow.sid]["shuffle_mb"] == 0
    assert per_span[wide.sid]["shuffle_mb"] > 0
    assert per_span[top.sid]["jobs"] == 0
    selfs = tracer.self_times()
    children = selfs[narrow.sid] + selfs[wide.sid]
    assert children + selfs[top.sid] == pytest.approx(top.wall, abs=1e-6)
    assert selfs[top.sid] < 0.05 * top.wall


def test_skipped_stage_is_not_a_failure():
    ran = {"status": "COMPLETE", "executorRunTime": 1500,
           "executorCpuTime": 10**9, "shuffleReadBytes": 0,
           "shuffleWriteBytes": 2**20, "numCompleteTasks": 4,
           "numFailedTasks": 0}
    store = {1: [ran], 2: [{"status": "SKIPPED", "numTasks": 4}]}

    def lookup(sid):
        if sid not in store:  # the store never saw it
            raise LookupError(sid)
        return store[sid]

    tot = stage_totals([{"jobId": 0, "stageIds": [1, 2, 3]}], lookup)
    assert tot["stages"] == 1
    assert tot["skipped_stages"] == 2
    assert tot["failed_tasks"] == 0
    assert tot["tasks"] == 4
    assert tot["task_s"] == 1.5 and tot["cpu_s"] == 1.0
    assert tot["shuffle_mb"] == 1.0


def test_stage_unknown_to_the_store_is_skipped(spark):
    lookup = StatusStore(spark.sparkContext).stage_lookup()
    with pytest.raises(LookupError):  # lastStageAttempt raised
        lookup(10**6)
    tot = stage_totals([{"stageIds": [10**6]}], lookup)
    assert tot["skipped_stages"] == 1 and tot["failed_tasks"] == 0


def test_reused_stage_is_charged_once():
    ran = [{"status": "COMPLETE", "executorRunTime": 1000,
            "numCompleteTasks": 2}]
    charged: set = set()
    first = stage_totals([{"stageIds": [7]}], lambda sid: ran, charged)
    again = stage_totals([{"stageIds": [7]}], lambda sid: ran, charged)
    assert first["task_s"] == 1.0 and again["task_s"] == 0


def test_thread_pool_jobs_go_to_the_open_span(spark):
    sc = spark.sparkContext
    tracer = Tracer(sc, "pool")
    df = spark.range(1000, numPartitions=2)
    with tracer.span("pass"):
        with tracer.span("eval") as ev:
            df.count()  # grouped: same thread as the span
            with ThreadPoolExecutor(max_workers=2) as pool:
                futures = [pool.submit(df.count), pool.submit(df.count)]
                assert [f.result() for f in futures] == [1000, 1000]
    per_span, placed = pass_counters(StatusStore(sc), tracer)

    grouped = [j for j in ev.jobs if j.get("jobGroup") == ev.group]
    assert len(grouped) >= 1
    assert placed == len(ev.jobs) - len(grouped) >= 2
    assert per_span[ev.sid]["jobs"] == len(ev.jobs)
