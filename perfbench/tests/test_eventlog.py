import json

from perfbench import eventlog


def _task(stage, launch, finish, *, failed=False, shuffle_read=0,
          shuffle_write=0, spill=0, records=0, py=(0, 0)):
    acc = [{"ID": 1, "Name": eventlog.PY_SENT, "Update": str(py[0])},
           {"ID": 2, "Name": eventlog.PY_RECV, "Update": str(py[1])},
           {"ID": 3, "Name": "number of output rows", "Update": "7"}]
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish,
                      "Failed": failed, "Killed": False, "Accumulables": acc},
        "Task Metrics": {
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                     "Local Bytes Read": shuffle_read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
            "Input Metrics": {"Records Read": records},
        },
    }


def _log():
    plan = {"nodeName": "Scan parquet",
            "metrics": [{"name": "number of files read", "accumulatorId": 99}],
            "children": []}
    ev = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 5, "sparkPlanInfo": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "span:3",
                                             "spark.sql.execution.id": "5"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
        _task(0, 1000, 1100, shuffle_write=500, records=40, py=(10, 20)),
        _task(0, 1000, 1300, shuffle_write=300, records=60, py=(5, 5)),
        _task(0, 1000, 1200, failed=True),
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 1}},
        _task(1, 1300, 1400, shuffle_read=800, spill=64),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates",
         "executionId": 5, "accumUpdates": [[99, 2], [7, 1000]]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
        _task(2, 2000, 2050),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    return eventlog.parse_lines(json.dumps(e) + "\n" for e in ev)


def test_jobs_are_attributed_to_their_description():
    log = _log()
    assert eventlog.span_of(log.jobs[0]) == 3
    assert eventlog.span_of(log.jobs[1]) is None
    assert (log.jobs[0].start_ms, log.jobs[0].end_ms) == (1000, 1500)


def test_stage_and_job_totals():
    log = _log()
    s = log.summary([log.jobs[0]], cores=4)
    assert s["jobs"] == 1 and s["tasks"] == 3  # the failed task is a retry
    assert s["task_s"] == (100 + 300 + 100) / 1000
    assert s["wall_s"] == 0.5
    assert s["core_util"] == 500 / (500 * 4)
    assert s["task_skew"] == 300 / 200
    assert s["shuffle_write_bytes"] == 800 and s["shuffle_read_bytes"] == 800
    assert s["spill_bytes"] == 64
    # one failed task in stage 0, one extra attempt of stage 1
    assert s["task_retries"] == 2
    assert s["records_read"] == 100
    assert (s["python_bytes_sent"], s["python_bytes_received"]) == (15, 25)
    assert s["files_read"] == 2


def test_jobs_without_a_span_stay_out_of_a_span_summary():
    log = _log()
    both = log.summary(list(log.jobs.values()), cores=4)
    assert both["tasks"] == 4 and both["files_read"] == 2
