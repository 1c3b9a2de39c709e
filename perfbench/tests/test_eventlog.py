import json

from perfbench import eventlog as EL


def _task(stage, run_ms, cpu_ns, gc_ms, shuffle_w=0, shuffle_r=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Stage Attempt ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {"Task ID": 0, "Launch Time": 0, "Finish Time": 1},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_r},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "App Name": "t", "Timestamp": 900},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "stage:docs:1"}},
    _task(0, 10, 5_000_000, 1, shuffle_w=100),
    _task(0, 20, 7_000_000, 0, shuffle_w=50),
    _task(1, 30, 9_000_000, 2, shuffle_r=150, spill=4),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100, "Job Result": {"Result": "JobSucceeded"}},
    # job 1 lists stage 1 again but skips it; its own stage 2 runs one task
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1050, "Stage IDs": [1, 2],
     "Properties": {}},
    _task(2, 5, 1_000_000, 0),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1300,
     "Job Result": {"Result": "JobFailed"}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 2000, "Stage IDs": [3],
     "Properties": {"spark.job.description": None}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2010, "Job Result": {"Result": "JobSucceeded"}},
]


def _write_rolling(tmp_path, events, per_file=4):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "appstatus_local-1.inprogress").write_text("")
    chunks = [events[i:i + per_file] for i in range(0, len(events), per_file)]
    # more than nine files, so that text order and index order differ
    chunks += [[] for _ in range(11 - len(chunks))]
    for i, chunk in enumerate(chunks, start=1):
        (d / f"events_{i}_local-1").write_text("".join(json.dumps(e) + "\n" for e in chunk))
    return tmp_path


def test_parse_jobs_totals(tmp_path):
    jobs = EL.load_jobs(str(_write_rolling(tmp_path, EVENTS)))
    assert [j.job_id for j in jobs] == [0, 1, 2]
    j0, j1, j2 = jobs
    assert j0.description == "stage:docs:1"
    assert (j0.tasks, j0.cpu_ns, j0.gc_ms) == (3, 21_000_000, 3)
    assert (j0.shuffle_write_bytes, j0.spill_bytes) == (150, 4)
    assert (j0.submit_ms, j0.end_ms) == (1000, 1100)
    assert (j1.tasks, j1.cpu_ns, j1.end_ms) == (1, 1_000_000, 1300)
    assert j1.description == "" and j2.description == ""
    assert j2.tasks == 0


def test_event_files_follow_the_rolling_index(tmp_path):
    files = EL.event_files(str(_write_rolling(tmp_path, EVENTS)))
    names = [f.rsplit("/", 1)[1] for f in files if "events_" in f]
    assert names == [f"events_{i}_local-1" for i in range(1, 12)]


def test_jobs_between_and_covered_ms():
    jobs = EL.parse_jobs(EVENTS)
    assert [j.job_id for j in EL.jobs_between(jobs, 1000, 1200)] == [0, 1]
    # [1000,1100] and [1050,1300] overlap: covered is 300 ms, clipped to the window
    assert EL.covered_ms(jobs[:2], 900, 1400) == 300
    assert EL.covered_ms(jobs[:2], 1050, 1200) == 150
    assert EL.covered_ms(jobs, 900, 3000) == 310
    assert EL.covered_ms([], 0, 10) == 0
