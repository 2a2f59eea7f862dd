"""Tests of the benchmark's pure helpers; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json

import pytest

from perfbench import inputs, spans, stats


# ---------------------------------------------------------------- stats


def test_percentile_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 0.90) == 10
    assert stats.samples_beyond(99, 0.90) == 9
    assert stats.percentile(list(range(99)), 0.90) is None
    assert stats.percentile(list(range(1, 101)), 0.90) == 90


def test_summarize_reports_median_always_and_counts():
    s = stats.summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    s = stats.summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p50"] == 50.5 and s["p90"] == 90.0
    assert stats.summarize([]) == {"n": 0}


# ---------------------------------------------------------------- intervals


@pytest.mark.parametrize(
    "intervals, expected",
    [
        ([], 0.0),
        ([(0, 10)], 10.0),
        ([(0, 10), (5, 15)], 15.0),  # overlap
        ([(0, 10), (2, 3)], 10.0),  # nested
        ([(0, 1), (5, 6)], 2.0),  # disjoint
        ([(5, 6), (0, 1), (0.5, 5.5)], 6.0),  # unsorted, bridging
        ([(3, 3), (4, 2)], 0.0),  # empty and inverted
    ],
)
def test_union_length(intervals, expected):
    assert spans.union_length(intervals) == pytest.approx(expected)


def test_driver_gap_clips_jobs_to_the_span():
    # span [100, 200]; jobs cover [90, 120] and [150, 160] and [250, 300]
    gap = spans.driver_gap(100, 200, [(90, 120), (150, 160), (250, 300)])
    assert gap == pytest.approx(100 - 20 - 10)
    assert spans.driver_gap(0, 50, []) == 50


# ---------------------------------------------------------------- event log


def _job_start(job, t, stages, group=None, batch=None):
    props = {}
    if group:
        props["spark.jobGroup.id"] = group
    if batch is not None:
        props["streaming.sql.batchId"] = str(batch)
    return json.dumps(
        {
            "Event": "SparkListenerJobStart",
            "Job ID": job,
            "Submission Time": t,
            "Stage IDs": stages,
            "Properties": props,
        }
    )


def _task_end(stage, run_ms, cpu_ns, read=0, write=0, inp=0, out=0):
    return json.dumps(
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": cpu_ns,
                "JVM GC Time": 1,
                "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
                "Input Metrics": {"Bytes Read": inp},
                "Output Metrics": {"Bytes Written": out},
            },
        }
    )


def _stage_done(stage):
    return json.dumps({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}})


def _job_end(job, t):
    return json.dumps({"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t})


LOG = [
    json.dumps({"Event": "SparkListenerApplicationStart", "Timestamp": 0}),
    _job_start(0, 1000, [0, 1], group="lookup#1"),
    _task_end(0, 5, 2_000_000, write=70, inp=300),
    _task_end(0, 7, 3_000_000, write=30, inp=100),
    _stage_done(0),
    _task_end(1, 4, 1_000_000, read=100, out=50),
    _stage_done(1),
    _job_end(0, 1040),
    # a streaming batch job: group is the query run id, batch id 3
    _job_start(1, 2010, [2, 3], group="3f0c-run-id", batch=3),
    _task_end(2, 10, 4_000_000),
    _stage_done(2),  # stage 3 was skipped: never completes
    _job_end(1, 2100),
    # no group, no batch id: falls back to the span holding its start
    _job_start(2, 2500, [4]),
    _job_end(2, 2600),
    # before every span (warm-up): left unattributed
    _job_start(3, 10, [5]),
    _job_end(3, 20),
]


def test_parse_event_log_counts_per_job():
    jobs = spans.parse_event_log(LOG)
    assert set(jobs) == {0, 1, 2, 3}
    c = jobs[0].counters
    assert c["jobs"] == 1 and c["stages"] == 2 and c["tasks"] == 3
    assert c["exec_run_ms"] == 16 and c["exec_cpu_ms"] == pytest.approx(6.0)
    assert c["gc_ms"] == 3
    assert (c["shuffle_write_bytes"], c["shuffle_read_bytes"]) == (100, 100)
    assert (c["input_bytes"], c["output_bytes"]) == (400, 50)
    assert (jobs[0].start_ms, jobs[0].end_ms) == (1000, 1040)
    assert jobs[1].counters["stages"] == 1  # the skipped stage is not counted
    assert (jobs[1].group, jobs[1].batch_id) == ("3f0c-run-id", "3")


def test_attribute_by_group_then_batch_id_then_time():
    jobs = spans.parse_event_log(LOG)
    sp = [
        spans.Span("lookup", 990, 1050, group="lookup#1"),
        # an earlier batch with the same id must not claim job 1
        spans.Span("batch", 1100, 1900, batch_id="3"),
        spans.Span("batch", 1950, 2200, batch_id="3"),
        spans.Span("scan", 2400, 2700, group="scan#2"),
        spans.Span("pass", 900, 3000),
    ]
    got = {i: sorted(j.job_id for j in js) for i, js in spans.attribute(jobs, sp).items()}
    assert got == {0: [0], 2: [1], 3: [2]}
    c = spans.span_counters(sp[2], [jobs[1]])
    assert c["jobs"] == 1 and c["tasks"] == 1
    assert c["driver_gap_ms"] == pytest.approx(250 - 90)


def test_read_event_logs_reads_every_file(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(LOG[:8]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(LOG[8:]) + "\n")
    (d / "appstatus_local-1").write_text("")
    jobs = spans.read_event_logs(str(tmp_path))
    assert set(jobs) == {0, 1, 2, 3}


# ---------------------------------------------------------------- inputs


def test_documents_are_seeded():
    a = inputs.make_documents(120, seed=5)
    b = inputs.make_documents(120, seed=5)
    c = inputs.make_documents(120, seed=6)
    assert a.equals(b)
    assert not a.equals(c)
    assert list(a["doc_id"]) == list(range(120))


def test_batch_dedup_truth_on_planted_duplicates():
    import pandas as pd

    base = " ".join(f"word{i:03d}x" for i in range(60))
    near = base.replace("word030x", "other30y")
    other = " ".join(f"zeta{i:03d}q" for i in range(60))
    docs = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": [base, other, base, near]}
    )
    t = inputs.batch_dedup_truth(docs, threshold=0.5)
    assert t["keepers"] == {"0": 0, "1": 1, "2": 0, "3": 0}
    assert t["accepted_rows"] == 2
    assert t["accepted_chars"] == len(base) + len(other)
    # doc 2 repeats every chunk of doc 0; doc 3 differs in one 8-word chunk
    assert t["chunks"]["2"][:2] == [8, 0] and t["chunks"]["2"][2] == ""
    assert t["chunks"]["3"][:2] == [8, 1]
    assert t["chunks"]["0"] == [8, 8, base]


def test_batch_dedup_truth_per_prefix():
    import pandas as pd

    base = " ".join(f"word{i:03d}x" for i in range(60))
    near = base.replace("word030x", "other30y")
    other = " ".join(f"zeta{i:03d}q" for i in range(60))
    docs = pd.DataFrame({"doc_id": [0, 1, 2, 3], "text": [base, other, base, near]})
    t = inputs.batch_dedup_truth(docs, threshold=0.5, bounds=[1, 3, 4], keys=[2, 3])
    assert [(p["doc_end"], p["rows"], p["chars"]) for p in t["prefixes"]] == [
        (1, 1, len(base)),
        (3, 2, len(base) + len(other)),
        (4, 2, len(base) + len(other)),
    ]
    assert [p["lookups"] for p in t["prefixes"]] == [
        {"2": None, "3": None},
        {"2": 0, "3": None},
        {"2": 0, "3": 0},
    ]


def test_cache_key_follows_the_oracle_sources(tmp_path, monkeypatch):
    for rel in inputs.ORACLE_SOURCES:
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_text(rel)
    before = inputs.sources_hash(str(tmp_path))
    assert inputs.sources_hash(str(tmp_path)) == before
    (tmp_path / inputs.ORACLE_SOURCES[1]).write_text("changed")
    assert inputs.sources_hash(str(tmp_path)) != before


def test_chunk_truth_drops_repeats_within_one_document():
    import pandas as pd

    chunk = " ".join(f"w{i}" for i in range(8))
    docs = pd.DataFrame({"doc_id": [0], "text": [chunk + " " + chunk + " tail"]})
    t = inputs.batch_dedup_truth(docs, threshold=0.5)
    assert t["chunks"]["0"] == [3, 2, chunk + " tail"]
