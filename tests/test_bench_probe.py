"""bench.TaskTimeProbe.harvest against canned status-API replies: each
finished job counts once, a running job waits for its finish, a
retried stage counts its latest attempt only, and a harvest that may
have lost jobs to UI eviction reports None."""

from __future__ import annotations

import importlib

bench = importlib.import_module("bench")


def _probe(monkeypatch, replies):
    probe = object.__new__(bench.TaskTimeProbe)
    probe.base, probe._watermark, probe._counted = "http://ui", -1, set()
    monkeypatch.setattr(
        bench, "_rest_json", lambda url: replies["stages" if "/stages" in url else "jobs"]
    )
    return probe


def test_harvest_latest_attempt_and_running_jobs(monkeypatch):
    replies = {
        "jobs": [
            {"jobId": 0, "status": "SUCCEEDED", "stageIds": [0]},
            {"jobId": 1, "status": "RUNNING", "stageIds": [1]},
            {"jobId": 2, "status": "SUCCEEDED", "stageIds": [2]},
        ],
        "stages": [
            {"stageId": 0, "attemptId": 0, "executorRunTime": 5000},
            {"stageId": 0, "attemptId": 1, "executorRunTime": 1000},
            {"stageId": 2, "attemptId": 0, "executorRunTime": 2000},
        ],
    }
    probe = _probe(monkeypatch, replies)
    assert probe.harvest() == 3.0  # stage 0 attempt 1 + stage 2
    assert probe._watermark == 0

    replies["jobs"][1]["status"] = "SUCCEEDED"
    replies["jobs"].append({"jobId": 3, "status": "SUCCEEDED", "stageIds": [3]})
    replies["stages"] += [
        {"stageId": 1, "attemptId": 0, "executorRunTime": 4000},
        {"stageId": 3, "attemptId": 0, "executorRunTime": 500},
    ]
    assert probe.harvest() == 4.5  # jobs 1 and 3; job 2 is not counted again
    assert probe._watermark == 3 and probe._counted == set()
    assert probe.harvest() == 0.0


def test_harvest_none_when_jobs_may_be_evicted(monkeypatch):
    n = bench.RETAINED_JOBS
    replies = {
        "jobs": [{"jobId": i, "status": "SUCCEEDED", "stageIds": [i]} for i in range(n)],
        "stages": [{"stageId": i, "attemptId": 0, "executorRunTime": 1000} for i in range(n)],
    }
    probe = _probe(monkeypatch, replies)
    assert probe.harvest() is None  # a full retention window: older jobs may be gone
    assert probe._watermark == n - 1

    replies["jobs"] = replies["jobs"][1:] + [{"jobId": n, "status": "SUCCEEDED", "stageIds": [n]}]
    replies["stages"].append({"stageId": n, "attemptId": 0, "executorRunTime": 250})
    assert probe.harvest() == 0.25  # one new job: nothing can have been lost
