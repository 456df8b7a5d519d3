"""``run_pipeline`` runs its stages as a DAG: stages that do not read each
other's output are written side by side, their jobs stay in the caller's
job group, a failing stage leaves no thread behind and a rerun resumes,
and the written tables do not depend on how the writes interleave."""

from __future__ import annotations

import json
import os
import threading
import time
import uuid

import pytest

import kgforge.pipeline.run as run_mod
from kgforge.fixtures import pages_df
from kgforge.pipeline.run import run_pipeline
from kgforge.sinks.materialize import content_fingerprint
from pyspark.util import InheritableThread

OPTIONS = {"dedup": "near", "extended_checks": True}
# how long a stage write waits for the stage it should overlap with
OVERLAP_WAIT_S = 60


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_df(spark, 40).persist()
    df.count()
    yield df
    df.unpersist()


def _stage_threads() -> list[threading.Thread]:
    return [t for t in threading.enumerate() if isinstance(t, InheritableThread) and t.is_alive()]


def _recording_write_stage(monkeypatch, waits: dict[str, str]):
    """Rebind ``run_pipeline``'s ``write_stage``: each stage records when it
    starts and returns, and a stage named in ``waits`` first waits (up to
    OVERLAP_WAIT_S) for the stage it maps to to start."""
    started = {s: threading.Event() for s in waits.values()}
    log: dict[str, list[float]] = {}
    orig = run_mod.write_stage

    def write_stage(build, path, stage, *args, **kwargs):
        log[stage] = [time.monotonic()]
        if stage in started:
            started[stage].set()
        if stage in waits:
            started[waits[stage]].wait(OVERLAP_WAIT_S)
        try:
            return orig(build, path, stage, *args, **kwargs)
        finally:
            log[stage].append(time.monotonic())

    monkeypatch.setattr(run_mod, "write_stage", write_stage)
    return log


def test_independent_stage_writes_overlap(spark, pages, tmp_path, monkeypatch):
    """mentions starts before parse's write returns, and the report stage
    before validate_accept's write returns."""
    log = _recording_write_stage(
        monkeypatch, {"parse": "mentions", "validate_accept": "constraint_reports"}
    )
    run_pipeline(pages, str(tmp_path / "w"), **OPTIONS)
    assert log["mentions"][0] < log["parse"][1]
    assert log["constraint_reports"][0] < log["validate_accept"][1]
    assert _stage_threads() == []


def test_failing_stage_raises_leaves_no_thread_and_resumes(spark, pages, tmp_path, monkeypatch):
    """The report builder fails while the verdict writes run: run_pipeline
    waits for them, starts no later stage and raises the report's error;
    no stage thread is left, and a rerun with the same run_id keeps the
    completed stages and writes the rest."""
    work = str(tmp_path / "w")
    accept_started = threading.Event()
    orig = run_mod.write_stage

    def write_stage(build, path, stage, *args, **kwargs):
        if stage == "validate_accept":
            accept_started.set()
        return orig(build, path, stage, *args, **kwargs)

    def broken(triples, shapes):
        accept_started.wait(OVERLAP_WAIT_S)
        raise RuntimeError("report stage failed")

    monkeypatch.setattr(run_mod, "write_stage", write_stage)
    monkeypatch.setattr(run_mod, "constraint_reports", broken)
    with pytest.raises(RuntimeError, match="report stage failed"):
        run_pipeline(pages, work, **OPTIONS)
    assert _stage_threads() == []
    mdir = os.path.join(work, "_manifests")
    done = {}
    for name in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, name)) as fh:
            rec = json.load(fh)
        done[rec["stage"]] = rec
    assert {"dedup", "parse", "mentions", "validate_accept", "validate_reject"} == set(done)

    monkeypatch.undo()
    run_pipeline(pages, work, **OPTIONS)
    for stage, rec in done.items():
        with open(os.path.join(mdir, f"run1__{stage}.json")) as fh:
            assert json.load(fh) == rec  # resumed, not rewritten
    for stage in ("constraint_reports", "canonicalize", "materialize_s", "materialize_o"):
        with open(os.path.join(mdir, f"run1__{stage}.json")) as fh:
            assert json.load(fh)["status"] == "complete"
    assert _stage_threads() == []


def test_every_job_of_a_call_is_in_the_callers_job_group(spark, pages, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"dag-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        run_pipeline(pages, str(tmp_path / "w"), **OPTIONS)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(tracker.getJobIdsForGroup(group)) > 0
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped == set()


def test_stage_tables_do_not_depend_on_write_order(spark, pages, tmp_path):
    """Two calls interleave their stage writes differently; every stage
    table has the same content."""
    tables = ["pages_dedup", "parsed", "mentions", "accepted", "rejected", "reports",
              "canonical_map", "graph/spo_s", "graph/spo_p", "graph/spo_o"]
    fps = []
    for i in range(2):
        work = str(tmp_path / f"w{i}")
        run_pipeline(pages, work, **OPTIONS)
        fps.append({t: content_fingerprint(spark.read.parquet(os.path.join(work, t)))
                    for t in tables})
    assert fps[0] == fps[1]
