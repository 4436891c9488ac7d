"""Detached-job journal (reference parity: a detached job stays
observable after the submitting client disconnects —
main_service job_watcher.py:259,294-301). A completed detach's results
must be listable and fetchable from a DIFFERENT process with its own
SparkSession; the in-flight-only divergence is documented in jobs.py."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

from burla_spark import jobs
from burla_spark.rpm import remote_parallel_map


@pytest.fixture()
def journal_dir(spark, tmp_path):
    d = str(tmp_path / "jobs")
    spark.conf.set("spark.burla.jobJournalDir", d)
    yield d
    spark.conf.unset("spark.burla.jobJournalDir")


def test_detach_journals_and_fetches_in_session(spark, journal_dir):
    job = remote_parallel_map(lambda x: x * 10, range(20), spark=spark, detach=True)
    assert sorted(job.result(timeout=120)) == [x * 10 for x in range(20)]
    listed = jobs.list_jobs(spark)
    assert [d["job_id"] for d in listed] == [job.job_id]
    assert listed[0]["status"] == "done"
    assert listed[0]["n_results"] == 20
    fetched = jobs.fetch_results(spark, job.job_id)
    assert sorted(fetched) == [x * 10 for x in range(20)]


def test_journaled_error_rows_rehydrate_on_fetch(spark, journal_dir):
    def boom(x):
        if x == 3:
            raise ValueError("input three is bad")
        return x

    job = remote_parallel_map(boom, range(5), spark=spark, detach=True)
    with pytest.raises(ValueError):
        job.result(timeout=120)
    # the journal still completed (error rows journal too) and a later
    # fetch re-raises with input attribution, like the live call.
    assert jobs.list_jobs(spark)[0]["status"] == "done"
    with pytest.raises(ValueError) as excinfo:
        jobs.fetch_results(spark, job.job_id)
    assert excinfo.value.burla_input_index == 3


def test_fetch_unknown_job_raises_keyerror(spark, journal_dir):
    with pytest.raises(KeyError):
        jobs.fetch_results(spark, "burla-job-nope")


def test_running_manifest_refuses_fetch(spark, journal_dir):
    jobs.journal_start(spark, "burla-job-running", n_inputs=4)
    with pytest.raises(RuntimeError, match="still running"):
        jobs.fetch_results(spark, "burla-job-running")


def test_cross_process_detach_fetch(spark, journal_dir):
    """The contract the journal exists for: a job submitted and
    completed in ANOTHER python process (its own SparkSession, now
    exited) is listed and its results fetched here."""
    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from burla_spark.session import get_spark
        from burla_spark.rpm import remote_parallel_map
        spark = get_spark(app_name="journal_child", shuffle_partitions=4)
        spark.conf.set("spark.burla.jobJournalDir", {journal_dir!r})
        job = remote_parallel_map(lambda x: x + 100, range(8), spark=spark, detach=True)
        job.result(timeout=120)
        print("JOB_ID=" + job.job_id)
        spark.stop()
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    job_id = [
        line.split("=", 1)[1]
        for line in proc.stdout.splitlines()
        if line.startswith("JOB_ID=")
    ][0]
    # submitter process is gone; this session reads the journal.
    assert any(d["job_id"] == job_id and d["status"] == "done" for d in jobs.list_jobs(spark))
    assert sorted(jobs.fetch_results(spark, job_id)) == [x + 100 for x in range(8)]
    with open(os.path.join(journal_dir, job_id, "manifest.json")) as fh:
        assert json.load(fh)["n_results"] == 8


def test_process_detach_survives_submitter_exit(spark, journal_dir):
    """The TRUE detach contract (reference A22: the computation itself
    outlives the client, job_watcher.py:259,294-301): a SUBMITTER
    process journals the payload, spawns the own-driver runner, and
    EXITS WITHOUT WAITING. The job must still run to completion — this
    session only watches the journal and fetches the results."""
    import time as _time

    child = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from burla_spark.session import get_spark
        from burla_spark.rpm import remote_parallel_map
        spark = get_spark(app_name="pd_submitter", shuffle_partitions=4)
        spark.conf.set("spark.burla.jobJournalDir", {journal_dir!r})
        h = remote_parallel_map(lambda x: x * 7, range(6), spark=spark, detach="process")
        print("JOB_ID=" + h.job_id)
        spark.stop()          # submitter exits IMMEDIATELY — no wait
        """
    )
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    job_id = [
        line.split("=", 1)[1]
        for line in proc.stdout.splitlines()
        if line.startswith("JOB_ID=")
    ][0]
    # the submitter is dead; the runner's own driver must finish the job
    handle = jobs.ProcessDetachedJob(spark, job_id, journal_dir=journal_dir)
    deadline = _time.monotonic() + 240
    while not handle.done():
        assert _time.monotonic() < deadline, (
            "process-detached job never finished; runner.log:\n"
            + open(os.path.join(journal_dir, job_id, "runner.log")).read()[-2000:]
        )
        _time.sleep(1.0)
    assert handle.status() == "done"
    assert sorted(handle.result(timeout=10)) == [x * 7 for x in range(6)]
    # heartbeats ran from process start: the manifest never looked dead
    assert sorted(jobs.fetch_results(spark, job_id)) == [x * 7 for x in range(6)]


def test_process_detach_cancel_from_observer(spark, journal_dir):
    """Cancel contract for process-detached jobs: any process sharing
    the journal dir flags the job; the runner's heartbeat loop
    interrupts it within one interval and journals status=canceled;
    the handle's result() then raises JobCanceled."""
    import time as _time

    def slow(x):
        import time

        time.sleep(30)
        return x

    from burla_spark.rpm import _cloudpickle

    cp = _cloudpickle()
    h = jobs.submit_process_detached(
        spark, cp.dumps(slow), [(i, cp.dumps(i)) for i in range(4)],
        journal_dir=journal_dir,
    )
    # cancel IMMEDIATELY — deliberately racing the runner's JVM boot:
    # a boot-time cancel short-circuits before submit, an in-flight one
    # is picked up by the heartbeat loop; both must end 'canceled'
    # (redrive keeps the flag for the runner path, clear_stale_cancel
    # =False, so the race has no lost-cancel window).
    deadline = _time.monotonic() + 180
    h.cancel()
    while h.status() == "running" and _time.monotonic() < deadline:
        _time.sleep(0.5)
    assert h.status() == "canceled", (
        f"status={h.status()}; runner.log:\n"
        + open(os.path.join(journal_dir, h.job_id, "runner.log")).read()[-2000:]
    )
    with pytest.raises(jobs.JobCanceled):
        h.result(timeout=10)


def test_cross_process_observes_running_then_fetches(spark, journal_dir):
    """Round-5 narrowing of the in-flight divergence (reference
    job_watcher.py:259,294-301): the manifest is journaled at SUBMIT
    with state running + a live heartbeat, so a second process can
    observe an in-flight detached job — and fetch its results once the
    submitter finishes."""
    import time

    child = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from burla_spark.session import get_spark
        from burla_spark.rpm import remote_parallel_map
        spark = get_spark(app_name="journal_running_child", shuffle_partitions=4)
        spark.conf.set("spark.burla.jobJournalDir", {journal_dir!r})
        def slow(x):
            time.sleep(6)
            return x * 7
        job = remote_parallel_map(slow, range(4), spark=spark, detach=True)
        print("JOB_ID=" + job.job_id, flush=True)
        job.result(timeout=180)
        spark.stop()
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child], stdout=subprocess.PIPE, text=True
    )
    try:
        job_id = None
        for line in proc.stdout:
            if line.startswith("JOB_ID="):
                job_id = line.strip().split("=", 1)[1]
                break
        assert job_id, "child never printed its job id"
        # observe RUNNING from THIS process while the child still works
        deadline = time.time() + 60
        seen_running = False
        while time.time() < deadline and proc.poll() is None:
            doc = next(
                (d for d in jobs.list_jobs(spark) if d["job_id"] == job_id), None
            )
            if doc and doc["status"] == "running":
                seen_running = True
                assert doc["heartbeat_at"] >= doc["started_at"]
                # a live job must refuse fetch with a live-heartbeat message
                with pytest.raises(RuntimeError, match="still running"):
                    jobs.fetch_results(spark, job_id)
                break
            time.sleep(0.2)
        assert seen_running, "never observed the in-flight running manifest"
        assert proc.wait(timeout=300) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
    assert sorted(jobs.fetch_results(spark, job_id)) == [x * 7 for x in range(4)]


def test_stale_heartbeat_reports_dead_driver(spark, journal_dir):
    """A running manifest whose heartbeat stopped (driver died mid-job)
    must say so instead of claiming the job is still running."""
    jobs.journal_start(spark, "burla-job-orphan", n_inputs=4)
    path = os.path.join(journal_dir, "burla-job-orphan", "manifest.json")
    with open(path) as fh:
        doc = json.load(fh)
    doc["heartbeat_at"] = doc["started_at"] = doc["heartbeat_at"] - 3600
    with open(path, "w") as fh:
        json.dump(doc, fh)
    with pytest.raises(RuntimeError, match="driver likely died"):
        jobs.fetch_results(spark, "burla-job-orphan")


def test_process_detached_handle_surfaces_orphan(spark, journal_dir):
    """ADVICE r10: a SIGKILLed runner leaves status='running' forever —
    the handle must detect the stale heartbeat and surface 'orphaned'
    (done() true, result() raises pointing at redrive) instead of
    polling a dead job indefinitely."""
    jobs.journal_start(spark, "burla-job-killed", n_inputs=4)
    path = os.path.join(journal_dir, "burla-job-killed", "manifest.json")
    with open(path) as fh:
        doc = json.load(fh)
    doc["heartbeat_at"] = doc["started_at"] = doc["heartbeat_at"] - 3600
    with open(path, "w") as fh:
        json.dump(doc, fh)
    h = jobs.ProcessDetachedJob(spark, "burla-job-killed", journal_dir=journal_dir)
    assert h.status() == "orphaned"
    assert h.done(), "orphaned job must not read as still-running"
    # result() must terminate (no infinite poll) and point at redrive
    with pytest.raises(RuntimeError, match="redrive"):
        h.result(timeout=None)
    # a LIVE running job (fresh heartbeat) still reads 'running'
    jobs.journal_start(spark, "burla-job-live", n_inputs=4)
    live = jobs.ProcessDetachedJob(spark, "burla-job-live", journal_dir=journal_dir)
    assert live.status() == "running"
    assert not live.done()


def test_cross_process_cancel_inflight_job(spark, journal_dir):
    """Reference A23 dashboard cancel, cross-process: another process
    flags a running detached job via the journal; the submitting
    driver's heartbeat thread interrupts it within one interval, the
    submitter's result() raises JobCanceled, the manifest flips to
    canceled, and a later fetch raises JobCanceled too."""
    import time

    child = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from burla_spark.session import get_spark
        from burla_spark.rpm import remote_parallel_map
        from burla_spark.jobs import JobCanceled
        spark = get_spark(app_name="journal_cancel_child", shuffle_partitions=4)
        spark.conf.set("spark.burla.jobJournalDir", {journal_dir!r})
        def slow(x):
            time.sleep(30)
            return x
        job = remote_parallel_map(slow, range(8), spark=spark, detach=True)
        print("JOB_ID=" + job.job_id, flush=True)
        try:
            job.result(timeout=180)
            print("RESULT_RETURNED", flush=True)
        except JobCanceled:
            print("CANCELED_OK", flush=True)
        spark.stop()
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child], stdout=subprocess.PIPE, text=True
    )
    try:
        job_id = None
        for line in proc.stdout:
            if line.startswith("JOB_ID="):
                job_id = line.strip().split("=", 1)[1]
                break
        assert job_id
        # wait until the manifest exists, then cancel from THIS process
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(d["job_id"] == job_id for d in jobs.list_jobs(spark)):
                break
            time.sleep(0.2)
        jobs.request_cancel(spark, job_id)
        rest = proc.stdout.read()
        assert proc.wait(timeout=180) == 0
        assert "CANCELED_OK" in rest, rest
    finally:
        if proc.poll() is None:
            proc.kill()
    doc = next(d for d in jobs.list_jobs(spark) if d["job_id"] == job_id)
    assert doc["status"] == "canceled"
    with pytest.raises(jobs.JobCanceled):
        jobs.fetch_results(spark, job_id)


def test_cancel_before_the_spark_job_starts_is_not_lost(spark, journal_dir, monkeypatch):
    """A cross-process cancel that lands before the detached job's
    Spark job exists finds no job to interrupt. The heartbeat keeps
    calling the cancel at every beat that sees the flag, so the job is
    interrupted once it starts instead of running to completion."""
    import time

    monkeypatch.setattr(jobs, "HEARTBEAT_INTERVAL_S", 0.1)
    df_type = type(spark.range(1))
    to_arrow = df_type.toArrow

    def late_to_arrow(df):
        time.sleep(1.0)  # the first beats see the flag before the job
        return to_arrow(df)

    monkeypatch.setattr(df_type, "toArrow", late_to_arrow)

    def slow(x):
        import time

        time.sleep(15)
        return x

    t0 = time.monotonic()
    job = remote_parallel_map(slow, range(4), spark=spark, detach=True)
    jobs.request_cancel(spark, job.job_id)
    with pytest.raises(jobs.JobCanceled):
        job.result(timeout=60)
    assert time.monotonic() - t0 < 10
    doc = next(d for d in jobs.list_jobs(spark) if d["job_id"] == job.job_id)
    assert doc["status"] == "canceled"


def test_unwritable_journal_degrades_to_in_process_detach(spark, tmp_path):
    """Fault injection for the journal fallback: a journal dir below a
    regular file cannot be created (even as root, unlike a chmod), so
    the manifest, the payload and the executors' acks all fail. The
    detached job must still return every result, journaling nothing."""
    blocker = tmp_path / "a_file"
    blocker.write_text("")
    jdir = str(blocker / "jobs")
    job = remote_parallel_map(
        lambda x: x * 2, range(10), spark=spark, detach=True, journal_dir=jdir
    )
    assert sorted(job.result(timeout=120)) == [x * 2 for x in range(10)]
    assert jobs.list_jobs(spark, jdir) == []
    assert blocker.is_file()


def test_request_cancel_unknown_job_raises(spark, journal_dir):
    with pytest.raises(KeyError):
        jobs.request_cancel(spark, "burla-job-nope")


def test_redrive_orphaned_job_after_driver_death(spark, journal_dir):
    """The deepest A22 narrowing: the submitting driver DIES mid-job
    (killed, not exited cleanly), the manifest is stuck at running
    with a stale heartbeat, and a second process re-drives the
    journaled function+inputs under the SAME job id — results land in
    the journal as if the original driver had finished."""
    import time

    child = textwrap.dedent(
        f"""
        import sys, time
        sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
        from burla_spark.session import get_spark
        from burla_spark.rpm import remote_parallel_map
        spark = get_spark(app_name="journal_orphan_child", shuffle_partitions=4)
        spark.conf.set("spark.burla.jobJournalDir", {journal_dir!r})
        def slow(x):
            time.sleep(15)
            return x * 5
        job = remote_parallel_map(slow, range(6), spark=spark, detach=True)
        print("JOB_ID=" + job.job_id, flush=True)
        job.result(timeout=300)
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", child], stdout=subprocess.PIPE, text=True
    )
    job_id = None
    for line in proc.stdout:
        if line.startswith("JOB_ID="):
            job_id = line.strip().split("=", 1)[1]
            break
    assert job_id
    proc.kill()
    proc.wait(timeout=30)

    # live-heartbeat guard: immediately after the kill the heartbeat is
    # still fresh, so redrive must refuse without force
    with pytest.raises(RuntimeError, match="live heartbeat"):
        jobs.redrive(spark, job_id)

    spark.conf.set("spark.burla.heartbeatStaleS", "3")
    try:
        time.sleep(4)  # let the dead driver's last heartbeat go stale
        doc = next(d for d in jobs.list_jobs(spark) if d["job_id"] == job_id)
        assert doc["status"] == "running" and doc["redrivable"] is True

        # redrive loads the JOURNALED function (15s sleeps included) and
        # re-runs it to completion under the original job id
        bg = jobs.redrive(spark, job_id)
        assert bg.job_id == job_id
        got = bg.result(timeout=300)
        assert sorted(got) == [x * 5 for x in range(6)]
    finally:
        spark.conf.unset("spark.burla.heartbeatStaleS")
    assert next(
        d for d in jobs.list_jobs(spark) if d["job_id"] == job_id
    )["status"] == "done"
    assert sorted(jobs.fetch_results(spark, job_id)) == [x * 5 for x in range(6)]


def test_redrive_refuses_completed_job(spark, journal_dir):
    job = remote_parallel_map(lambda x: x, range(3), spark=spark, detach=True)
    job.result(timeout=120)
    with pytest.raises(RuntimeError, match="not an orphaned running job"):
        jobs.redrive(spark, job.job_id)


# ---------------------------------------------------------------------------
# round 6: per-input ack journal — redrive RESUMES instead of restarting
# (reference ack/replay keeps completed inputs across client loss,
# client/src/burla/_node.py:463-524) — plus the heartbeat/claim races.
# ---------------------------------------------------------------------------
def _manufacture_orphan(
    spark, journal_dir, job_id, func, items, done=None, acks=None, torn=()
):
    """Journal state exactly as a dead driver would have left it:
    payload + running manifest with an hours-stale heartbeat, plus
    optional partial/ Arrow IPC acks for already-completed inputs —
    ``done`` ({idx: value}) as one file, ``acks`` as {file name:
    {idx: value}}. Each file named in ``torn`` is cut mid-file, as a
    crash during a write to shared storage leaves it."""
    import pyarrow as pa

    from burla_spark.rpm import _cloudpickle, result_schema

    cp = _cloudpickle()
    rows = [(i, cp.dumps(x)) for i, x in enumerate(items)]
    jobs.journal_payload(spark, job_id, cp.dumps(func), rows)
    jobs.journal_start(spark, job_id, len(rows), redrivable=True)
    path = os.path.join(journal_dir, job_id, "manifest.json")
    with open(path) as fh:
        doc = json.load(fh)
    doc["heartbeat_at"] = doc["started_at"] = doc["heartbeat_at"] - 3600
    with open(path, "w") as fh:
        json.dump(doc, fh)
    acks = dict(acks or {})
    if done:
        acks["part-manufactured.arrow"] = done
    pdir = os.path.join(journal_dir, job_id, "partial")
    for name, vals in acks.items():
        os.makedirs(pdir, exist_ok=True)
        n = len(vals)
        rb = pa.RecordBatch.from_pydict(
            {
                "idx": list(vals), "is_error": [False] * n,
                "payload": [cp.dumps(v) for v in vals.values()],
                "stdout": [""] * n, "error_type": [None] * n,
                "error_msg": [None] * n, "error_tb": [None] * n,
                "error_pkl": [None] * n,
            },
            schema=result_schema(),
        )
        path = os.path.join(pdir, name)
        with pa.ipc.new_file(path, rb.schema) as writer:
            writer.write_batch(rb)
        if name in torn:
            os.truncate(path, os.path.getsize(path) // 2)


def test_detached_job_acks_partials(spark, journal_dir):
    """Executors append per-input results to partial/ WHILE the job
    runs — the ack log a redrive resumes from — and the acks are
    cleaned up once the job reaches a terminal state (they are a
    second copy of every result, useful only mid-run)."""
    import pickle
    import time

    def fn(x):
        if x == 11:
            time.sleep(6)  # straggler holds the job open
        return x + 1

    job = remote_parallel_map(fn, range(12), spark=spark, detach=True)
    # fast inputs' acks must appear while the straggler still runs
    deadline = time.time() + 5.5
    seen = jobs.read_partial_results(journal_dir, job.job_id)
    while time.time() < deadline and seen.num_rows < 8:
        time.sleep(0.2)
        seen = jobs.read_partial_results(journal_dir, job.job_id)
    assert seen.num_rows >= 8 and not job.done, (
        f"only {seen.num_rows} acks before completion"
    )
    # check any acked input (a FIXED index can share a batch with the
    # straggler under unlucky hash partitioning and ack late — flaky)
    acked = dict(zip(seen.column("idx").to_pylist(), seen.column("payload").to_pylist()))
    k = min(k for k in acked if k != 11)
    assert pickle.loads(acked[k]) == k + 1
    assert sorted(job.result(timeout=120)) == list(range(1, 13))
    # terminal state: ack files cleaned, results served from parquet
    assert jobs.read_partial_results(journal_dir, job.job_id).num_rows == 0
    assert not os.path.isdir(os.path.join(journal_dir, job.job_id, "partial"))
    assert sorted(jobs.fetch_results(spark, job.job_id)) == list(range(1, 13))


def test_redrive_resumes_from_acked_inputs(spark, journal_dir, tmp_path):
    """The round-6 closing of the last detach gap: inputs whose results
    were acked before the driver died are NOT recomputed by redrive."""
    execs = tmp_path / "execs"
    execs.mkdir()
    exec_dir = str(execs)

    def fn(x):
        with open(os.path.join(exec_dir, f"exec_{x}"), "a") as fh:
            fh.write("ran\n")
        return x * 11

    _manufacture_orphan(
        spark, journal_dir, "burla-job-resume", fn, list(range(6)),
        done={0: 0, 1: 11, 2: 22},  # acked by the dead driver's tasks
    )
    bg = jobs.redrive(spark, "burla-job-resume")
    assert sorted(bg.result(timeout=120)) == [x * 11 for x in range(6)]
    # acked inputs never re-executed; the rest ran exactly once
    assert sorted(os.listdir(exec_dir)) == ["exec_3", "exec_4", "exec_5"]
    assert sorted(jobs.fetch_results(spark, "burla-job-resume")) == [
        x * 11 for x in range(6)
    ]
    assert next(
        d for d in jobs.list_jobs(spark) if d["job_id"] == "burla-job-resume"
    )["status"] == "done"


def test_redrive_with_all_inputs_acked_skips_compute(spark, journal_dir, tmp_path):
    execs = tmp_path / "execs2"
    execs.mkdir()
    exec_dir = str(execs)

    def fn(x):
        with open(os.path.join(exec_dir, f"exec_{x}"), "a") as fh:
            fh.write("ran\n")
        return x

    _manufacture_orphan(
        spark, journal_dir, "burla-job-allacked", fn, [0, 1, 2],
        done={0: 0, 1: 1, 2: 2},
    )
    bg = jobs.redrive(spark, "burla-job-allacked")
    assert sorted(bg.result(timeout=120)) == [0, 1, 2]
    assert os.listdir(exec_dir) == []  # nothing recomputed
    assert sorted(jobs.fetch_results(spark, "burla-job-allacked")) == [0, 1, 2]


def test_redrive_recomputes_inputs_of_a_torn_ack(spark, journal_dir, tmp_path):
    """Lost partial acks → restart-style redrive: a truncated ack file
    is skipped, and redrive recomputes exactly the inputs it held."""
    execs = tmp_path / "execs_torn"
    execs.mkdir()
    exec_dir = str(execs)

    def fn(x):
        with open(os.path.join(exec_dir, f"exec_{x}"), "a") as fh:
            fh.write("ran\n")
        return x * 11

    _manufacture_orphan(
        spark, journal_dir, "burla-job-tornack", fn, list(range(5)),
        acks={"part-a.arrow": {0: 0, 1: 11}, "part-b.arrow": {2: 22, 3: 33}},
        torn={"part-b.arrow"},
    )
    done = jobs.read_partial_results(journal_dir, "burla-job-tornack")
    assert done.column("idx").to_pylist() == [0, 1]
    bg = jobs.redrive(spark, "burla-job-tornack")
    assert sorted(bg.result(timeout=120)) == [x * 11 for x in range(5)]
    assert sorted(os.listdir(exec_dir)) == ["exec_2", "exec_3", "exec_4"]


def test_duplicate_ack_keeps_first_file_by_name(spark, journal_dir, tmp_path):
    """An idx acked twice (task retry / speculation) keeps the row of
    the first ack file by name, and redrive neither recomputes it nor
    returns it twice."""
    import pickle

    execs = tmp_path / "execs_dup"
    execs.mkdir()
    exec_dir = str(execs)

    def fn(x):
        with open(os.path.join(exec_dir, f"exec_{x}"), "a") as fh:
            fh.write("ran\n")
        return x * 11

    _manufacture_orphan(
        spark, journal_dir, "burla-job-dupack", fn, [0, 1, 2],
        acks={"part-b.arrow": {1: 999, 2: 22}, "part-a.arrow": {1: 111}},
    )
    done = jobs.read_partial_results(journal_dir, "burla-job-dupack")
    assert done.column("idx").to_pylist() == [1, 2]
    assert [pickle.loads(p) for p in done.column("payload").to_pylist()] == [111, 22]
    bg = jobs.redrive(spark, "burla-job-dupack")
    assert sorted(bg.result(timeout=120)) == [0, 22, 111]
    assert os.listdir(exec_dir) == ["exec_0"]
    assert sorted(jobs.fetch_results(spark, "burla-job-dupack")) == [0, 22, 111]


def test_heartbeat_never_unfinishes_manifest(spark, journal_dir):
    """Regression for the beat/finish race: heartbeats write a sidecar,
    never the manifest, so a beat that fires after completion cannot
    flip a done job back to running."""
    job = remote_parallel_map(lambda x: x, range(3), spark=spark, detach=True)
    job.result(timeout=120)
    jobs.journal_heartbeat(spark, job.job_id)  # late beat, post-completion
    doc = next(d for d in jobs.list_jobs(spark) if d["job_id"] == job.job_id)
    assert doc["status"] == "done"
    assert sorted(jobs.fetch_results(spark, job.job_id)) == [0, 1, 2]


def test_redrive_claim_blocks_concurrent_redrive(spark, journal_dir):
    """Two processes redriving the same orphan must not double-run:
    the second claimant fails while the first's claim is fresh."""
    import time

    def slow(x):
        time.sleep(20)
        return x

    _manufacture_orphan(spark, journal_dir, "burla-job-claimed", slow, [0, 1])
    bg = jobs.redrive(spark, "burla-job-claimed")
    try:
        with pytest.raises(RuntimeError, match="already being redriven"):
            jobs.redrive(spark, "burla-job-claimed", force=True)
    finally:
        bg.cancel()
        # wait for the job to actually end — a lingering active job
        # leaks into later tests' progress snapshots. A cancel that
        # raced the submission may have missed the tag, in which case
        # the job just runs to completion; either terminal state is a
        # clean exit here.
        try:
            bg.result(timeout=120)
        except jobs.JobCanceled:
            pass


def test_redrive_clears_stale_cancel_flag(spark, journal_dir):
    """A cancel aimed at the dead driver must not auto-cancel the
    redriven run within one heartbeat interval."""
    _manufacture_orphan(spark, journal_dir, "burla-job-stalecancel", lambda x: x + 7, [0, 1, 2])
    flag = os.path.join(journal_dir, "burla-job-stalecancel", "cancel_requested")
    with open(flag, "w") as fh:
        fh.write("0")
    bg = jobs.redrive(spark, "burla-job-stalecancel")
    assert sorted(bg.result(timeout=120)) == [7, 8, 9]
    assert not os.path.exists(flag)
    assert next(
        d for d in jobs.list_jobs(spark) if d["job_id"] == "burla-job-stalecancel"
    )["status"] == "done"


def test_redrive_releases_claim_on_failure(spark, journal_dir):
    """A redrive that fails after claiming (e.g. corrupt payload) must
    release its claim so a retry isn't refused for a staleness window."""
    _manufacture_orphan(spark, journal_dir, "burla-job-claimfail", lambda x: x, [0])
    pp = os.path.join(journal_dir, "burla-job-claimfail", "payload.pkl")
    with open(pp, "wb") as fh:
        fh.write(b"not a pickle")
    for _ in range(2):  # the second attempt must hit the SAME error,
        with pytest.raises(Exception) as ei:  # not a stuck claim
            jobs.redrive(spark, "burla-job-claimfail")
        assert "already being redriven" not in str(ei.value)


def test_claim_redrive_falls_back_when_hardlinks_unsupported(tmp_path, monkeypatch):
    """Shared-journal mounts (GCS/S3 FUSE, some NFS/SMB) don't support
    hardlinks — os.link raises ENOTSUP/EPERM, not FileExistsError. The
    claim must fall back to O_CREAT|O_EXCL there instead of failing
    the whole redrive."""
    import errno

    def no_link(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "hardlinks not supported", dst)

    monkeypatch.setattr(os, "link", no_link)
    base = str(tmp_path)
    os.makedirs(os.path.join(base, "j1"))
    jobs._claim_redrive(base, "j1", stale_s=60.0)
    claim = os.path.join(base, "j1", "redrive_claim")
    with open(claim) as fh:  # payload fully written, not torn
        doc = json.load(fh)
    assert doc["pid"] == os.getpid()
    # a second claimant still loses while the claim is fresh: the
    # recorded owner is THIS (live) pid on this host, so the same-host
    # kill-probe finds it alive and the refusal path triggers
    with pytest.raises(RuntimeError, match="already being redriven"):
        jobs._claim_redrive(base, "j1", stale_s=60.0)
    # ...and a FOREIGN fresh claim (cross-host liveness unknowable)
    # must also refuse without consulting the kill probe
    with open(claim, "w") as fh:
        json.dump(dict(doc, pid=99999999, host="some-other-host"), fh)
    with pytest.raises(RuntimeError, match="already being redriven"):
        jobs._claim_redrive(base, "j1", stale_s=60.0)
    # no tmp litter from the fallback path
    assert [f for f in os.listdir(os.path.join(base, "j1")) if f.endswith(".tmp")] == []


def test_claim_fallback_on_linkless_filesystem(spark, journal_dir, monkeypatch):
    """The claim's primary path is link() (atomic name + full payload in
    one step); GCS/S3-FUSE and some NFS/SMB mounts raise ENOTSUP/EPERM
    from link(), where the claim falls back to O_CREAT|O_EXCL with an
    unbuffered full write (jobs.py _publish). Until now only the happy
    link() path was exercised — this drives the fallback: the claim
    must still be won exactly once, carry an intact payload, leave no
    tmp litter, and refuse a second fresh claimant."""
    import errno

    def no_link(src, dst, *a, **kw):
        raise OSError(errno.ENOTSUP, "Operation not supported")

    monkeypatch.setattr(os, "link", no_link)
    jdir = os.path.join(journal_dir, "burla-job-linkless")
    os.makedirs(jdir, exist_ok=True)
    jobs._claim_redrive(journal_dir, "burla-job-linkless", stale_s=60.0)
    with open(os.path.join(jdir, "redrive_claim")) as fh:
        doc = json.load(fh)  # torn payload would fail to parse
    assert doc["pid"] == os.getpid() and doc["host"] and doc["at"] > 0
    assert not [f for f in os.listdir(jdir) if ".tmp" in f], "tmp litter"
    with pytest.raises(RuntimeError, match="already being redriven"):
        jobs._claim_redrive(journal_dir, "burla-job-linkless", stale_s=60.0)
