"""Own-driver runner for PROCESS-DETACHED jobs.

The reference's detach semantics are that a detached job keeps
EXECUTING after the submitting client exits, because the cluster-side
services own the computation (main_service job_watcher.py:259,294-301
keeps watching it; node_service keeps running it). A Spark job cannot
outlive its driver — so a process-detached job gets its OWN driver:
``remote_parallel_map(..., detach="process")`` journals the payload
(function + inputs) and spawns this module in a new session
(``setsid``); the submitter may exit immediately. The runner re-drives
the journaled job under a fresh SparkSession: ``jobs.redrive`` hands
the journaled bytes to RPM's detach adapter, and ``jobs.run_journaled``
journals heartbeats, per-input acks, and final results, so
``jobs.list_jobs`` / ``jobs.fetch_results`` / ``jobs.request_cancel``
work from any later process exactly as for in-process detach. One
heartbeat mechanism, ``jobs.heartbeat``, beats through the runner's
JVM boot and then, inside ``run_journaled``, through the job.

Run: ``python -m burla_spark.jobs_runner <journal_dir> <job_id>``
"""

from __future__ import annotations

import sys


def _write_phases(journal_dir: str, job_id: str, phases: dict) -> None:
    """Best-effort boot/phase accounting sidecar: the runner's fixed
    cost (python start -> Spark ready) is infrastructure, not per-row
    work — journaling it lets callers (and the bench) report it
    separately from the job's marginal cost."""
    import json
    import os

    path = os.path.join(journal_dir, job_id, "runner_phases.json")
    try:
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(phases, fh)
        os.replace(tmp, path)
    except OSError:
        pass


def main(argv: list[str] | None = None) -> int:
    import time

    phases = {"runner_start": time.time()}
    argv = list(sys.argv[1:] if argv is None else argv)
    if len(argv) != 2:
        print(
            "usage: python -m burla_spark.jobs_runner <journal_dir> <job_id>",
            file=sys.stderr,
        )
        return 2
    journal_dir, job_id = argv
    from burla_spark import jobs

    try:
        import os

        from burla_spark.session import get_spark

        # Boot heartbeat: JVM boot can exceed the staleness window, and
        # a stale-looking 'running' manifest invites a concurrent
        # redrive from an external observer. The beats stop at submit,
        # where the journaled job's own jobs.heartbeat takes over — one
        # beat thread per sidecar at a time.
        with jobs.heartbeat(journal_dir, job_id):
            # SLIM RUNNER PROFILE: the runner re-executes exactly one
            # map job and journals its results — it does not need (and
            # must not reserve) the submitting session's
            # interactive-analytics heap. spark.driver.memory is a
            # static conf, so it only applies when this process CREATES
            # the session (always, for a fresh runner).
            spark = get_spark(
                app_name=f"burla-detached-{job_id}",
                extra_conf={
                    "spark.driver.memory": os.environ.get(
                        "SPARK_GRAFT_RUNNER_MEM", "8g"
                    ),
                },
            )
            phases["spark_ready"] = time.time()
            _write_phases(journal_dir, job_id, phases)
            if jobs.cancel_requested(spark, job_id, journal_dir):
                # canceled while the runner was booting: never submit
                jobs.journal_cancel(spark, job_id, journal_dir)
                return 0
            handle = jobs.redrive(
                spark, job_id, journal_dir=journal_dir, force=True,
                clear_stale_cancel=False,
            )
        phases["job_submitted"] = time.time()
        handle.result()  # block until journal_finish/fail/cancel ran
        phases["job_done"] = time.time()
        _write_phases(journal_dir, job_id, phases)
        return 0
    except jobs.JobCanceled:
        return 0  # clean outcome; the manifest already says canceled
    except BaseException as exc:  # noqa: BLE001 — record, then re-raise
        # A failure BEFORE the redrive submitted (unreadable payload,
        # Spark boot error) would otherwise leave status=running with a
        # dead heartbeat forever. If the job DID submit, the detached
        # completion path already journaled the failure and this
        # rewrite is an idempotent no-op. Best-effort.
        try:
            jobs.journal_fail(None, job_id, exc, journal_dir)
        except OSError:
            pass
        raise


if __name__ == "__main__":
    raise SystemExit(main())
