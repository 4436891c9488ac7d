"""Background jobs + cancellation + the detached-job journal
(reference A22 detach / A23 cancel).

The reference detaches jobs so they outlive the client process
(_remote_parallel_map.py:509-511), lets a LATER client observe and
fetch them (main_service job_watcher.py:259,294-301 keeps watching a
detached job after the submitting client disconnects), and cancels
them from the dashboard (endpoints/jobs.py:93-108). Spark jobs live
inside the driver, so the in-process surface is: run the action on a
background thread under a job TAG, hand back a future-like handle,
and cancel by interrupting the tag (SparkContext-wide, thread-safe).

A Spark job still cannot outlive its driver process (SURVEY.md
§7.3.5) — but its RESULTS can: every detached RPM job journals its
manifest (JSON) and raw result rows (parquet) to a journal directory,
so a second process with its own SparkSession can ``list_jobs`` and
``fetch_results`` for any COMPLETED detached job after the submitting
process exited. For IN-FLIGHT jobs, executors additionally ack each
completed input's result into ``partial/`` as tasks finish, so
``redrive`` of an orphaned job (driver died, heartbeat stale) RESUMES
from the acked set instead of restarting — the reference's ack/replay
contract (_node.py:463-524) re-expressed as a task-commit-style log.
The journal dir comes from ``spark.burla.jobJournalDir`` (point it at
shared storage on a real cluster — executors write the ``partial/``
acks; the driver writes ``results.parquet``) and defaults to
``~/.burla_spark/jobs`` for the single-machine story.
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import SparkSession

DEFAULT_JOURNAL_DIR = os.path.expanduser("~/.burla_spark/jobs")


class JobCanceled(Exception):
    """Raised when .result() is called on a canceled job (mirrors the
    reference's JobCanceled, head_client.py:62-75)."""


class BackgroundJob:
    """Handle for a detached action: poll .done, await .result(),
    or .cancel() — exactly-one-of result/error/canceled."""

    _UNSET = object()  # distinguishes "no result yet" from a None result

    def __init__(self, spark: SparkSession, tag: str, thread: threading.Thread):
        self._spark = spark
        self._tag = tag
        self._thread = thread
        self._result: Any = BackgroundJob._UNSET
        self._error: BaseException | None = None
        self._canceled = False
        self._finished = threading.Event()

    @property
    def done(self) -> bool:
        return self._finished.is_set()

    def cancel(self) -> None:
        # cancel-after-complete is a no-op: a finished job's result
        # stands (the reference's cancel endpoint likewise only flips
        # RUNNING jobs). Without this, a late cancel() made result()
        # raise JobCanceled for work that had already succeeded.
        if self._finished.is_set():
            return
        self._canceled = True
        # SparkContext-level job tags, NOT SparkSession.interruptTag:
        # session tags only attach to SQL executions, so a raw RDD
        # action (rdd.count) runs untagged and interruptTag is a no-op
        # on it (verified under Spark 4.1). cancelJobsWithTag cancels
        # at the DAGScheduler, which covers every job type.
        self._spark.sparkContext.cancelJobsWithTag(self._tag)

    def result(self, timeout: float | None = None) -> Any:
        if not self._finished.wait(timeout):
            raise TimeoutError(f"job {self._tag} still running")
        # success first: a cancel that lost the race with completion
        # (flag set but the action finished cleanly) reports the result.
        if self._result is not BackgroundJob._UNSET:
            return self._result
        if self._canceled:
            raise JobCanceled(f"job {self._tag} was canceled")
        if self._error is not None:
            raise self._error
        return None  # pragma: no cover — action returned without setting state


class sigint_policy:
    """Ctrl-C handling for long-running jobs (reference behavior:
    SIGINT converts the job into a detach or a cancel instead of
    tearing down mid-flight — _helpers.py:59-109).

    >>> job = submit(spark, action)
    >>> with sigint_policy(job, on_interrupt="cancel"):
    ...     result = job.result()
    ``on_interrupt='detach'`` leaves the job running (handle stays
    valid); ``'cancel'`` interrupts the job's tag. Either way the
    process no longer dies mid-task on the first Ctrl-C (a second
    SIGINT restores default handling)."""

    def __init__(self, job: BackgroundJob, on_interrupt: str = "cancel"):
        if on_interrupt not in ("cancel", "detach"):
            raise ValueError("on_interrupt must be 'cancel' or 'detach'")
        self._job = job
        self._mode = on_interrupt
        self._prev = None
        self.interrupted = False

    def _handler(self, signum, frame):
        import signal

        self.interrupted = True
        if self._mode == "cancel":
            self._job.cancel()
        # detach: leave the job running; either way restore default so
        # a second Ctrl-C behaves normally.
        signal.signal(signal.SIGINT, self._prev)

    def __enter__(self) -> "sigint_policy":
        import signal

        self._prev = signal.getsignal(signal.SIGINT)
        signal.signal(signal.SIGINT, self._handler)
        return self

    def __exit__(self, *exc) -> None:
        import signal

        if signal.getsignal(signal.SIGINT) is self._handler:
            signal.signal(signal.SIGINT, self._prev)


# ---------------------------------------------------------------------------
# detached-job journal
# ---------------------------------------------------------------------------
def _journal_dir(spark: SparkSession, journal_dir: str | None = None) -> str:
    return (
        journal_dir
        or spark.conf.get("spark.burla.jobJournalDir", None)
        or DEFAULT_JOURNAL_DIR
    )


def _manifest_path(base: str, job_id: str) -> str:
    return os.path.join(base, job_id, "manifest.json")


def _write_manifest(base: str, job_id: str, doc: dict) -> None:
    path = _manifest_path(base, job_id)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, path)  # atomic: readers never see a torn manifest


def journal_start(
    spark: SparkSession,
    job_id: str,
    n_inputs: int,
    journal_dir: str | None = None,
    redrivable: bool = False,
) -> None:
    now = time.time()
    _write_manifest(
        _journal_dir(spark, journal_dir),
        job_id,
        {"job_id": job_id, "status": "running", "n_inputs": n_inputs,
         "started_at": now, "heartbeat_at": now, "pid": os.getpid(),
         "redrivable": redrivable},
    )


# Journaled payload (function + inputs) so an ORPHANED in-flight job —
# submitting driver died, heartbeat stale — can be re-driven by a
# second process. Bounded: jobs whose pickled payload exceeds the cap
# journal without one (manifest says redrivable: false).
PAYLOAD_MAX_BYTES_CONF = "spark.burla.journalPayloadMaxBytes"
PAYLOAD_MAX_BYTES_DEFAULT = 64 * 1024 * 1024


def journal_payload(
    spark: SparkSession,
    job_id: str,
    function_pkl: bytes,
    input_rows: list[tuple[int, bytes]],
    journal_dir: str | None = None,
) -> bool:
    """Persist the job's pickled function + inputs next to its
    manifest. Returns False (and writes nothing) when the payload
    exceeds the cap. The file lives in the user's own journal dir and
    is only ever loaded back by the same user's redrive call — same
    trust domain as the submitting client, unlike the network log
    channel (which is pickle-free for that reason)."""
    import pickle as _pickle

    total = len(function_pkl) + sum(len(b) for (_, b) in input_rows)
    cap = int(spark.conf.get(PAYLOAD_MAX_BYTES_CONF, str(PAYLOAD_MAX_BYTES_DEFAULT)))
    if total > cap:
        return False
    base = _journal_dir(spark, journal_dir)
    path = os.path.join(base, job_id, "payload.pkl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        _pickle.dump({"function_pkl": function_pkl, "inputs": input_rows}, fh)
    os.replace(tmp, path)
    return True


def _partial_dir(base: str, job_id: str) -> str:
    return os.path.join(base, job_id, "partial")


def read_partial_results(base: str, job_id: str):
    """Per-input results journaled by executors WHILE the job ran —
    the ack half of the reference's ack/replay contract
    (client/src/burla/_node.py:463-524): each task writes its RESULT
    batch as an Arrow IPC file before the driver ever collects, so a
    redrive after driver death resumes from the delivered set instead
    of restarting. Returns a RESULT table (``rpm.result_schema()``),
    sorted by idx. Files are read in name order; a torn file is
    skipped, and duplicate indices (task retries / speculation)
    keep the first row — the same rule as the live log channel.
    Reading an ack runs no code-executing deserializer: executors write
    these files into shared storage."""
    import numpy as np
    import pyarrow as pa

    from burla_spark.rpm import result_schema

    pdir = _partial_dir(base, job_id)
    names = sorted(os.listdir(pdir)) if os.path.isdir(pdir) else []
    tables = [result_schema().empty_table()]
    for name in names:
        if not name.endswith(".arrow"):
            continue
        try:
            with pa.OSFile(os.path.join(pdir, name)) as fh:
                tbl = pa.ipc.open_file(fh).read_all()
        except (OSError, pa.ArrowInvalid):  # torn write: skip the file
            continue
        tables.append(tbl)
    acks = pa.concat_tables(tables)
    # np.unique's return_index is each idx's FIRST occurrence
    _, first = np.unique(acks.column("idx").to_numpy(), return_index=True)
    return acks.take(first)


def write_ack(partial_dir: str, rb) -> None:
    """Executor half of :func:`read_partial_results`: write one RESULT
    batch into ``partial_dir`` as a uniquely named Arrow IPC file,
    published by rename so readers never see a torn ack. Skipped once
    the manifest left 'running': a late batch of a canceled job must
    not recreate ``partial/`` after the terminal cleanup. Best-effort:
    an unwritable dir degrades to restart-style redrive, never a
    failed task."""
    import pyarrow as pa

    try:
        with open(os.path.join(os.path.dirname(partial_dir), "manifest.json")) as fh:
            if json.load(fh).get("status") != "running":
                return
    except (OSError, ValueError):
        pass  # unreadable/missing manifest: ack anyway
    path = os.path.join(partial_dir, f"part-{uuid.uuid4().hex}.arrow")
    try:
        os.makedirs(partial_dir, exist_ok=True)
        with pa.ipc.new_file(path + ".tmp", rb.schema) as writer:
            writer.write_batch(rb)
        os.replace(path + ".tmp", path)
    except (OSError, pa.ArrowException):
        pass


def _claim_redrive(base: str, job_id: str, stale_s: float) -> None:
    """Atomically claim an orphan before resubmitting: two processes
    redriving concurrently would both pass the staleness check and
    double-run user code under the same job id. O_CREAT|O_EXCL makes
    exactly one winner; a claim whose OWNER also died is taken over
    via atomic rename — rename succeeds for exactly one of N racers.
    Dead-owner detection: a claim older than the staleness threshold,
    OR (without waiting) one whose recorded pid is provably gone on
    THIS host — a fresh same-host claim from a crashed redriver must
    not block recovery for a full staleness window. Cross-host
    liveness is unknowable from a file, so a foreign fresh claim wins
    (double-running is worse than waiting)."""
    import socket

    claim = os.path.join(base, job_id, "redrive_claim")
    host = socket.gethostname()
    def _publish() -> bool:
        """Write the claim atomically-with-content; True if we won.
        link() both fails-if-exists and carries the fully-written
        payload, so a racer never observes the name without content
        (O_CREAT|O_EXCL + buffered write had a window where a reader
        classified an empty file torn->stale and stole the claim).
        Hardlink-less filesystems (GCS/S3 FUSE, some NFS/SMB — the
        documented shared-journal mounts) raise ENOTSUP/EPERM from
        link(); there we fall back to O_CREAT|O_EXCL with an
        unbuffered single write, accepting the small torn-read window
        only where link() is unavailable (the reader already treats a
        torn claim as stale)."""
        payload = json.dumps(
            {"pid": os.getpid(), "host": host, "at": time.time()}
        )
        tmp = f"{claim}.{os.getpid()}.{uuid.uuid4().hex[:6]}.tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
        try:
            os.link(tmp, claim)
            return True
        except FileExistsError:
            return False
        except OSError:
            try:
                fd = os.open(claim, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            try:
                # write ALL bytes: a short write (realistic on exactly
                # the network mounts this fallback targets) would leave
                # a permanently torn claim that a racer classifies as
                # stale and steals — re-opening the double-run race.
                buf = payload.encode()
                while buf:
                    buf = buf[os.write(fd, buf):]
            finally:
                os.close(fd)
            return True
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    for _ in range(2):
        if _publish():
            return
        try:
            with open(claim) as fh:
                doc = json.load(fh)
            age = time.time() - float(doc.get("at", 0))
        except (OSError, ValueError, json.JSONDecodeError):
            doc, age = {}, float("inf")  # torn claim — treat as stale
        owner_dead = False
        if doc.get("host") == host:
            try:
                os.kill(int(doc.get("pid", -1)), 0)
            except (ProcessLookupError, ValueError, OverflowError):
                owner_dead = True
            except PermissionError:
                pass  # alive under another uid
        if age <= stale_s and not owner_dead:
            raise RuntimeError(
                f"job {job_id} is already being redriven (claim by pid "
                f"{doc.get('pid')} on {doc.get('host')}, {age:.1f}s ago) "
                "— racing would double-run user code"
            )
        try:  # stale/dead-owner claim — take it over
            os.rename(claim, f"{claim}.stale-{uuid.uuid4().hex[:8]}")
        except OSError:
            pass  # another racer renamed it first; retry O_EXCL
    raise RuntimeError(f"could not claim redrive of job {job_id}")


def redrive(
    spark: SparkSession,
    job_id: str,
    journal_dir: str | None = None,
    force: bool = False,
    clear_stale_cancel: bool = True,
):
    """Re-drive an ORPHANED detached job from a second process — the
    closest Spark-idiomatic analogue of the reference keeping detached
    jobs alive server-side (job_watcher.py:259,294-301): when the
    submitting driver died mid-job (manifest running, heartbeat
    stale), any process sharing the journal dir can resubmit the
    journaled function+inputs UNDER THE SAME job id and let the normal
    completion path journal the results. Inputs whose results were
    already journaled by executors (the partial/ ack log) are NOT
    recomputed — redrive resumes, mirroring the reference's ack/replay
    keeping completed inputs across client loss
    (node_service job_endpoints.py:70-89). Returns the new
    BackgroundJob handle. ``force=True`` skips the staleness check
    (for a driver known dead sooner than the threshold)."""
    base = _journal_dir(spark, journal_dir)
    try:
        with open(_manifest_path(base, job_id)) as fh:
            manifest = json.load(fh)
    except OSError as exc:
        raise KeyError(f"no journaled job {job_id!r} under {base}") from exc
    status = manifest.get("status")
    if status != "running":
        raise RuntimeError(
            f"job {job_id} is {status!r}, not an orphaned running job — "
            "use fetch_results"
        )
    age = time.time() - _last_heartbeat_at(base, job_id, manifest)
    stale_s = float(spark.conf.get("spark.burla.heartbeatStaleS", str(HEARTBEAT_STALE_S)))
    if age <= stale_s and not force:
        raise RuntimeError(
            f"job {job_id} has a live heartbeat ({age:.1f}s ago) — its "
            "driver is still working; pass force=True only if you know "
            "the driver is dead (two drivers racing would double-run)"
        )
    payload_path = os.path.join(base, job_id, "payload.pkl")
    if not os.path.exists(payload_path):
        raise RuntimeError(
            f"job {job_id} journaled no payload (too big or submitted by "
            "an older engine) — it cannot be re-driven"
        )
    _claim_redrive(base, job_id, stale_s)
    try:
        # a cancel flag aimed at the DEAD driver must not auto-cancel
        # the fresh run within one heartbeat: an explicit redrive
        # supersedes it. The process-detach RUNNER passes False: there
        # the flag cannot be stale (the job was just submitted) and a
        # cancel that raced the runner's JVM boot must still win.
        if clear_stale_cancel:
            try:
                os.remove(os.path.join(base, job_id, "cancel_requested"))
            except OSError:
                pass
        import pickle as _pickle

        from burla_spark import rpm

        with open(payload_path, "rb") as fh:
            payload = _pickle.load(fh)
        # the journaled bytes go straight to the detach adapter: the
        # function is never unpickled on this driver, and the inputs
        # keep their ORIGINAL indices so acks and new results key alike.
        done = read_partial_results(base, job_id)
        acked = set(done.column("idx").to_pylist())
        todo = [
            (idx, blob) for (idx, blob) in sorted(payload["inputs"]) if idx not in acked
        ]
        return rpm.run_detached(
            rpm._Plan(spark, payload["function_pkl"], todo), journal_dir,
            job_id=job_id, done=done,
        )
    except BaseException:
        # release the claim so a retry (same process or another) is not
        # refused for a full staleness window after e.g. an unpicklable
        # payload or a failed resubmission.
        try:
            os.rename(
                os.path.join(base, job_id, "redrive_claim"),
                os.path.join(base, job_id, f"redrive_claim.stale-{uuid.uuid4().hex[:8]}"),
            )
        except OSError:
            pass
        raise


HEARTBEAT_INTERVAL_S = 2.0
HEARTBEAT_STALE_S = 30.0


def journal_heartbeat(spark: SparkSession, job_id: str, journal_dir: str | None = None) -> None:
    """Refresh a running job's heartbeat — lets a SECOND process
    distinguish a live in-flight detached job from one whose driver
    died mid-run (reference job_watcher.py keeps watching a detached
    job server-side; file heartbeats are the single-machine analogue).

    Beats go to a SIDECAR file, never the manifest: the old
    read-modify-write of manifest.json raced journal_finish/
    journal_cancel — the beat thread could load 'running' just before
    the completion path wrote 'done' and then clobber it back,
    permanently wedging a completed job as a stale-heartbeat orphan
    (and redrive would re-execute completed work)."""
    base = _journal_dir(spark, journal_dir)
    path = os.path.join(base, job_id, "heartbeat")
    try:
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            fh.write(str(time.time()))
        os.replace(tmp, path)
    except OSError:
        pass  # journaling is best-effort


@contextlib.contextmanager
def heartbeat(base: str, job_id: str, on_cancel: Callable[[], Any] | None = None):
    """Beat ``job_id``'s sidecar every HEARTBEAT_INTERVAL_S while the
    block runs, from one thread joined on exit (two beat threads in
    one process would write the same ``heartbeat.<pid>.tmp``). Needs
    no SparkSession, so the process-detach runner beats through its
    JVM boot. EVERY beat that sees the cross-process cancel flag calls
    ``on_cancel`` (which must be idempotent): a cancel that lands
    before the job's Spark job exists interrupts nothing, so the next
    beat tries again."""
    stop = threading.Event()

    def beat() -> None:
        while not stop.wait(HEARTBEAT_INTERVAL_S):
            journal_heartbeat(None, job_id, base)
            if on_cancel is not None and cancel_requested(None, job_id, base):
                on_cancel()

    thread = threading.Thread(target=beat, daemon=True, name=f"{job_id}-beat")
    thread.start()
    try:
        yield
    finally:
        stop.set()
        thread.join()


def run_journaled(
    spark: SparkSession,
    job_id: str,
    base: str,
    function_pkl: bytes,
    rows: list[tuple[int, bytes]],
    done,
    collect: Callable[[], Any],
    materialize: Callable[[Any], list],
) -> BackgroundJob:
    """Run a detached RPM job under the journal, so a SECOND process
    can list, fetch, cancel or redrive it (reference
    job_watcher.py:259,294-301): payload and 'running' manifest, then
    ``collect()`` on a background thread under the job's tag and
    :func:`heartbeat`, then canceled, error or done. Returns the
    BackgroundJob (``.job_id`` set) whose result is
    ``materialize(table)``.

    ``done`` is a redrive's already-acked RESULT table (None for a new
    job): merged into the results, never recomputed. A redrive keeps
    the ORIGINAL full payload — with only the remaining inputs in it, a
    torn ack after a second driver death would drop acked inputs.
    Journaling is best-effort: an unwritable journal dir degrades to
    in-process-only detach, never a failed job."""
    n_done = 0 if done is None else done.num_rows
    try:
        # payload first, so the manifest's redrivable flag is truthful
        # from the start
        redrivable = done is not None or journal_payload(
            spark, job_id, function_pkl, rows, base
        )
        journal_start(spark, job_id, len(rows) + n_done, base, redrivable=redrivable)
    except OSError:
        pass
    handle: list[BackgroundJob] = []  # filled right after submit

    def cancel() -> None:
        if handle:
            handle[0].cancel()

    def action():
        try:
            with heartbeat(base, job_id, on_cancel=cancel):
                tbl = collect()
        except BaseException as exc:
            try:
                if (handle and handle[0]._canceled) or cancel_requested(spark, job_id, base):
                    journal_cancel(spark, job_id, base)
                else:
                    journal_fail(spark, job_id, exc, base)
            except OSError:
                pass
            raise
        if n_done:
            import pyarrow as pa

            tbl = pa.concat_tables([tbl, done])
        try:
            # error rows journal too — fetch_results re-raises them
            # with the same fidelity a live call would have.
            journal_finish(spark, job_id, tbl, base)
        except OSError:
            pass
        return materialize(tbl)

    job = submit(spark, action, tag=job_id)
    job.job_id = job_id
    handle.append(job)
    return job


def _last_heartbeat_at(base: str, job_id: str, manifest: dict) -> float:
    """Most recent heartbeat: max of the sidecar file and the
    manifest's submit-time stamp (a redriven job rewrites the manifest
    with a fresh heartbeat_at, which must outrank the previous run's
    leftover sidecar)."""
    best = manifest.get("heartbeat_at", manifest.get("started_at", 0.0))
    try:
        with open(os.path.join(base, job_id, "heartbeat")) as fh:
            best = max(best, float(fh.read().strip() or 0.0))
    except (OSError, ValueError):
        pass
    return best


def _cleanup_run_artifacts(base: str, job_id: str) -> None:
    """Remove run-scoped artifacts once a job reaches a terminal state:
    the partial/ ack files (a second copy of every result —
    only useful while status=running), redrive claims, the heartbeat
    sidecar, and any cancel flag. Without this every detached job
    permanently doubled its journal footprint. Best-effort."""
    import shutil

    d = os.path.join(base, job_id)
    shutil.rmtree(os.path.join(d, "partial"), ignore_errors=True)
    try:
        names = os.listdir(d)
    except OSError:
        return
    for name in names:
        if (
            name in ("heartbeat", "cancel_requested", "redrive_claim")
            or name.startswith("redrive_claim.stale-")
        ):
            try:
                os.remove(os.path.join(d, name))
            except OSError:
                pass


def journal_finish(
    spark: SparkSession, job_id: str, tbl, journal_dir: str | None = None,
) -> None:
    """Write the job's RESULT pyarrow Table as parquet, then
    flip the manifest to done — order matters: a 'done' manifest
    guarantees the results table is complete.

    A direct pyarrow parquet write on the driver: the rows are already
    driver-local, so the old ``spark.createDataFrame(rows).write``
    round-trip (per-row re-serialization through the JVM + a one-task
    Spark job) was pure overhead — ~30 s of it at a million results."""
    import pyarrow.parquet as pq

    base = _journal_dir(spark, journal_dir)
    ddir = os.path.join(base, job_id)
    os.makedirs(ddir, exist_ok=True)
    out = os.path.join(ddir, "results.parquet")
    if os.path.isdir(out):  # an older Spark-written directory layout
        import shutil

        shutil.rmtree(out, ignore_errors=True)
    pq.write_table(tbl, out)
    _write_manifest(
        base, job_id,
        {"job_id": job_id, "status": "done", "n_results": tbl.num_rows,
         "finished_at": time.time()},
    )
    _cleanup_run_artifacts(base, job_id)


def request_cancel(spark: SparkSession, job_id: str, journal_dir: str | None = None) -> None:
    """Cross-process cancel — the reference's dashboard
    ``POST /v1/jobs/{id}/stop`` (endpoints/jobs.py:93-108): ANY process
    sharing the journal dir can flag a running detached job; the
    submitting driver's heartbeat interrupts the job's tag at every
    beat from then on, and the submitter's ``result()`` raises
    JobCanceled exactly as a live cancel would."""
    base = _journal_dir(spark, journal_dir)
    if not os.path.exists(_manifest_path(base, job_id)):
        raise KeyError(f"no journaled job {job_id!r} under {base}")
    flag = os.path.join(base, job_id, "cancel_requested")
    with open(flag, "w") as fh:
        fh.write(str(time.time()))


def cancel_requested(spark: SparkSession, job_id: str, journal_dir: str | None = None) -> bool:
    base = _journal_dir(spark, journal_dir)
    return os.path.exists(os.path.join(base, job_id, "cancel_requested"))


def journal_cancel(spark: SparkSession, job_id: str, journal_dir: str | None = None) -> None:
    base = _journal_dir(spark, journal_dir)
    _write_manifest(
        base, job_id,
        {"job_id": job_id, "status": "canceled", "finished_at": time.time()},
    )
    _cleanup_run_artifacts(base, job_id)


def journal_fail(spark: SparkSession, job_id: str, exc: BaseException, journal_dir: str | None = None) -> None:
    base = _journal_dir(spark, journal_dir)
    _write_manifest(
        base, job_id,
        {"job_id": job_id, "status": "error", "error_type": type(exc).__name__,
         "error_msg": str(exc), "finished_at": time.time()},
    )
    _cleanup_run_artifacts(base, job_id)


def list_jobs(spark: SparkSession, journal_dir: str | None = None) -> list[dict]:
    """Manifests of every journaled detached job (any process's),
    newest first — the reference's dashboard job list, file-backed."""
    base = _journal_dir(spark, journal_dir)
    if not os.path.isdir(base):
        return []
    docs = []
    for job_id in os.listdir(base):
        try:
            with open(_manifest_path(base, job_id)) as fh:
                docs.append(json.load(fh))
        except (OSError, json.JSONDecodeError):
            continue  # torn/foreign entry — skip, don't fail the listing
    docs.sort(key=lambda d: d.get("finished_at", d.get("started_at", 0)), reverse=True)
    return docs


def fetch_results(
    spark: SparkSession,
    job_id: str,
    journal_dir: str | None = None,
    stdout_sink: Callable[[int, str], None] | None = None,
) -> list:
    """Load a completed detached job's results from the journal — the
    cross-process half of detach: works from a fresh SparkSession in a
    new process after the submitter exited. Raises the job's error
    with original-type fidelity if any input failed, exactly like a
    live ``remote_parallel_map`` call would have."""
    base = _journal_dir(spark, journal_dir)
    try:
        with open(_manifest_path(base, job_id)) as fh:
            manifest = json.load(fh)
    except OSError as exc:
        raise KeyError(f"no journaled job {job_id!r} under {base}") from exc
    status = manifest.get("status")
    if status == "running":
        age = time.time() - _last_heartbeat_at(base, job_id, manifest)
        stale_s = float(
            spark.conf.get("spark.burla.heartbeatStaleS", str(HEARTBEAT_STALE_S))
        )
        if age > stale_s:
            raise RuntimeError(
                f"job {job_id} is marked running but its heartbeat is "
                f"{age:.0f}s stale — the submitting driver likely died "
                "mid-job; results were never journaled. Resume from the "
                f"journaled per-input acks with jobs.redrive(spark, "
                f"{job_id!r})"
            )
        raise RuntimeError(
            f"job {job_id} is still running (live heartbeat "
            f"{age:.1f}s ago); results are journaled only on completion"
        )
    if status == "canceled":
        raise JobCanceled(f"job {job_id} was canceled")
    if status == "error":
        raise RuntimeError(
            f"job {job_id} failed before journaling results: "
            f"{manifest.get('error_type')}: {manifest.get('error_msg')}"
        )
    from burla_spark.logs import once_per_index
    from burla_spark.rpm import materialize_results_arrow

    # direct pyarrow read (no Spark job, no Row materialization):
    # handles both the single-file layout journal_finish writes now and
    # the directory layout older Spark-written journals used.
    import pyarrow.parquet as pq

    path = os.path.join(base, job_id, "results.parquet")
    tbl = pq.read_table(path)
    tbl = tbl.sort_by("idx")  # journal order is file order — normalize
    sink = stdout_sink or (lambda idx, text: sys.stdout.write(text))
    return materialize_results_arrow(tbl, once_per_index(sink))


class ProcessDetachedJob:
    """Handle for a PROCESS-detached job: the computation runs under
    its OWN driver (``burla_spark.jobs_runner``), so it keeps executing
    after this process exits — the reference's true detach semantics
    (A22, job_watcher.py:259,294-301), not just journaled recovery.
    The handle is a thin cross-process view over the journal: any
    process sharing the journal dir can reconstruct it from the job_id
    (``ProcessDetachedJob(spark, job_id)``) and status/result/cancel
    behave identically there."""

    def __init__(
        self,
        spark: SparkSession,
        job_id: str,
        pid: int | None = None,
        journal_dir: str | None = None,
    ):
        self.spark = spark
        self.job_id = job_id
        self.pid = pid  # runner process, informational only
        self._jdir = journal_dir

    def status(self) -> str:
        """Manifest status, with orphan detection (ADVICE r10): a
        SIGKILLed runner leaves 'running' in the manifest forever, so a
        'running' whose heartbeat has gone stale is surfaced as
        ``"orphaned"`` — the runner heartbeats from process start
        (jobs_runner.py boot-beat), so staleness implies runner death,
        never a slow JVM boot. Orphaned jobs resume via ``redrive()``."""
        base = _journal_dir(self.spark, self._jdir)
        with open(_manifest_path(base, self.job_id)) as fh:
            manifest = json.load(fh)
        status = manifest.get("status", "unknown")
        if status == "running":
            age = time.time() - _last_heartbeat_at(base, self.job_id, manifest)
            stale_s = float(
                self.spark.conf.get(
                    "spark.burla.heartbeatStaleS", str(HEARTBEAT_STALE_S)
                )
            )
            if age > stale_s:
                return "orphaned"
        return status

    def done(self) -> bool:
        return self.status() != "running"

    def cancel(self) -> None:
        """Cross-process cancel: flag the journal; the runner's
        heartbeat loop interrupts the job within one interval."""
        request_cancel(self.spark, self.job_id, self._jdir)

    def result(
        self,
        timeout: float | None = None,
        stdout_sink: Callable[[int, str], None] | None = None,
        poll_s: float = 0.05,
    ) -> list:
        """Wait for the runner to finish, then load the journaled
        results (raises the job's error with original-type fidelity,
        or JobCanceled, exactly like an in-process detach would)."""
        deadline = None if timeout is None else time.monotonic() + timeout
        while self.status() == "running":
            if deadline is not None and time.monotonic() >= deadline:
                raise TimeoutError(
                    f"job {self.job_id} still running after {timeout}s"
                )
            time.sleep(poll_s)
        return fetch_results(
            self.spark, self.job_id, self._jdir, stdout_sink=stdout_sink
        )


def submit_process_detached(
    spark: SparkSession,
    function_pkl: bytes,
    input_rows: list[tuple[int, bytes]],
    journal_dir: str | None = None,
) -> ProcessDetachedJob:
    """Spawn a process-detached job: journal the payload + a 'running'
    manifest, then hand the work to an own-driver runner in a NEW
    session (``setsid``) whose stdout/stderr land in the job's
    ``runner.log``. Returns immediately; the submitting process may
    exit and the job keeps executing. The payload MUST fit the journal
    cap — it is the only channel to the runner."""
    import subprocess

    base = _journal_dir(spark, journal_dir)
    job_id = f"burla-job-{uuid.uuid4().hex[:12]}"
    if not journal_payload(spark, job_id, function_pkl, input_rows, journal_dir):
        raise ValueError(
            "process-detached jobs ship function+inputs through the journal "
            f"and this payload exceeds {PAYLOAD_MAX_BYTES_CONF} — raise the "
            "cap, or use detach=True (in-process) for oversized payloads"
        )
    journal_start(spark, job_id, len(input_rows), journal_dir, redrivable=True)
    # the runner must import burla_spark even when running from a repo
    # checkout rather than an installed package
    env = dict(os.environ)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = pkg_parent + os.pathsep + env.get("PYTHONPATH", "")
    log_path = os.path.join(base, job_id, "runner.log")
    import sys as _sys

    with open(log_path, "ab") as logf:
        proc = subprocess.Popen(
            [_sys.executable, "-m", "burla_spark.jobs_runner", base, job_id],
            stdout=logf,
            stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL,
            start_new_session=True,  # survives the submitter's exit/HUP
            env=env,
        )
    return ProcessDetachedJob(spark, job_id, proc.pid, journal_dir)


def submit(spark: SparkSession, action: Callable[[], Any], tag: str | None = None) -> BackgroundJob:
    """Run a Spark action in the background under a cancelable tag.

    >>> job = submit(spark, lambda: df.collect())
    >>> job.cancel()            # or: job.result(timeout=60)
    """
    tag = tag or f"burla-job-{uuid.uuid4().hex[:12]}"
    job: BackgroundJob

    def run() -> None:
        try:
            # context-level tag (thread-local): every job this thread
            # submits — SQL or raw RDD — carries it. See cancel().
            spark.sparkContext.addJobTag(tag)
            job._result = action()
        except BaseException as exc:  # noqa: BLE001 — report, don't swallow
            job._error = exc
        finally:
            try:
                spark.sparkContext.removeJobTag(tag)
            except Exception:
                pass
            job._finished.set()

    thread = threading.Thread(target=run, daemon=True)
    job = BackgroundJob(spark, tag, thread)
    thread.start()
    return job
