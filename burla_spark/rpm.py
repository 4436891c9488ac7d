"""remote_parallel_map — the reference's single public operator
(reference: client/src/burla/_remote_parallel_map.py:457-756), rebuilt
Spark-first.

Semantics preserved (reference cites in parens):
* unordered results, exactly one result or one attributed error per
  input (_remote_parallel_map.py:519-521; §2 exactly-once contract)
* tuples unpack to *args, lists do not (_remote_parallel_map.py:541)
* empty input short-circuits (_remote_parallel_map.py:542-543)
* function / input size guards (FunctionTooBig / InputTooBig,
  _remote_parallel_map.py:222-224, _node.py:25)
* generator mode streams results as partitions finish
  (_remote_parallel_map.py:703-715; partition-ordered — divergence
  documented in SURVEY.md §7.3.2)
* errors re-raise on the driver with the original type, message, remote
  traceback text and ``burla_input_index`` (_node.py:638-663)
* per-input stdout is captured and streamed live to the driver as each
  input finishes (worker_client.py:154-338), over the job's one
  ``logs.MessageStreamServer``; it falls back to riding with the result
  row when the live push fails

Spark replaces the reference's entire transport/scheduling machinery
(scatter, queues, work stealing, ack/replay, heartbeats — §2
A5-A10/A15/A21) with the DataFrame runtime: inputs become a binary
DataFrame, the function runs under ``mapInArrow`` (one RESULT record
batch out per Arrow input batch), and Spark's deterministic task retry
provides the exactly-once contract.
At scale the input DataFrame partitions over the cluster exactly like
any other table — a million inputs is a small DataFrame.

Like the reference, there is one operator — a map over ``(index,
pickled input)`` rows — and the modes differ only in how results come
back. ``remote_parallel_map`` validates, pickles (:func:`_pickle_job`)
and builds one :class:`_Plan` (rows, width, stdout sink, map stage);
thin adapters then hand results back: collect (with repack waves,
:meth:`_Plan.collect_table`), stream (:func:`_stream_results`) and
detach (:func:`run_detached`, which ``jobs.run_journaled`` journals and
``jobs.redrive`` calls with the journaled bytes).
"""

from __future__ import annotations

import contextlib
import functools
import io
import os
import pickle
import sys
import traceback
import uuid
from collections.abc import Callable, Iterable, Iterator
from contextlib import redirect_stdout
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

MAX_FUNCTION_SIZE_BYTES = 100_000_000  # 0.1 GB, reference _remote_parallel_map.py:222
MAX_INPUT_SIZE_BYTES = 200_000_000  # 200 MB, reference _node.py:25

RESULT_COLUMNS = (
    "idx", "is_error", "payload", "stdout",
    "error_type", "error_msg", "error_tb", "error_pkl",
)


@functools.cache
def result_schema():
    """The pyarrow schema of a RESULT batch, in RESULT_COLUMNS order —
    the one shape the worker emits and collect, the GPU path, detach
    acks and redrive read. Built on first call so ``import burla_spark``
    stays free of pyarrow (the detach submitter never touches Arrow)."""
    import pyarrow as pa

    types = (
        pa.int64(), pa.bool_(), pa.binary(), pa.string(),
        pa.string(), pa.string(), pa.string(), pa.binary(),
    )
    return pa.schema(list(zip(RESULT_COLUMNS, types)))


# Types whose plain-pickle form is environment-independent (no module
# references that could be missing on the other side of the boundary,
# no by-value class shipping needed). For these, C-speed pickle.dumps
# replaces cloudpickle.dumps — ~12x cheaper per object (measured 0.25 s
# vs 2.97 s per million small ints), and the driver-side input loop is
# SERIAL, so at a million inputs this is seconds of dispatch latency.
_FAST_PICKLE_TYPES = frozenset(
    (int, float, str, bytes, bool, type(None))
)


def _fast_dumps(cp, obj):
    """cloudpickle-compatible dumps with a plain-pickle fast path for
    scalars and flat tuples/lists of scalars. Anything else (closures,
    locally-defined classes, numpy scalars, nested containers) takes
    the cloudpickle path exactly as before — same bytes semantics on
    load, only the serializer speed differs."""
    t = type(obj)
    if t in _FAST_PICKLE_TYPES:
        return pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    if (t is tuple or t is list) and all(
        type(e) in _FAST_PICKLE_TYPES for e in obj
    ):
        return pickle.dumps(obj, protocol=pickle.HIGHEST_PROTOCOL)
    return cp.dumps(obj)


# Rows per wire frame on the completion-order result channel (see
# _stream_results.push_partition's flush policy). Measured at 1M
# results on local[32]: 256-row frames + a 4-deep batch queue stalled
# the single selector thread on queue puts (4.8 s vs 2.2 s at 100k);
# 2048-row frames with a >=2-deep queue hold the per-row driver cost
# to the consumer's own unpickle loop.
_STREAM_BATCH_ROWS = 2048


class FunctionTooBig(Exception):
    pass


class InputTooBig(Exception):
    pass


class RpmError(Exception):
    """Re-raised UDF error with input attribution.

    Carries ``burla_input_index`` like the reference (_node.py:652) and
    chains the remote traceback text."""

    def __init__(self, error_type: str, message: str, remote_traceback: str, index: int):
        super().__init__(
            f"{error_type}: {message} (burla_input_index={index})\n"
            f"--- remote traceback ---\n{remote_traceback}"
        )
        self.error_type = error_type
        self.original_message = message
        self.remote_traceback = remote_traceback
        self.burla_input_index = index


def _rehydrate_error(
    error_pkl, error_type: str, error_msg: str, error_tb: str, index: int
) -> RpmError:
    """Reconstruct the remote error with ORIGINAL-type fidelity.

    The reference re-raises the user's actual exception object on the
    client (_node.py:646-663), so ``except ValueError`` works across
    the remote boundary. Spark wraps UDF errors in PythonException; we
    instead ship pickled (class, args, state) in the result row and
    re-raise a dynamic subclass of (original type, RpmError) — both
    ``except ValueError`` and ``except RpmError`` catch it, and the
    instance keeps the original args/state plus burla attribution.
    Falls back to plain RpmError when the object didn't pickle.
    """
    payload = None
    if error_pkl is not None:
        try:
            payload = pickle.loads(bytes(error_pkl))
        except Exception:
            payload = None
    if (
        payload is None
        or not isinstance(payload, tuple)
        or len(payload) != 3
        or not (isinstance(payload[0], type) and issubclass(payload[0], Exception))
        or issubclass(payload[0], RpmError)
    ):
        return RpmError(error_type, error_msg, error_tb, index)
    cls, args, state = payload
    try:
        dyn = type(cls.__name__, (cls, RpmError), {"__module__": cls.__module__})
        exc = dyn.__new__(dyn)
        exc.__dict__.update(state)
        exc.args = args
    except Exception:
        return RpmError(error_type, error_msg, error_tb, index)
    exc.error_type = error_type
    exc.original_message = error_msg
    exc.remote_traceback = error_tb
    exc.burla_input_index = index
    return exc


def _cloudpickle():
    # Spark vendors cloudpickle; fall back to the standalone package.
    try:
        from pyspark import cloudpickle  # type: ignore

        return cloudpickle
    except ImportError:  # pragma: no cover
        import cloudpickle  # type: ignore

        return cloudpickle


@contextlib.contextmanager
def _user_module_by_value(cp, function_: Callable):
    """Ship user-module functions by value, like the reference's
    environment sync does for custom modules
    (_remote_parallel_map.py:560-628: custom modules are cloudpickled
    by value; PyPI packages are assumed installed). Without this, a
    function defined in a non-installed module pickles by reference
    and executors raise ModuleNotFoundError.

    Context manager: the registration is global cloudpickle state, so
    it is unregistered on exit — leaving it would silently switch EVERY
    later pickle of that module (other jobs, Spark's own UDF plumbing)
    to by-value for the life of the process."""
    mod = sys.modules.get(getattr(function_, "__module__", ""), None)
    registered = False
    if mod is not None and mod.__name__ not in ("__main__", "builtins"):
        mod_file = getattr(mod, "__file__", None)
        if mod_file:
            import sysconfig

            installed_roots = {
                sysconfig.get_paths().get("stdlib", ""),
                sysconfig.get_paths().get("purelib", ""),
                sysconfig.get_paths().get("platlib", ""),
            }
            # installed packages are importable on executors → skip
            if not any(r and mod_file.startswith(r) for r in installed_roots):
                try:
                    cp.register_pickle_by_value(mod)
                    registered = True
                except Exception:  # pragma: no cover — best-effort parity
                    pass
    try:
        yield
    finally:
        if registered:
            try:
                cp.unregister_pickle_by_value(mod)
            except Exception:  # pragma: no cover
                pass


def _error_fields(pickler, exc: Exception) -> tuple:
    """(error_type, error_msg, error_tb, error_pkl) of a RESULT row;
    call inside the ``except`` that caught ``exc``.

    ``error_pkl`` ships (class, args, state) — NOT the exception object:
    pickling an exception replays ``cls(*args)`` on load, which explodes
    for custom __init__ signatures; __new__ + state restore works for
    any class. cloudpickle serializes locally-defined exception classes
    by value. The 1 MB cap mirrors the reference's result/log response
    cap (job_endpoints.py:28-30) — bigger errors fall back to text-only."""
    try:
        blob = pickler.dumps((type(exc), exc.args, dict(vars(exc))))
        if len(blob) > 1_000_000:
            blob = None
    except Exception:  # noqa: BLE001 — text-only fallback
        blob = None
    return type(exc).__name__, str(exc), traceback.format_exc(), blob


def _make_udf(
    function_pkl: bytes,
    capture_stdout: bool,
    addr: tuple[str, int, bytes, int] | None = None,
    partial_dir: str | None = None,
    push_results: bool = False,
):
    """Build the mapInArrow worker: unpickle once per task, run each
    input, emit one RESULT batch (:func:`result_schema`) per input batch.

    With ``addr`` (the job listener's ``advertise``) the task opens ONE
    connection and pushes each input's stdout LIVE as it finishes
    (reference parity: worker_client.py:154-338 streams logs while the
    job runs); a successful push clears the row's stdout (exactly-once),
    a failed one leaves it in the row. With ``push_results`` (generator
    mode) each RESULT batch goes over that connection, after its inputs'
    stdout, instead of being emitted; a failed result push raises so
    Spark retries the task.

    With ``partial_dir`` (detached jobs), each RESULT batch is ALSO
    acked to the job's journal with ``jobs.write_ack`` before being
    yielded — the ack half of the reference's ack/replay contract
    (_node.py:463-524): if the driver dies mid-job, a redrive resumes
    from the acked set instead of recomputing it. On a real cluster the
    journal dir must be shared storage (documented in jobs.py)."""

    def run(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import os as _os

        import pyarrow as pa

        from burla_spark.logs import (
            MessageStreamClient,
            encode_log_frame,
            encode_result_batch,
        )

        # generator mode pushes results STRAIGHT FROM THIS UDF — the
        # old shape round-tripped the result frame through the JVM and
        # re-pickled every row into a SECOND python worker
        # (foreachPartition) just to do the same socket send (guide §4:
        # each extra JVM<->Python hop re-serializes every payload byte).
        client = MessageStreamClient(*addr) if addr is not None else None
        # mark this python worker so a NESTED remote_parallel_map call
        # (user function calling rpm again) degrades to the
        # executor-local map instead of failing on a missing session.
        # Scoped try/finally: python workers are REUSED across jobs
        # (spark.python.worker.reuse), so a flag left set process-wide
        # would make a LATER non-rpm code path in the same worker
        # silently degrade its own remote_parallel_map call to a
        # worker-local map instead of raising the guidance error.
        _prior_flag = _os.environ.get("BURLA_SPARK_IN_WORKER")
        _os.environ["BURLA_SPARK_IN_WORKER"] = "1"
        try:
            # results serialize with cloudpickle so locally-defined classes
            # round-trip (by-value), mirroring the input path.
            result_pickler = _cloudpickle()
            fn = pickle.loads(function_pkl)
            for batch in batches:
                out: dict[str, list] = {name: [] for name in RESULT_COLUMNS}
                for idx, blob in zip(
                    batch.column(0).to_pylist(), batch.column(1).to_pylist()
                ):
                    arg = pickle.loads(blob)
                    buf = io.StringIO()
                    # the result pickle runs inside the try: a result
                    # that cannot be pickled is an error of ITS input
                    try:
                        if capture_stdout:
                            with redirect_stdout(buf):
                                result = fn(*arg) if isinstance(arg, tuple) else fn(arg)
                        else:
                            result = fn(*arg) if isinstance(arg, tuple) else fn(arg)
                        payload = _fast_dumps(result_pickler, result)
                        error = (None, None, None, None)
                    except Exception as exc:  # noqa: BLE001 — user code may raise anything
                        payload = None
                        error = _error_fields(result_pickler, exc)
                    text = buf.getvalue()
                    if text and client is not None and client.send_frame(
                        encode_log_frame(idx, text)
                    ):
                        text = ""  # delivered live — don't re-deliver with the row
                    out["idx"].append(idx)
                    out["is_error"].append(payload is None)
                    out["payload"].append(payload)
                    out["stdout"].append(text)
                    error_type, error_msg, error_tb, error_pkl = error
                    out["error_type"].append(error_type)
                    out["error_msg"].append(error_msg)
                    out["error_tb"].append(error_tb)
                    out["error_pkl"].append(error_pkl)
                if push_results:
                    # push this batch's rows now (completion-order
                    # latency: a finished batch is on the wire before
                    # the next one computes), in wire frames bounded by
                    # _STREAM_BATCH_ROWS rows / ~1 MB of payload.
                    frames: list[list[tuple]] = [[]]
                    frame_bytes = 0
                    for rec in zip(*out.values()):
                        if len(frames[-1]) >= _STREAM_BATCH_ROWS or frame_bytes >= 1_000_000:
                            frames.append([])
                            frame_bytes = 0
                        frames[-1].append(rec)
                        frame_bytes += (len(rec[2]) if rec[2] else 0) + 64
                    for frame in frames:
                        if frame and not client.send_frame(encode_result_batch(frame)):
                            raise RuntimeError(
                                "result-stream push to driver failed; task will retry"
                            )
                    # rows delivered over the socket — emit no batch
                    # (the JVM side of this stage only drains empties).
                    continue
                rb = pa.RecordBatch.from_pydict(out, schema=result_schema())
                if partial_dir is not None and rb.num_rows:
                    from burla_spark.jobs import write_ack

                    write_ack(partial_dir, rb)
                yield rb
        finally:
            # close the push socket even on a mid-batch error: python
            # workers are REUSED across tasks, so an unclosed socket
            # would outlive this task. close() never raises.
            if client is not None:
                client.close()
            if _prior_flag is None:
                _os.environ.pop("BURLA_SPARK_IN_WORKER", None)
            else:
                _os.environ["BURLA_SPARK_IN_WORKER"] = _prior_flag

    return run


def _nested_local_map(function_, inputs, generator=False, detach=False):
    """Executor-local nested RPM. The reference schedules a nested
    ``remote_parallel_map`` back onto the same cluster
    (node_service/__init__.py:54-55); Spark executors cannot submit
    jobs, so the inner level runs HERE with the same client-observable
    semantics — tuple unpacking, completion-ordered results, and
    input-index error attribution on the ORIGINAL exception (the outer
    worker's error path then ships it to the driver with full
    fidelity). Parallelism is bounded to this worker's threads instead
    of the cluster — the documented residual of SURVEY §7.3.4."""
    if detach:
        raise ValueError(
            "detach=True is not supported inside a nested remote_parallel_map"
        )
    items = list(inputs)
    if not items:
        return iter(()) if generator else []
    from concurrent.futures import ThreadPoolExecutor, as_completed

    def run_one(i, item):
        try:
            return function_(*item) if isinstance(item, tuple) else function_(item)
        except Exception as exc:
            try:
                exc.burla_input_index = i
            except Exception:  # noqa: BLE001 — attribution is best-effort
                pass
            raise

    pool = ThreadPoolExecutor(max_workers=min(len(items), 8))
    futures = [pool.submit(run_one, i, it) for i, it in enumerate(items)]
    if generator:

        def gen():
            try:
                for f in as_completed(futures):
                    yield f.result()
            finally:
                pool.shutdown(wait=False, cancel_futures=True)

        return gen()
    try:
        return [f.result() for f in as_completed(futures)]
    finally:
        # on failure, cancel still-pending siblings so the error
        # reaches the outer worker immediately instead of after every
        # slow input finishes; on success all futures are already done.
        pool.shutdown(wait=False, cancel_futures=True)


def gpu_resource_profile(func_gpu: int, func_cpu: int = 1):
    """Stage-level ResourceProfile for ``func_gpu`` — the Spark
    analogue of the reference routing GPU jobs to GPU machine types
    (providers/catalog.py:31-62,140-160). Task side pins func_gpu GPUs
    + func_cpu cores per input; executor side requests enough device
    slots with the standard nvidia discovery script. Building the
    profile needs no GPUs (it's metadata until applied), so this is
    unit-testable anywhere; it is applied to the map stage through
    ``mapInArrow(profile=...)`` on a cluster that advertises
    spark.executor.resource.gpu.amount."""
    import math

    from pyspark.resource import (
        ExecutorResourceRequests,
        ResourceProfileBuilder,
        TaskResourceRequests,
    )

    treqs = (
        TaskResourceRequests().cpus(max(1, int(func_cpu))).resource("gpu", float(func_gpu))
    )
    ereqs = ExecutorResourceRequests().resource(
        "gpu",
        max(1, int(math.ceil(func_gpu))),
        discoveryScript="/opt/spark/scripts/getGpusResources.sh",
        vendor="nvidia.com",
    )
    return ResourceProfileBuilder().require(treqs).require(ereqs).build


def _cluster_has_gpus(spark: SparkSession) -> bool:
    """Does this cluster advertise GPU executor resources?"""
    try:
        amount = spark.conf.get("spark.executor.resource.gpu.amount", None)
        return amount is not None and float(amount) > 0
    except Exception:  # noqa: BLE001
        return False


def _parse_ram_gb(func_ram) -> float | None:
    """GB per task. 'dynamic' → 4 GB, the reference default, which only
    a repack wave's live cap (:func:`_live_ram_cap`) uses; int → GB;
    strings accept '8', '8G', '8GB', '512M'. None/unparseable → None."""
    try:
        if isinstance(func_ram, str):
            s = func_ram.strip().upper()
            if s == "DYNAMIC":
                return 4.0
            if s.endswith("GB") or s.endswith("G"):
                return float(s.rstrip("GB"))
            if s.endswith("MB") or s.endswith("M"):
                return float(s.rstrip("MB")) / 1024
            return float(s)
        return float(func_ram)
    except (TypeError, ValueError):  # sizing is best-effort
        return None


# (timestamp, per-host MemAvailable GiB) per Spark APPLICATION — a
# repack wave loop calls _live_ram_cap every wave; re-launching the
# probe job each time would add a full job round-trip of latency per
# wave for a signal that moves on seconds, not milliseconds. Keyed by
# applicationId, NOT id(spark): CPython id reuse after a session GC
# could serve a dead cluster's readings to a new session. Expired
# entries are pruned on access, bounding growth in session-churning
# processes.
_HOST_PROBE_CACHE: dict[str, tuple[float, dict[str, float]]] = {}
_HOST_PROBE_TTL_S = 15.0


def _probe_host_available_gb(spark: SparkSession) -> dict[str, float] | None:
    """Executor-side OS memory probe: MemAvailable (GiB) per host a
    short sampling job lands on, min-per-host. This sees what the JVM
    signal cannot — PYTHON WORKER memory, where func_ram-sized rpm
    tasks actually live, is off-JVM, so getExecutorMemoryStatus barely
    moves under exactly the pressure ``repack=True`` reacts to.

    Best-effort and advisory: the sampling tasks may land on a SUBSET
    of executor hosts (the caller extrapolates mean-per-host × host
    count rather than treating the sample as the whole cluster),
    /proc/meminfo is Linux-only, and any failure returns None (caller
    falls back to the JVM signal alone). Results are cached for
    ``_HOST_PROBE_TTL_S`` so a wave loop pays one probe job per TTL
    window, not per wave."""
    import time as _time

    now = _time.monotonic()
    for k in [k for k, (ts, _) in _HOST_PROBE_CACHE.items()
              if now - ts >= _HOST_PROBE_TTL_S]:
        _HOST_PROBE_CACHE.pop(k, None)
    try:
        key = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — stopped session: no probe
        return None
    cached = _HOST_PROBE_CACHE.get(key)
    if cached is not None:
        return cached[1] or None
    try:
        sc = spark.sparkContext
        n = max(2, sc.defaultParallelism)

        def probe(_):
            import socket

            avail = None
            try:
                with open("/proc/meminfo") as fh:
                    for line in fh:
                        if line.startswith("MemAvailable:"):
                            avail = int(line.split()[1]) / (1024.0**2)
                            break
            except (OSError, ValueError, IndexError):
                pass
            return (socket.gethostname(), avail)

        per_host: dict[str, float] = {}
        for host, avail in sc.parallelize(range(n), n).map(probe).collect():
            if avail is not None:
                per_host[host] = min(avail, per_host.get(host, float("inf")))
        _HOST_PROBE_CACHE[key] = (_time.monotonic(), per_host)
        return per_host or None
    except Exception:  # noqa: BLE001 — probe is advisory
        _HOST_PROBE_CACHE[key] = (_time.monotonic(), {})
        return None


def _live_ram_cap(spark: SparkSession, func_ram) -> int:
    """RAM cap from LIVE executor memory — the dynamic half of the
    reference's packing rule (worker_client.py:88-151 repacks as
    workers free RAM): how many func_ram-sized tasks fit in the
    cluster's currently-free memory. Two combined signals, the
    narrower wins:

    * JVM block-manager free storage (getExecutorMemoryStatus) — the
      agent-free signal; a heavily-cached/spilling cluster reports
      less free and the next wave narrows. LIMITATION: Python worker
      memory (where func_ram-sized rpm tasks actually live) is
      off-JVM, so this signal alone barely moves when Python workers
      exhaust host RAM.
    * an executor-side OS probe (_probe_host_available_gb) sampling
      /proc/meminfo MemAvailable per host — sees Python-worker
      pressure directly; advisory (None on failure).

    Falls back to the static rule when the JVM call is unavailable."""
    gb = _parse_ram_gb(func_ram)
    if gb is None or gb <= 0:
        return 1 << 30
    probed = _probe_host_available_gb(spark)  # TTL-cached per session

    def _host_cap(n_cluster_hosts: int | None) -> int | None:
        """Extrapolate sampled per-host MemAvailable to the cluster:
        the probe may reach only a subset of hosts, and treating that
        subset as the whole cluster would collapse the wave width to a
        fraction of real capacity."""
        if not probed:
            return None
        mean_gb = sum(probed.values()) / len(probed)
        hosts = max(n_cluster_hosts or 0, len(probed))
        return max(1, int((mean_gb * hosts) // gb))

    try:
        sc = spark.sparkContext
        status = sc._jsc.sc().getExecutorMemoryStatus()
        # the driver's block manager appears in the status map too —
        # counting it would overcommit executors on a real cluster, so
        # exclude it whenever actual executors are present (local mode
        # has only the driver entry, which IS the executor there).
        bmid = sc._jsc.sc().env().blockManager().blockManagerId()
        driver_key = f"{bmid.host()}:{bmid.port()}"
        it = status.iterator()
        free = {}
        while it.hasNext():
            kv = it.next()
            free[kv._1()] = kv._2()._2() / float(1024**3)
        if len(free) > 1:
            free.pop(driver_key, None)
        free_gb = sum(free.values())
        jvm_cap = 1 if free_gb <= 0 else max(1, int(free_gb // gb))
        host_cap = _host_cap(len({k.rsplit(":", 1)[0] for k in free}))
        return min(jvm_cap, host_cap) if host_cap is not None else jvm_cap
    except Exception:  # noqa: BLE001
        host_cap = _host_cap(None)
        if host_cap is not None:
            return min(host_cap, _ram_parallelism_cap(spark, func_ram))
        return _ram_parallelism_cap(spark, func_ram)


def _ram_parallelism_cap(spark: SparkSession, func_ram) -> int:
    """RAM half of the reference's packing rule (catalog.py:94-101):
    how many func_ram-sized tasks fit in ONE executor's memory, times
    the executor count — the reference packs per node
    (a 10-executor × 8 GB cluster at func_ram=4G runs 20 concurrent
    tasks, not 2; spark.executor.instances defaults to 1 which also
    covers local mode). Only an explicit ``func_ram`` caps: 'dynamic'
    adapts to live memory (``repack=True``), so it sets no static cap,
    and neither does a value :func:`_parse_ram_gb` cannot read or an
    unparseable memory conf — sizing must never fail a job."""
    if isinstance(func_ram, str) and func_ram.strip().upper() == "DYNAMIC":
        return 1 << 30
    gb = _parse_ram_gb(func_ram)
    if gb is None or gb <= 0:
        return 1 << 30
    mem = (
        spark.conf.get("spark.executor.memory", None)
        or spark.conf.get("spark.driver.memory", None)
        or "1g"
    ).strip().upper()
    try:
        if mem.endswith("G"):
            mem_gb = float(mem[:-1])
        elif mem.endswith("M"):
            mem_gb = float(mem[:-1]) / 1024
        elif mem.endswith("K"):
            mem_gb = float(mem[:-1]) / (1024 * 1024)
        else:
            mem_gb = float(mem) / (1024**3)  # raw bytes
    except ValueError:
        return 1 << 30
    try:
        n_exec = int(spark.conf.get("spark.executor.instances", "1") or 1)
    except (TypeError, ValueError):
        n_exec = 1  # local mode / dynamic allocation: one JVM
    return max(1, int(mem_gb // gb)) * max(1, n_exec)


def _result_value(row, deliver):
    """One RESULT row (any 8-tuple in RESULT_COLUMNS order; a Spark
    Row is a tuple) to its user-facing value: deliver its stdout,
    re-raise its error with original-type fidelity, or unpickle its
    payload."""
    idx, is_error, payload, stdout, error_type, error_msg, error_tb, error_pkl = row
    if stdout:
        deliver(idx, stdout)
    if is_error:
        raise _rehydrate_error(error_pkl, error_type, error_msg, error_tb, idx)
    return pickle.loads(payload)


def materialize_results_arrow(tbl, deliver) -> list:
    """Turn a RESULT pyarrow Table into the user-facing result
    list. Every non-streaming mode (collect, repack waves, GPU, detach)
    and the journal fetch end here. ``deliver(idx, text)`` receives the
    stdout rows carry; callers pass a ``logs.once_per_index`` sink so
    row-carried stdout dedups against live deliveries. The common
    all-clean case (no error, no stdout) is two vectorized column scans
    and one unpickle per payload; otherwise every row goes through
    :func:`_result_value` in row order, so the first error row raises
    after the stdout of the rows before it."""
    import pyarrow.compute as pc

    if tbl.num_rows == 0:
        return []
    has_err = pc.any(tbl.column("is_error")).as_py()
    has_stdout = pc.any(
        pc.not_equal(tbl.column("stdout").fill_null(""), "")
    ).as_py()
    if not has_err and not has_stdout:
        return [pickle.loads(p) for p in tbl.column("payload").to_pylist()]
    cols = [tbl.column(name).to_pylist() for name in RESULT_COLUMNS]
    return [_result_value(row, deliver) for row in zip(*cols)]


def _pickle_job(function_, inputs: list) -> tuple[bytes, list[tuple[int, bytes]]]:
    """The job's function pickle and its ``(idx, blob)`` input rows,
    with the reference's size guards. Pickling runs with the function's
    user module registered by value (:func:`_user_module_by_value`)."""
    cp = _cloudpickle()
    with _user_module_by_value(cp, function_):
        function_pkl = cp.dumps(function_)
        if len(function_pkl) > MAX_FUNCTION_SIZE_BYTES:
            raise FunctionTooBig(
                f"pickled function is {len(function_pkl)} bytes "
                f"(max {MAX_FUNCTION_SIZE_BYTES})"
            )
        rows = []
        for i, item in enumerate(inputs):
            # cloudpickle semantics (inputs may be locally-defined
            # classes/closures, exactly like the reference's input
            # path) with the plain-pickle fast path for scalar
            # payloads — this loop is serial driver work on the
            # dispatch critical path.
            blob = _fast_dumps(cp, item)
            if len(blob) > MAX_INPUT_SIZE_BYTES:
                raise InputTooBig(
                    f"input {i} pickles to {len(blob)} bytes "
                    f"(max {MAX_INPUT_SIZE_BYTES})"
                )
            rows.append((i, blob))
    return function_pkl, rows


def _gpu_profile(spark: SparkSession, func_gpu, func_cpu, generator: bool):
    """The map stage's ResourceProfile for ``func_gpu``, or None.

    Builds the exact stage-level profile a GPU cluster would run with
    (reference providers/catalog.py:31-62,140-160 routes func_gpu to
    GPU machine types), then gates on the cluster actually advertising
    GPU executor resources — this env has none, so the profile is
    constructed and verified but the run refuses with the recipe
    attached."""
    if not func_gpu:
        return None
    if generator:
        raise ValueError(
            "func_gpu with generator=True is not supported — run "
            "detached or collecting (the profile applies to the "
            "collect-path job)"
        )
    profile = gpu_resource_profile(func_gpu, func_cpu=func_cpu)
    if not _cluster_has_gpus(spark):
        err = NotImplementedError(
            "func_gpu maps to a stage-level ResourceProfile "
            f"(task: {func_gpu} gpu + {func_cpu} cpus; executor: gpu "
            "request with nvidia discovery script), but this cluster "
            "advertises no GPU executor resources. On a GPU cluster "
            "set spark.executor.resource.gpu.amount / "
            "spark.task.resource.gpu.amount (or use dynamic "
            "allocation) and the attached .resource_profile is "
            "applied to the map stage via mapInArrow(profile=...)."
        )
        err.resource_profile = profile
        raise err
    return profile


# Wave size: WAVES_PER_WIDTH partitions-worth of inputs per repack wave —
# wide enough to amortize per-job overhead, narrow enough that a
# RAM-pressure change takes effect within a couple of waves.
WAVES_PER_WIDTH = 4


class _Plan:
    """What every RPM mode shares: the pickled function and its
    ``(idx, blob)`` rows, the width, the stdout sink, the job's one
    push listener, and the map stage over any slice of the rows.

    ``deliver`` is the ONE stdout sink for both paths: the live TCP
    push and the with-result fallback. Exactly-once per input — a
    worker clears row stdout iff its live push succeeded, and the
    driver additionally dedups by index (logs.once_per_index).

    The listener is bound here, once. With ``on_result`` (generator
    mode) it also carries the result batches, so it must bind and a
    failure raises; otherwise it carries only stdout, is bound only
    with ``capture_stdout`` and is best-effort."""

    def __init__(
        self,
        spark: SparkSession,
        function_pkl: bytes,
        rows: list[tuple[int, bytes]],
        *,
        func_cpu: int = 1,
        func_ram: str | int = "dynamic",
        max_parallelism: int | None = None,
        capture_stdout: bool = True,
        stdout_sink: Callable[[int, str], None] | None = None,
        gpu_profile=None,
        on_result: Callable[[list[tuple]], None] | None = None,
    ):
        from burla_spark.logs import MessageStreamServer, frame_sink, once_per_index

        self.spark = spark
        self.function_pkl = function_pkl
        self.rows = rows
        self.func_ram = func_ram
        self.max_parallelism = max_parallelism
        self.capture_stdout = capture_stdout
        self.gpu_profile = gpu_profile
        self.cpu_cap = spark.sparkContext.defaultParallelism // max(func_cpu, 1)
        # max(1, ..): a redrive whose inputs are all acked submits an
        # empty frame — the trivial job keeps one code path for the merge.
        self.n_parts = max(1, min(
            len(rows),
            max_parallelism or min(self.cpu_cap, _ram_parallelism_cap(spark, func_ram)),
        ))
        self.deliver = once_per_index(
            stdout_sink or (lambda idx, text: sys.stdout.write(text))
        )
        self.push_results = on_result is not None
        self.listener = None
        host = spark.conf.get("spark.driver.host", None) or "127.0.0.1"
        if self.push_results:
            self.listener = MessageStreamServer(
                frame_sink(self.deliver, on_result), host,
                max_msg=MAX_INPUT_SIZE_BYTES + 10_000_000,
            )
        elif capture_stdout:
            try:
                self.listener = MessageStreamServer(frame_sink(self.deliver), host)
            except OSError:
                pass  # no live logs: stdout rides with the result rows

    def build_df(self, rows, parts, partial_dir=None):
        """The map stage over ``rows`` in ``parts`` partitions: a
        binary input frame under ``mapInArrow`` of the worker."""
        import pyarrow as pa

        tbl = pa.Table.from_arrays(
            [
                pa.array([r[0] for r in rows], type=pa.int64()),
                pa.array([r[1] for r in rows], type=pa.binary()),
            ],
            names=["idx", "payload"],
        )
        # Spark scans an Arrow input under
        # spark.sql.execution.arrow.localRelationThreshold as a local
        # relation in min(rows, defaultParallelism) partitions, whatever
        # its batches; a larger one becomes one partition per Arrow batch
        # (the session's Arrow batch size in rows), and a batch never
        # crosses a chunk of the table. So the table goes in as ``parts``
        # contiguous chunks, and coalesce(parts) merges each chunk's
        # batches back into one partition above the threshold or narrows
        # the scan below it. Both are narrow steps (no shuffle), no
        # session conf is written, and pa.array already splits a binary
        # column at 2 GiB, so no batch outgrows a plain binary column.
        cuts = [len(rows) * i // parts for i in range(parts + 1)]
        tbl = pa.concat_tables([tbl.slice(a, b - a) for a, b in zip(cuts, cuts[1:])])
        wave_df = self.spark.createDataFrame(tbl, "idx long, payload binary").coalesce(parts)
        # func_gpu: stage-level scheduling — the map stage itself runs
        # under the GPU profile, in every mode that collects.
        return wave_df.mapInArrow(
            _make_udf(
                self.function_pkl,
                self.capture_stdout,
                self.listener.advertise if self.listener is not None else None,
                partial_dir=partial_dir,
                push_results=self.push_results,
            ),
            from_arrow_schema(result_schema()),
            profile=self.gpu_profile,
        )

    def collect_table(self, stage=None, spinner: bool = False):
        """Run the job to ONE RESULT pyarrow Table with ``toArrow``
        (guide §6: batches come back columnar, no JVM Row step) while
        the stdout listener runs. ``stage`` is a :meth:`build_df`
        over every row. Without one the job runs in repack WAVES whose
        width is recomputed from LIVE executor free memory; inputs
        ship per wave, and every wave keeps the GPU profile."""
        import pyarrow as pa

        from burla_spark.progress import ProgressReporter

        with self.listener or contextlib.nullcontext():
            with ProgressReporter(self.spark) if spinner else contextlib.nullcontext():
                if stage is not None:
                    return stage.toArrow()
                tables = []
                remaining = self.rows
                while remaining:
                    width = max(
                        1, min(self.cpu_cap, _live_ram_cap(self.spark, self.func_ram))
                    )
                    if self.max_parallelism:
                        width = min(width, self.max_parallelism)
                    take = max(1, width * WAVES_PER_WIDTH)
                    wave, remaining = remaining[:take], remaining[take:]
                    tables.append(self.build_df(wave, min(len(wave), width)).toArrow())
                return pa.concat_tables(tables)


def _drain_stage(stage) -> tuple:
    """Run a generator job's stage to its end: ``("__done__", None)``
    or ``("__fail__", exc)``. The UDF pushes rows itself and emits no
    batches; the noop sink just drains the empty stage output inside the
    JVM — no second python operator, no row re-pickling. A module
    function, so the failure's traceback (which pyspark's converted
    exceptions keep in a cycle) reaches no frame holding the stream's
    queue or listener."""
    try:
        stage.write.format("noop").mode("overwrite").save()
        return ("__done__", None)
    except BaseException as exc:  # noqa: BLE001 — relay to consumer
        return ("__fail__", exc)


def _stream_results(make_plan: Callable[..., _Plan]):
    """Stream adapter: a COMPLETION-ordered result generator (reference
    parity: `_remote_parallel_map.py:703-715` yields from a client-side
    Queue in the order results finish). ``make_plan(on_result=put)``
    builds the job's :class:`_Plan`, whose one listener then queues the
    result batches workers push after each input's stdout.

    First-result latency tracks the fastest input, not the slowest
    partition, and result payloads never round-trip through the JVM
    (measured 7.5 s -> ~5 s at 1M results against a foreachPartition
    re-push, guide §4). A failed push fails the task; Spark retries it
    and the driver dedups replayed rows by input index (the reference's
    ack/replay exactly-once contract). The action, a noop-sink write
    that drains the empty stage output, runs as a ``jobs.submit``
    background job. If the consumer abandons the generator or an error
    row raises, the job is CANCELED before the listener closes —
    otherwise every still-running task's push would fail and retry
    maxFailures times, re-executing user code."""
    import queue as _queue

    from burla_spark import jobs

    # BOUNDED queue (reference parity: the client yields from a
    # SizedQueue) — a slow consumer must stall the pushers, not buffer
    # the whole job on the driver. When it fills, the put below blocks
    # the selector thread → the listener stops reading → TCP windows
    # close → worker sends block inside their tasks: end-to-end
    # backpressure with no extra protocol. The depth only bounds DRIVER
    # memory; two batches of up to _STREAM_BATCH_ROWS rows keep the
    # listener decoding the next frame while the consumer works
    # through one (see _STREAM_BATCH_ROWS).
    q: "_queue.Queue" = _queue.Queue(maxsize=2)

    def put(item) -> None:
        # result batches (listener thread) and the action's done/fail
        # marker share the bounded queue. Once the listener closed, the
        # consumer is gone: drop what arrives (the buffered frames the
        # listener drains at close, the canceled action's marker).
        while not listener.closed:
            try:
                q.put(item, timeout=0.2)
                return
            except _queue.Full:
                pass

    plan = make_plan(on_result=put)
    # put reads the listener, not the plan: the listener holds put, and
    # a reference back to the plan would keep its input rows alive in a
    # cycle until the next full garbage collection.
    listener = plan.listener
    spark = plan.spark
    result_df = plan.build_df(plan.rows, plan.n_parts)
    n_expected = len(plan.rows)

    def stream():
        seen: set[int] = set()
        # "__done__" means the ACTION finished, not that every pushed
        # row has been drained: frames can still sit in kernel buffers /
        # the backpressured sink when the action returns (the bounded
        # queue makes that the common case under a slow consumer). So
        # completion is len(seen) == n_expected; the done marker only
        # switches the q.get to a bounded wait so a truly lost row
        # surfaces as a loud error instead of a hang.
        done = False
        job = None
        with listener:
            try:
                job = jobs.submit(
                    spark, lambda: put(_drain_stage(result_df)),
                    tag=f"burla-rpm-stream-{uuid.uuid4().hex[:12]}",
                )
                while len(seen) < n_expected:
                    try:
                        msg = q.get(timeout=60.0 if done else None)
                    except _queue.Empty:
                        raise RuntimeError(
                            "result stream stalled after job completion: "
                            f"{len(seen)}/{n_expected} results delivered"
                        ) from None
                    if not isinstance(msg, list):
                        if msg[0] == "__done__":
                            done = True
                        elif msg[0] == "__fail__":
                            raise msg[1]
                        continue
                    for tup in msg:  # one decoded batch frame
                        idx = tup[0]
                        if idx in seen:  # task-retry replay
                            continue
                        seen.add(idx)
                        # fast path for the overwhelmingly common row
                        # shape (no stdout to deliver, no error): skip
                        # _result_value's unpacking and branchwork — at
                        # 1M results that per-row work is driver-serial
                        # wall time.
                        if not tup[1] and not tup[3]:  # not is_error, no stdout
                            yield pickle.loads(tup[2])
                        else:
                            yield _result_value(tup, plan.deliver)
            finally:
                # cancel BEFORE tearing down the listener: abandonment
                # or an error row must stop the action, not strand tasks
                # whose pushes now fail into Spark's retry loop. A
                # finished job's cancel is a no-op.
                if job is not None:
                    job.cancel()

    return stream()


def run_detached(
    plan: _Plan,
    journal_dir: str | None = None,
    job_id: str | None = None,
    done=None,
    spinner: bool = False,
):
    """Detach adapter: run ``plan`` as a journaled background job
    (``jobs.run_journaled``) and return its BackgroundJob.
    ``jobs.redrive`` passes the orphan's ``job_id`` and its acked
    RESULT table as ``done``. The job id comes first, so executors ack
    into the job's own journal dir; the stage is built on the calling
    thread, so the Spark job starts as soon as the action does."""
    from burla_spark import jobs

    job_id = job_id or f"burla-job-{uuid.uuid4().hex[:12]}"
    base = jobs._journal_dir(plan.spark, journal_dir)
    stage = plan.build_df(
        plan.rows, plan.n_parts, partial_dir=jobs._partial_dir(base, job_id)
    )
    return jobs.run_journaled(
        plan.spark, job_id, base, plan.function_pkl, plan.rows, done,
        lambda: plan.collect_table(stage, spinner),
        lambda tbl: materialize_results_arrow(tbl, plan.deliver),
    )


def remote_parallel_map(
    function_: Callable,
    inputs: Iterable[Any],
    func_cpu: int = 1,
    func_ram: str | int = "dynamic",
    func_gpu: int | None = None,
    image: str | None = None,
    grow: bool = True,
    max_parallelism: int | None = None,
    detach: bool | str = False,
    generator: bool = False,
    spinner: bool = False,
    repack: bool = False,
    spark: SparkSession | None = None,
    capture_stdout: bool = True,
    stdout_sink: Callable[[int, str], None] | None = None,
    journal_dir: str | None = None,
):
    """Apply ``function_`` to every input on the cluster; return results
    (unordered list; a generator when ``generator=True``; a
    ``BackgroundJob`` handle when ``detach=True``).

    Full reference signature (_remote_parallel_map.py:457-469) with the
    Spark mapping:
    * func_cpu — width divisor: concurrent tasks ≈ total_cores/func_cpu
      (per-task CPU pinning is spark.task.cpus at session level).
    * func_ram — RAM-aware parallelism cap, the static half of the
      reference's packing rule (catalog.py:94-101:
      ``min(cpus // func_cpu, ram_gb // func_ram)``): an explicit
      func_ram caps the map stage's tasks at executor_memory_gb //
      func_ram_gb per executor. 'dynamic' (the default) adapts to live
      memory, so it sets no static cap. With ``repack=True`` the job
      runs in WAVES and the width is recomputed from LIVE executor free
      memory between waves ('dynamic' counts ~4 GB per task there) —
      the dynamic half of the reference's rule (worker_client.py:88-151
      repacks as workers free RAM) at wave granularity, since Spark
      cannot resize a RUNNING stage (the residual §7.3.3 divergence:
      within one wave the width is fixed).
    * max_parallelism — the map stage's width, in place of the cpu and
      RAM caps: never more tasks than inputs, and an input under
      Spark's local-relation threshold never runs wider than the cores.
    * func_gpu — stage-level ResourceProfiles on a GPU cluster; raises
      here (no GPUs in this environment).
    * image / grow — container image and autoscaling are cluster-level
      in Spark (spark.kubernetes.container.image, dynamic allocation);
      accepted and ignored.
    * detach — True runs on a background thread under a cancelable job
      tag (burla_spark.jobs); survives until the driver exits, with
      journal/partial-ack recovery after it. detach="process" goes
      further: the job runs under its OWN driver (jobs_runner spawned
      in a new session), so it keeps EXECUTING after this process
      exits — the reference's A22 semantics (job_watcher.py:259,
      294-301) — at the cost of a second JVM and the journal-payload
      size cap (function+inputs must fit spark.burla.
      journalPayloadMaxBytes, since the journal is the only channel
      to the runner).
    * spinner — live ``X/N done`` progress lines (burla_spark.progress).
    """
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        # The reference supports nested RPM (a UDF calling RPM again —
        # node_service/__init__.py:54-55, scheduled back onto the same
        # cluster). Spark executors cannot submit jobs, so a nested
        # call DEGRADES to an executor-local map with identical
        # semantics (tuple unpacking, completion order, input-index
        # error attribution) — parallelism bounded to this worker
        # instead of the cluster (SURVEY §7.3.4's residual divergence).
        if os.environ.get("BURLA_SPARK_IN_WORKER") == "1":
            return _nested_local_map(
                function_, inputs, generator=generator, detach=detach
            )
        raise RuntimeError(
            "no active SparkSession — call burla_spark.get_spark() first "
            "(or pass spark=...). If this call is inside a Spark worker "
            "(nested RPM in your OWN UDF), executors cannot submit jobs — "
            "either call through burla_spark's remote_parallel_map (whose "
            "workers run nested calls executor-locally) or restructure as "
            "driver-side composition: expand inputs first and run ONE "
            "remote_parallel_map over the expanded list."
        )
    gpu_profile = _gpu_profile(spark, func_gpu, func_cpu, generator)
    if detach and generator:
        raise ValueError("detach=True and generator=True are mutually exclusive")
    if repack and (detach or generator):
        raise ValueError(
            "repack=True runs the job in resizable waves on the calling "
            "thread — incompatible with detach/generator (whose single "
            "submission the journal and completion-order channel rely on)"
        )

    inputs = list(inputs)
    if not inputs:
        # reference short-circuit (_remote_parallel_map.py:542)
        return iter(()) if generator else []
    function_pkl, rows = _pickle_job(function_, inputs)

    if detach == "process":
        # True cross-process detach (reference A22): the job runs under
        # its OWN driver (burla_spark.jobs_runner) and survives this
        # process exiting. This driver journals the payload and spawns
        # the runner — it does no Spark work for the job at all.
        from burla_spark import jobs

        return jobs.submit_process_detached(
            spark, function_pkl, rows, journal_dir=journal_dir
        )

    make_plan = functools.partial(
        _Plan, spark, function_pkl, rows, func_cpu=func_cpu, func_ram=func_ram,
        max_parallelism=max_parallelism, capture_stdout=capture_stdout,
        stdout_sink=stdout_sink, gpu_profile=gpu_profile,
    )
    if generator:
        return _stream_results(make_plan)
    plan = make_plan()
    if detach:
        return run_detached(plan, journal_dir, spinner=spinner)
    stage = None if repack else plan.build_df(rows, plan.n_parts)
    return materialize_results_arrow(plan.collect_table(stage, spinner), plan.deliver)
