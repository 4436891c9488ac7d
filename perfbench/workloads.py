"""The four workloads and the closed loop that times them.

One client (this process) issues one operation at a time against a
``local[N]`` session. Each workload runs ``jobs`` back-to-back jobs;
an *operation* is one RPM input or one query execution, and only the
operations' own calls are inside the timers. Inputs are generated and
outputs are checked outside them."""

from __future__ import annotations

import collections
import contextlib
import hashlib
import os
import random
import resource
import shutil
import statistics
import threading
import time

from perfbench import host, procs, userfns

# A job during which the hypervisor withheld more than STEAL_LIMIT of
# the CPU time the host asked for measured the neighbours as much as
# the program. In the untraced region such a job is run once more with
# the same inputs, and the less-stolen attempt's timings are kept.
# Every attempt's outputs are checked and counted.
STEAL_LIMIT = 0.03


# ---------------------------------------------------------------------------
# seeded inputs and exact checks
# ---------------------------------------------------------------------------
def _rng(seed: int, job: int) -> random.Random:
    return random.Random(seed * 1_000_003 + job)


def seeded_ints(seed: int, job: int, n: int) -> list[int]:
    rng = _rng(seed, job)
    return [rng.getrandbits(31) for _ in range(n)]


def seeded_payloads(seed: int, job: int, n: int) -> list[bytes]:
    """n distinct payloads of 0.75-1.25 KB: a 4-byte input number in
    front of one of 256 seeded random bodies."""
    rng = _rng(seed, job)
    bodies = [rng.randbytes(rng.randrange(764, 1277)) for _ in range(256)]
    return [j.to_bytes(4, "big") + bodies[rng.randrange(256)] for j in range(n)]


def mismatches(expected: list, got: list) -> int:
    """Operations whose result is missing or wrong, comparing the two
    lists as exact multisets (an unexpected extra result counts too)."""
    if sorted(expected) == sorted(got):
        return 0
    e, g = collections.Counter(expected), collections.Counter(got)
    return max(sum((e - g).values()), sum((g - e).values()))


def _digest(b: bytes) -> bytes:
    return hashlib.blake2b(b, digest_size=16).digest()


# ---------------------------------------------------------------------------
# the timed loop
# ---------------------------------------------------------------------------
class Region:
    """What one timed region measured and checked."""

    def __init__(self) -> None:
        self.op_walls: list[float] = []
        self.first_s: list[float] = []
        self.peak_rss_mb = 0.0
        self.cpu_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = collections.defaultdict(float)
        self.task_shares: list[float] = []
        self.errors: list[str] = []
        self.stolen: list[float] = []  # per job, untraced region only
        self.retried = 0

    def fail(self, n: int, what: str, exc: BaseException) -> None:
        self.failed += n
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])

    def absorb(self, other: "Region", timings: bool = True) -> None:
        """Add one job attempt's outcome; its timings only if kept."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.errors += other.errors
        for k, v in other.layer.items():
            self.layer[k] += v
        if timings:
            self.op_walls += other.op_walls
            self.first_s += other.first_s
            self.cpu_s += other.cpu_s
            self.peak_rss_mb = max(self.peak_rss_mb, other.peak_rss_mb)
            self.stolen += other.stolen


class Op:
    def __init__(self) -> None:
        self.t0 = 0.0
        self.wall = 0.0
        self.first: float | None = None


class Bench:
    """Per-region state handed to the workloads. ``tracer`` and
    ``stats`` are set only for the traced region."""

    def __init__(self, spark, seed: int, tracer=None, stats=None) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.stats = stats

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @contextlib.contextmanager
    def op(self, region: Region, span_name: str):
        """Time one operation: wall, time to first result, driver CPU
        and the driver's peak RSS while it ran."""
        op = Op()
        procs.reset_peak_rss()
        ru0 = resource.getrusage(resource.RUSAGE_SELF)
        op.t0 = time.perf_counter()
        try:
            with self.span(span_name):
                yield op
        finally:
            op.wall = time.perf_counter() - op.t0
            ru1 = resource.getrusage(resource.RUSAGE_SELF)
            region.op_walls.append(op.wall)
            region.first_s.append(op.wall if op.first is None else op.first)
            region.cpu_s += (ru1.ru_utime - ru0.ru_utime) + (ru1.ru_stime - ru0.ru_stime)
            region.peak_rss_mb = max(region.peak_rss_mb, procs.peak_rss_mb())

    def after_op(self, region: Region) -> None:
        """Traced region only: what Spark's status store recorded for
        the operation that just finished."""
        if self.stats is None:
            return
        rec = self.stats.since_last()
        region.task_shares.append(rec.pop("max_task_share"))
        for k, v in rec.items():
            prefix = "boundary" if k.startswith("py_") else "spark"
            region.layer[f"{prefix}.{k}"] += v


class Workload:
    name = ""
    # Seconds one job takes on a quiet 4-core host at the commit that
    # defined this benchmark. It only converts --seconds into a FIXED
    # job count, so a faster program shows up as a lower wall_s.
    job_s = 1.0
    op_span = "rpm.job"
    rpm_layers = True
    # first_result_s over the operations' call-to-first-result times.
    # An operation that returns all its results at once has the wall as
    # that time; the mean keeps every operation in (a median over four
    # queries would report one query).
    first_result = staticmethod(statistics.fmean)

    def jobs_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.job_s))

    def setup(self, b: Bench) -> None:
        """Warm-up after the session is up; counted in setup_s."""

    def job(self, b: Bench, i: int, region: Region) -> None:
        raise NotImplementedError

    def finish(self, b: Bench, region: Region) -> None:
        """Checks that run after the whole region."""


def _attempt(wl: Workload, b: Bench, i: int) -> Region:
    part = Region()
    t0 = host.cpu_times()
    wl.job(b, i, part)
    part.stolen.append(host.stolen_share(t0, host.cpu_times()))
    return part


def run_region(wl: Workload, b: Bench, n_jobs: int, retries: int = 0) -> Region:
    """Run n_jobs jobs back to back. Untraced, up to ``retries`` jobs
    that ran under more than STEAL_LIMIT steal are run once more."""
    region = Region()
    for i in range(n_jobs):
        if b.tracer is not None:
            b.tracer.job = i
            wl.job(b, i, region)
            continue
        kept = _attempt(wl, b, i)
        if retries and kept.stolen[0] > STEAL_LIMIT:
            retries -= 1
            region.retried += 1
            again = _attempt(wl, b, i)
            if again.stolen[0] < kept.stolen[0]:
                kept, again = again, kept
            region.absorb(again, timings=False)
        region.absorb(kept)
    wl.finish(b, region)
    return region


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------
class RpmSmall(Workload):
    """Collect jobs over many tiny ints with a trivial function."""

    name = "rpm_small"
    inputs_per_job = 150_000
    job_s = 2.4

    def setup(self, b: Bench) -> None:
        """A small cold job, then a full-size one: the first job after
        boot takes ~8 s whatever its size, and the next full-size job
        still runs ~50% slower than the ones after it."""
        from burla_spark import remote_parallel_map

        for i, n in ((1, 10_000), (2, self.inputs_per_job)):
            remote_parallel_map(userfns.affine, seeded_ints(b.seed, -i, n), spark=b.spark)

    def job(self, b: Bench, i: int, region: Region) -> None:
        from burla_spark import remote_parallel_map

        inputs = seeded_ints(b.seed, i, self.inputs_per_job)
        region.attempted += len(inputs)
        try:
            with b.op(region, self.op_span):
                results = remote_parallel_map(userfns.affine, inputs, spark=b.spark)
        except Exception as exc:  # noqa: BLE001 — a failed job is a measured outcome
            region.fail(len(inputs), f"job {i}", exc)
            return
        b.after_op(region)
        region.failed += mismatches([userfns.affine(x) for x in inputs], results)


class RpmStream(Workload):
    """generator=True jobs over KB payloads, one stdout line per input."""

    name = "rpm_stream"
    inputs_per_job = 20_000
    job_s = 1.3
    first_result = staticmethod(statistics.median)

    def setup(self, b: Bench) -> None:
        """A small cold job, then three full-size ones: job walls and
        first-result times fall for the first few jobs after boot
        before they level off."""
        from burla_spark import remote_parallel_map

        for i, n in ((1, 1_000), (2, self.inputs_per_job), (3, self.inputs_per_job),
                     (4, self.inputs_per_job)):
            warm = seeded_payloads(b.seed, -i, n)
            for _ in remote_parallel_map(
                userfns.echo_reversed, warm, spark=b.spark, generator=True,
                stdout_sink=lambda idx, text: None,
            ):
                pass

    def job(self, b: Bench, i: int, region: Region) -> None:
        from burla_spark import remote_parallel_map

        inputs = seeded_payloads(b.seed, i, self.inputs_per_job)
        n = len(inputs)
        region.attempted += n
        lines: list[int] = []
        results: list[bytes] = []
        try:
            with b.op(region, self.op_span) as op:
                stream = remote_parallel_map(
                    userfns.echo_reversed, inputs, spark=b.spark, generator=True,
                    stdout_sink=lambda idx, text: lines.append(idx),
                )
                for r in stream:
                    if op.first is None:
                        op.first = time.perf_counter() - op.t0
                    results.append(r)
        except Exception as exc:  # noqa: BLE001
            region.fail(n, f"job {i}", exc)
            return
        b.after_op(region)
        region.failed += mismatches(
            [_digest(p[::-1]) for p in inputs], [_digest(r) for r in results]
        )
        # Stdout is counted per input, apart from failures: lines that
        # never reach the sink are a known, intermittent loss.
        delivered = {idx for idx in lines if 0 <= idx < n}
        region.layer["logs.stdout_expected"] += n
        region.layer["logs.stdout_lost"] += n - len(delivered)
        region.layer["logs.stdout_dup"] += len(lines) - len(set(lines))


class _JournalSampler(threading.Thread):
    """Peak bytes and file count of one job's journal directory."""

    def __init__(self, path: str) -> None:
        super().__init__(daemon=True, name="journal-sampler")
        self.path = path
        self.peak_bytes = 0
        self.peak_files = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = files = 0
        for root, _, names in os.walk(self.path):
            for name in names:
                with contextlib.suppress(OSError):
                    total += os.path.getsize(os.path.join(root, name))
                    files += 1
        self.peak_bytes = max(self.peak_bytes, total)
        self.peak_files = max(self.peak_files, files)

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


class RpmDetach(Workload):
    """detach="process" jobs: submit, await, read back."""

    name = "rpm_detach"
    inputs_per_job = 5_000
    job_s = 14.0
    op_span = "jobs.job"

    def job(self, b: Bench, i: int, region: Region) -> None:
        from burla_spark import remote_parallel_map
        from perfbench.sparkstats import MB, read_runner_phases, runner_split

        journal = b.spark.conf.get("spark.burla.jobJournalDir")
        inputs = seeded_ints(b.seed, i, self.inputs_per_job)
        region.attempted += len(inputs)
        handle = sampler = None
        submitted_at = 0.0
        try:
            with b.op(region, self.op_span):
                with b.span("jobs.submit"):
                    handle = remote_parallel_map(
                        userfns.affine, inputs, spark=b.spark, detach="process"
                    )
                submitted_at = time.time()
                if b.tracer is not None:
                    job_dir = os.path.join(journal, handle.job_id)
                    region.layer["jobs.journal_payload_mb"] += (
                        os.path.getsize(os.path.join(job_dir, "payload.pkl")) / MB
                    )
                    sampler = _JournalSampler(job_dir)
                    sampler.sample()
                    sampler.start()
                results = handle.result()
        except Exception as exc:  # noqa: BLE001
            region.fail(len(inputs), f"job {i}", exc)
            results = None
        finally:
            if sampler is not None:
                sampler.stop()
                region.layer["jobs.journal_peak_mb"] = max(
                    region.layer["jobs.journal_peak_mb"], sampler.peak_bytes / MB
                )
                region.layer["jobs.journal_peak_files"] = max(
                    region.layer["jobs.journal_peak_files"], sampler.peak_files
                )
            if handle is not None:
                procs.wait_session_gone(handle.pid)
        if handle is None:
            return
        if b.tracer is not None:
            phases = read_runner_phases(journal, handle.job_id)
            if phases is not None and "job_done" in phases:
                for k, v in runner_split(phases, submitted_at).items():
                    region.layer[f"jobs.{k}"] += v
        shutil.rmtree(os.path.join(journal, handle.job_id), ignore_errors=True)
        if results is not None:
            region.failed += mismatches([userfns.affine(x) for x in inputs], results)


class _Collected:
    """Rows already collected in the timed region, in the shape
    ``tests.oracle.compare`` reads from a DataFrame."""

    def __init__(self, rows: list, columns: list[str]) -> None:
        self._rows = rows
        self.columns = columns

    def collect(self) -> list:
        return self._rows


class DfQueries(Workload):
    """Passes over a fixed list of registry specs at sf0.1; one job is
    one query."""

    name = "df_queries"
    # TPC-H-shaped relational queries, Python-boundary operators, a
    # tiny-exchange verify stage and a stateful stream replay. None
    # reads a build-once artifact; the cache is cleared after each.
    specs = (
        "q3_shipping_priority",
        "applyinpandas_grouped",
        "shingle_jaccard_verified_pairs",
        "stream_key_dedup",
    )
    # seconds one warm pass over the specs takes; a job is one query.
    # Passes keep getting faster for many passes after the first, and
    # two timed passes vary less from run to run than one.
    job_s = 5.5
    op_span = "df.query"
    rpm_layers = False

    def __init__(self) -> None:
        # the sf0.1 tables bench.py reads ($SPARK_GRAFT_SF_DIR)
        from bench import SF_DIR

        self.sf_dir = SF_DIR
        self._by_name: dict = {}
        self._pending: list[tuple[str, list, list[str]]] = []

    def jobs_for(self, seconds: float) -> int:
        return len(self.specs) * super().jobs_for(seconds)

    def setup(self, b: Bench) -> None:
        from burla_spark.plans.registry import all_specs

        self._by_name = {s.name: s for s in all_specs() if s.name in self.specs}
        missing = set(self.specs) - set(self._by_name)
        if missing:
            raise KeyError(f"registry has no spec named {sorted(missing)}")
        for name in self.specs:  # one untimed pass warms codegen and workers
            self._by_name[name].spark(b.spark, self.sf_dir).collect()
            b.spark.catalog.clearCache()

    def job(self, b: Bench, i: int, region: Region) -> None:
        name = self.specs[i % len(self.specs)]
        region.attempted += 1
        try:
            with b.op(region, self.op_span):
                with b.span("plans.build"):
                    df = self._by_name[name].spark(b.spark, self.sf_dir)
                with b.span("plans.action"):
                    rows = df.collect()
            if b.stats is not None:
                region.layer["catalyst.plan_s"] += b.stats.catalyst_plan_s(df)
            b.after_op(region)
            self._pending.append((name, rows, df.columns))
        except Exception as exc:  # noqa: BLE001
            region.fail(1, name, exc)
        finally:
            b.spark.catalog.clearCache()

    def finish(self, b: Bench, region: Region) -> None:
        """Every collected result against the DuckDB oracle, with the
        exactness flag the oracle suite uses."""
        from burla_spark.plans.registry import oracle_sql
        from tests.oracle import compare, duck_connection
        from tests.test_oracle_parity import _APPROX

        oracles = oracle_sql()
        con = duck_connection(self.sf_dir)
        try:
            for name, rows, columns in self._pending:
                try:
                    compare(_Collected(rows, columns), con, oracles[name], exact=name not in _APPROX)
                except AssertionError as exc:
                    region.fail(1, name, exc)
        finally:
            con.close()
            self._pending.clear()


WORKLOADS = {wl.name: wl for wl in (RpmSmall, RpmStream, RpmDetach, DfQueries)}
