"""RPM-semantics suite — mirrors the reference's client-observable
contracts (reference tests: client/tests/test_rpm_core.py:23-134,
tests/scenarios/test_large_input_scale.py:24-30; shapes per FIXTURES.md §2).
"""

from __future__ import annotations

import os

import pytest

from burla_spark.rpm import (
    FunctionTooBig,
    InputTooBig,
    RpmError,
    remote_parallel_map,
)


def _print_and_identity(x):
    print("hi")
    return x


def test_public_signature_has_no_private_parameters():
    """Internal callers (redrive) reach the detach adapter directly;
    the public operator carries no underscore parameters for them."""
    import inspect

    params = inspect.signature(remote_parallel_map).parameters
    assert [name for name in params if name.startswith("_")] == []


def test_roundtrip_unordered(spark):
    results = remote_parallel_map(_print_and_identity, list(range(100)), spark=spark)
    assert len(results) == 100
    assert set(results) == set(range(100))


def test_empty_inputs(spark):
    assert remote_parallel_map(lambda x: x, [], spark=spark) == []
    assert list(remote_parallel_map(lambda x: x, [], spark=spark, generator=True)) == []


def test_tuple_unpacking(spark):
    results = remote_parallel_map(lambda a, b: a + b, [(1, 2), (3, 4), (5, 6)], spark=spark)
    assert sorted(results) == [3, 7, 11]


def test_lists_not_unpacked(spark):
    results = remote_parallel_map(lambda l: sum(l), [[1, 2], [3, 4]], spark=spark)
    assert sorted(results) == [3, 7]


def test_generator_streaming(spark):
    gen = remote_parallel_map(lambda x: x + 10, range(20), spark=spark, generator=True)
    assert sorted(gen) == [x + 10 for x in range(20)]


def test_error_attribution(spark):
    def boom(x):
        if x == 7:
            raise ValueError("x was seven")
        return x

    with pytest.raises(RpmError) as exc_info:
        remote_parallel_map(boom, range(20), spark=spark)
    e = exc_info.value
    assert e.burla_input_index == 7
    assert e.error_type == "ValueError"
    assert "x was seven" in e.original_message
    assert "boom" in e.remote_traceback


def test_stdout_capture(spark):
    captured = []
    remote_parallel_map(
        lambda x: x,
        range(10),
        spark=spark,
        stdout_sink=lambda idx, text: captured.append((idx, text)),
    )
    # identity prints nothing; now with prints:
    captured.clear()

    def loud(x):
        print(f"line-{x}")
        return x

    remote_parallel_map(
        loud, range(10), spark=spark,
        stdout_sink=lambda idx, text: captured.append((idx, text.strip())),
    )
    assert sorted(captured) == [(i, f"line-{i}") for i in range(10)]


def test_large_input_scale(spark):
    results = remote_parallel_map(lambda x: x * 3, range(1000), spark=spark)
    assert sorted(results) == [x * 3 for x in range(1000)]


def test_input_too_big(spark):
    big = b"x" * (200_000_001)
    with pytest.raises(InputTooBig):
        remote_parallel_map(lambda x: len(x), [big], spark=spark)


def test_function_too_big(spark):
    blob = b"y" * 100_000_001

    def closure_heavy(x):
        return len(blob) + x

    with pytest.raises(FunctionTooBig):
        remote_parallel_map(closure_heavy, [1], spark=spark)


def test_detach_returns_background_handle(spark):
    from burla_spark.jobs import BackgroundJob

    job = remote_parallel_map(lambda x: x + 1, range(50), spark=spark, detach=True)
    assert isinstance(job, BackgroundJob)
    assert sorted(job.result(timeout=60)) == list(range(1, 51))


def test_detach_generator_conflict(spark):
    with pytest.raises(ValueError):
        remote_parallel_map(lambda x: x, [1], spark=spark, detach=True, generator=True)


def test_func_gpu_raises_with_profile_attached(spark):
    """GPU-less env: the run refuses, but the EXACT stage-level profile
    a GPU cluster would use is built, attached to the error, and
    carries the requested amounts (reference catalog.py:31-62 GPU
    routing, re-expressed as Spark stage-level scheduling)."""
    with pytest.raises(NotImplementedError) as excinfo:
        remote_parallel_map(lambda x: x, [1], spark=spark, func_gpu=2, func_cpu=3)
    profile = excinfo.value.resource_profile
    assert profile.taskResources["gpu"].amount == 2.0
    assert profile.taskResources["cpus"].amount == 3.0
    ereq = profile.executorResources["gpu"]
    assert ereq.amount == 2
    assert ereq.vendor == "nvidia.com"
    assert "getGpusResources" in ereq.discoveryScript


def test_gpu_resource_profile_builds_without_gpus():
    from burla_spark.rpm import gpu_resource_profile

    p = gpu_resource_profile(1)
    assert p.taskResources["gpu"].amount == 1.0
    assert p.executorResources["gpu"].amount == 1
    # fractional task GPUs (sharing one device across tasks) round the
    # executor request UP to whole devices
    p2 = gpu_resource_profile(0.5)
    assert p2.taskResources["gpu"].amount == 0.5
    assert p2.executorResources["gpu"].amount == 1


def test_func_gpu_profile_reaches_the_map_stage(spark, monkeypatch):
    """On a cluster that advertises GPUs, the map stage itself carries
    the GPU profile. The plan is recorded, never run: no GPUs here."""
    from burla_spark import rpm

    plans = []

    def record_plan(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return rpm.result_schema().empty_table()

    monkeypatch.setattr(rpm, "_cluster_has_gpus", lambda spark: True)
    monkeypatch.setattr(type(spark.range(1)), "toArrow", record_plan)
    assert remote_parallel_map(lambda x: x, [1, 2], spark=spark, func_gpu=1) == []
    assert len(plans) == 1
    assert "Profile:" in plans[0] and "gpu" in plans[0], plans[0]


def test_func_gpu_generator_conflict(spark):
    with pytest.raises(ValueError, match="generator"):
        remote_parallel_map(
            lambda x: x, [1], spark=spark, func_gpu=1, generator=True
        )


def test_func_cpu_and_spinner(spark):
    results = remote_parallel_map(
        lambda x: x * 2, range(64), spark=spark, func_cpu=4, spinner=True
    )
    assert sorted(results) == [x * 2 for x in range(64)]


def test_nested_rpm_degrades_to_local_map(spark):
    """The reference allows nested RPM (scheduled onto the same
    cluster); Spark executors can't submit jobs, so the inner call
    runs executor-locally with the same semantics (SURVEY §7.3.4) —
    reference code using nested rpm runs unmodified."""

    def outer(x):
        from burla_spark import remote_parallel_map as rpm

        return sorted(rpm(lambda y: y * 2, [x, x + 1]))

    results = remote_parallel_map(outer, [1, 3], spark=spark)
    assert sorted(results) == [[2, 4], [6, 8]]


def test_nested_rpm_tuple_unpack_and_generator(spark):
    def outer(x):
        from burla_spark import remote_parallel_map as rpm

        summed = rpm(lambda a, b: a + b, [(x, 1), (x, 2)])
        gen = rpm(lambda y: y + 10, [x], generator=True)
        return sorted(summed) + list(gen)

    results = remote_parallel_map(outer, [5], spark=spark)
    assert results == [[6, 7, 15]]


def test_nested_rpm_error_attribution(spark):
    """A nested failure carries BOTH input indices: the inner call
    tags the original exception with its index; the outer worker ships
    it with the outer index."""

    def outer(x):
        from burla_spark import remote_parallel_map as rpm

        def inner(y):
            if y == 7:
                raise ValueError("inner seven")
            return y

        return rpm(inner, [x, 7])

    with pytest.raises(RpmError) as exc_info:
        remote_parallel_map(outer, [1], spark=spark)
    e = exc_info.value
    assert e.burla_input_index == 0  # outer input that failed
    assert "inner seven" in e.original_message


def test_nested_rpm_detach_unsupported(spark):
    def outer(x):
        from burla_spark import remote_parallel_map as rpm

        return rpm(lambda y: y, [x], detach=True)

    with pytest.raises(RpmError) as exc_info:
        remote_parallel_map(outer, [1], spark=spark)
    assert "nested" in exc_info.value.original_message.lower()


def test_arbitrary_objects_roundtrip(spark):
    class Thing:
        def __init__(self, v):
            self.v = v

    results = remote_parallel_map(lambda t: t.v * 2, [Thing(i) for i in range(10)], spark=spark)
    assert sorted(results) == [i * 2 for i in range(10)]


def test_local_class_results_roundtrip(spark):
    """Results that are locally-defined class instances must come back
    (worker serializes results with cloudpickle, by value)."""

    class Box:
        def __init__(self, v):
            self.v = v

    results = remote_parallel_map(lambda x: Box(x * 3), range(6), spark=spark)
    assert sorted(r.v for r in results) == [x * 3 for x in range(6)]


def test_live_log_streaming_mid_job(spark):
    """Per-input stdout must surface WHILE the job runs (reference
    parity: live log relay), not only with the results: a straggler
    input holds the job open ~4s; the fast inputs' prints must have
    arrived well before completion, each exactly once."""
    import threading
    import time

    received = []
    lock = threading.Lock()

    def sink(idx, text):
        with lock:
            received.append((idx, text, time.time()))

    def fn(x):
        print(f"msg-{x}")
        if x == 99:
            time.sleep(4)
        return x

    inputs = list(range(8)) + [99]
    res = remote_parallel_map(fn, inputs, spark=spark, stdout_sink=sink)
    t_done = time.time()
    assert sorted(res) == sorted(inputs)
    with lock:
        got = list(received)
    assert sorted(i for i, _, _ in got) == list(range(9))  # exactly once
    for i, text, _ in got:
        assert text == f"msg-{inputs[i]}\n"
    earliest = min(t for _, _, t in got)
    assert t_done - earliest > 2.0, "no stdout arrived before job completion"


def _print_index(x):
    print(f"line-{x}")
    return x


def test_generator_jobs_deliver_every_stdout_line_once(spark):
    """Back-to-back generator jobs: every result and every live stdout
    line arrives exactly once, and each input's line reaches the sink
    before its result is yielded. Log frames still buffered on the
    driver when the last result is consumed must be drained at close,
    not dropped with the listener. The sink is slowed a little, as it
    is under a busy consumer."""
    import time

    n = 2000
    for job in range(5):
        lines: list = []
        delivered: set = set()

        def sink(idx, text):
            time.sleep(0.0002)
            lines.append((idx, text))
            delivered.add(idx)

        results = []
        early = 0
        for value in remote_parallel_map(
            _print_index, range(n), spark=spark, generator=True, stdout_sink=sink,
        ):
            early += value not in delivered
            results.append(value)
        assert early == 0, f"job {job}: {early} results yielded before their stdout"
        assert sorted(results) == list(range(n)), f"job {job}"
        assert sorted(lines) == [(i, f"line-{i}\n") for i in range(n)], f"job {job}"


def _raise_oserror(*args, **kwargs):
    raise OSError("listener cannot bind")


def test_unbindable_listener_delivers_stdout_with_the_rows(spark, monkeypatch):
    """Live-log push fails → with-result delivery: when the listener
    cannot bind, a collect job still delivers every line exactly once,
    through its row. A generator job needs the listener for its
    results, so it raises."""
    from burla_spark import logs

    monkeypatch.setattr(logs.MessageStreamServer, "__init__", _raise_oserror)
    lines: list = []
    got = remote_parallel_map(
        _print_index, range(20), spark=spark,
        stdout_sink=lambda idx, text: lines.append((idx, text)),
    )
    assert sorted(got) == list(range(20))
    assert sorted(lines) == [(i, f"line-{i}\n") for i in range(20)]
    with pytest.raises(OSError, match="cannot bind"):
        list(remote_parallel_map(_print_index, range(4), spark=spark, generator=True))


def _print_two_megabytes(x):
    print("x" * 2_000_000 if x == 0 else f"line-{x}")
    return x


def test_stdout_over_the_frame_cap_rides_with_its_row(spark):
    """A 2 MB line is over the 1 MB stdout-frame cap of a collect job:
    the live push is refused, and the line is delivered exactly once,
    through its row."""
    lines: list = []
    got = remote_parallel_map(
        _print_two_megabytes, range(4), spark=spark,
        stdout_sink=lambda idx, text: lines.append((idx, text)),
    )
    assert sorted(got) == list(range(4))
    assert sorted(lines) == [(0, "x" * 2_000_000 + "\n")] + [
        (i, f"line-{i}\n") for i in range(1, 4)
    ]


def _print_index_in_task(x):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    print(f"line-{x}")
    return x, ctx.partitionId(), ctx.attemptNumber()


def test_one_listener_and_one_connection_per_task(spark, monkeypatch):
    """A job binds at most one listener: a generator job one (stdout
    and results), a collect job one (stdout), a collect job without
    stdout capture none. Each generator task opens one connection."""
    import inspect

    from burla_spark import logs
    from burla_spark.rpm import _make_udf

    servers: list = []
    accepted: list = []
    init, accept = logs.MessageStreamServer.__init__, logs.MessageStreamServer._accept

    def counting_init(self, *args, **kwargs):
        servers.append(self)
        init(self, *args, **kwargs)

    def counting_accept(self):
        before = len(self._sel.get_map())
        accept(self)
        accepted.append(len(self._sel.get_map()) - before)

    monkeypatch.setattr(logs.MessageStreamServer, "__init__", counting_init)
    monkeypatch.setattr(logs.MessageStreamServer, "_accept", counting_accept)
    lines: list = []
    got = list(remote_parallel_map(
        _print_index_in_task, range(8), spark=spark, generator=True,
        stdout_sink=lambda idx, text: lines.append(idx),
    ))
    assert sorted(x for x, _, _ in got) == list(range(8))
    assert sorted(lines) == list(range(8))
    assert len(servers) == 1
    tasks = {(part, attempt) for _, part, attempt in got}
    assert sum(accepted) == len(tasks)

    servers.clear()
    assert sorted(remote_parallel_map(_print_index, range(8), spark=spark)) == list(range(8))
    assert len(servers) == 1
    servers.clear()
    got = remote_parallel_map(_print_index, range(8), spark=spark, capture_stdout=False)
    assert sorted(got) == list(range(8))
    assert servers == []
    params = inspect.signature(_make_udf).parameters
    assert "log_addr" not in params and "result_addr" not in params


def test_finished_generator_frees_its_plan_without_a_cycle_collection(spark, monkeypatch):
    """The listener holds the stream's close-aware queue callback, and
    the callback reads the listener. Neither may keep the plan (its
    input rows), the listener or the stdout sink (its dedup set, and
    what the user's sink holds) alive until the next full garbage
    collection — also when the consumer drains every result before the
    noop write returns, so the stream cancels it and the write fails
    after the consumer left."""
    import gc
    import time
    import weakref

    import burla_spark.rpm as rpm_mod
    from burla_spark import jobs

    plans: list = []
    plan_init = rpm_mod._Plan.__init__

    def recording_init(self, *args, **kwargs):
        plan_init(self, *args, **kwargs)
        plans.append((weakref.ref(self), weakref.ref(self.listener)))

    submitted: list = []
    submit = jobs.submit

    def recording_submit(*args, **kwargs):
        submitted.append(submit(*args, **kwargs))
        return submitted[-1]

    monkeypatch.setattr(rpm_mod._Plan, "__init__", recording_init)
    monkeypatch.setattr(jobs, "submit", recording_submit)

    gc.collect()
    gc.disable()
    try:
        for _ in range(3):

            def sink(idx, text):
                pass

            refs = [weakref.ref(sink)]
            gen = remote_parallel_map(
                _print_index, range(50), spark=spark, generator=True, stdout_sink=sink,
            )
            assert sorted(gen) == list(range(50))
            del gen, sink
            submitted[-1]._thread.join(timeout=30)
            refs += plans.pop()
            # the listener's reader thread can outlive the stream by a moment
            deadline = time.monotonic() + 10
            while any(ref() is not None for ref in refs) and time.monotonic() < deadline:
                time.sleep(0.05)
            assert [ref() for ref in refs] == [None, None, None]
    finally:
        gc.enable()


def test_generator_completion_order(spark):
    """generator=True must yield in COMPLETION order (reference
    parity): input 0 sleeps 3s — under the old partition-ordered
    iterator it would be yielded first; completion order yields a fast
    input first."""
    import time

    def fn(x):
        if x == 0:
            time.sleep(3)
        return x

    gen = remote_parallel_map(fn, range(10), spark=spark, generator=True)
    first = next(gen)
    assert first != 0, "slowest input yielded first — not completion order"
    rest = list(gen)
    assert sorted([first, *rest]) == list(range(10))


def _index_and_partition(x):
    from pyspark import TaskContext

    return x, TaskContext.get().partitionId()


def test_func_ram_caps_parallelism(spark):
    """func_ram applies the reference's static packing rule
    (min(cpus//func_cpu, ram_gb//func_ram)): a huge per-task RAM ask
    must shrink the map stage to the RAM cap — one task — while
    'dynamic' sets no static cap and still runs at full width."""
    from burla_spark.rpm import _ram_parallelism_cap

    mem = (spark.conf.get("spark.driver.memory", None) or "1g").upper()
    assert _ram_parallelism_cap(spark, "dynamic") == 1 << 30
    # per-task ask = all of executor memory → cap 1
    assert _ram_parallelism_cap(spark, mem.rstrip("GMK")
                                + ("G" if mem.endswith("G") else "M")) == 1
    big = _ram_parallelism_cap(spark, "100000G")
    assert big == 1
    got = remote_parallel_map(_index_and_partition, range(6), func_ram="100000G", spark=spark)
    assert sorted(x for x, _ in got) == list(range(6))
    assert {part for _, part in got} == {0}
    got = remote_parallel_map(_index_and_partition, range(6), spark=spark)
    width = min(6, spark.sparkContext.defaultParallelism)
    assert len({part for _, part in got}) == width


def test_unparseable_ram_values_set_no_cap(spark):
    """Sizing never fails a job: a func_ram or a memory conf the parser
    cannot read falls back to no RAM cap."""
    from types import SimpleNamespace

    from burla_spark.rpm import _parse_ram_gb, _ram_parallelism_cap

    for value in ("lots", None, [4]):
        assert _parse_ram_gb(value) is None
        assert _ram_parallelism_cap(spark, value) == 1 << 30
    assert _parse_ram_gb("512M") == 0.5 and _parse_ram_gb(8) == 8.0
    confs = {"spark.executor.memory": "lots"}
    fake = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: confs.get(key, default)))
    assert _ram_parallelism_cap(fake, "1G") == 1 << 30
    confs["spark.executor.memory"] = "8g"
    assert _ram_parallelism_cap(fake, "1G") == 8


@pytest.mark.parametrize("local_relation", [True, False], ids=["local_scan", "rdd_scan"])
def test_input_frame_lands_at_n_parts(spark, local_relation):
    """The map stage runs exactly n_parts tasks, and n_parts is the one
    rule min(rows, max_parallelism or min(cpus // func_cpu, RAM cap)),
    in both regimes Spark builds an Arrow input in: a local relation
    under spark.sql.execution.arrow.localRelationThreshold, one
    partition per Arrow batch above it (forced here with threshold 0)."""
    import burla_spark.rpm as rpm_mod

    dp = spark.sparkContext.defaultParallelism
    mem_gb = rpm_mod._parse_ram_gb(spark.conf.get("spark.driver.memory"))
    # 9 rows: most widths do not divide them, and each chunk must
    # still be one partition
    _, rows = rpm_mod._pickle_job(_print_index, range(9))
    cases = [
        ({}, min(9, dp)),
        ({"max_parallelism": min(4, dp)}, min(4, dp)),
        ({"max_parallelism": min(2, dp)}, min(2, dp)),
        ({"max_parallelism": 1}, 1),
        ({"func_cpu": 2}, max(1, dp // 2)),
        ({"func_ram": f"{mem_gb / 2}G"}, min(2, dp)),
    ]
    key = "spark.sql.execution.arrow.localRelationThreshold"
    prev = spark.conf.get(key)
    if not local_relation:
        spark.conf.set(key, "0")
    try:
        for kwargs, n_parts in cases:
            plan = rpm_mod._Plan(spark, b"", rows, capture_stdout=False, **kwargs)
            assert plan.n_parts == n_parts, kwargs
            stage = plan.build_df(rows, plan.n_parts)
            assert stage.rdd.getNumPartitions() == n_parts, kwargs
    finally:
        spark.conf.set(key, prev)


def test_no_rpm_mode_writes_the_session_conf(spark, monkeypatch):
    """RPM sizes its input frame without touching the session conf:
    a conf write is session-wide, so it would race concurrent jobs and
    leak into every other Arrow UDF in the session."""
    import threading

    import burla_spark.rpm as rpm_mod

    conf_cls = type(spark.conf)
    writes: list = []
    conf_set = conf_cls.set

    def recording_set(self, key, value):
        writes.append(key)
        return conf_set(self, key, value)

    monkeypatch.setattr(conf_cls, "set", recording_set)
    assert sorted(remote_parallel_map(_print_index, range(20), spark=spark)) == list(range(20))
    gen = remote_parallel_map(_print_index, range(20), spark=spark, generator=True)
    assert sorted(gen) == list(range(20))
    job = remote_parallel_map(_print_index, range(20), spark=spark, detach=True)
    assert sorted(job.result(timeout=60)) == list(range(20))
    assert writes == []

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    _, rows = rpm_mod._pickle_job(_print_index, range(1000))
    plan = rpm_mod._Plan(spark, b"", rows, capture_stdout=False)

    def build(parts):
        for _ in range(25):
            plan.build_df(rows, parts)

    threads = [threading.Thread(target=build, args=(p,)) for p in (1, 2, 3, 7)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert writes == [] and spark.conf.get(key) == before


def _four_megabytes(x):
    return x, bytes(4_000_000)


def test_generator_consumer_can_pause_past_the_connect_timeout(spark):
    """A paused consumer backpressures the pushing tasks through a full
    queue and closed TCP windows; a push blocked longer than the
    client's 2 s connect timeout must wait, not fail the task."""
    import time

    gen = remote_parallel_map(_four_megabytes, range(12), spark=spark, generator=True)
    got = [next(gen)]
    time.sleep(4)
    got += list(gen)
    assert sorted(x for x, _ in got) == list(range(12))
    assert all(len(blob) == 4_000_000 for _, blob in got)


def test_generator_abandonment_cancels_job(spark):
    """Closing the generator mid-job must CANCEL the underlying action
    (via its job tag), not strand tasks whose result pushes now fail
    into Spark's retry loop re-running user code (round-3 review)."""
    import time

    def slow(x):
        import time as t

        t.sleep(5)
        return x

    gen = remote_parallel_map(slow, range(64), spark=spark, generator=True)
    next(gen)
    gen.close()  # abandon with most inputs still queued/running
    # Without the tag cancel the action would stay active for the
    # remaining ~2 waves of 5s sleeps (>>6s); with it, active jobs
    # drain almost immediately.
    st = spark.sparkContext.statusTracker()
    deadline = time.time() + 6
    while time.time() < deadline and st.getActiveJobsIds():
        time.sleep(0.2)
    assert not st.getActiveJobsIds(), "job still running after abandonment"


def test_generator_bounded_queue_backpressure(spark):
    """With the two-batch stream queue, a slow consumer must still
    receive every result exactly once (pushers stall on TCP instead of
    overflowing driver memory), and abandoning the generator while the
    queue is full must not hang the session."""
    import time

    from burla_spark import remote_parallel_map

    gen = remote_parallel_map(
        lambda x: x * 2, range(120), spark=spark, generator=True
    )
    out = []
    for v in gen:
        if len(out) < 5:
            time.sleep(0.05)  # slow consumer while tasks are pushing
        out.append(v)
    assert sorted(out) == [x * 2 for x in range(120)]

    gen2 = remote_parallel_map(
        lambda x: x, range(120), spark=spark, generator=True
    )
    next(gen2)
    gen2.close()  # abandon with a full queue → cancel, no hang


def test_repack_waves_complete_and_resize(spark, monkeypatch):
    """A16 dynamic repacking, wave granularity: the job runs in waves
    whose width is recomputed from live executor memory between waves —
    all inputs complete exactly once, the width probe is consulted
    once per wave, and each wave's stage runs at that wave's width."""
    import burla_spark.rpm as rpm_mod

    calls = []
    widths = iter([4, 2, 8, 8, 8, 8, 8, 8])

    def fake_cap(spark_, func_ram):
        w = next(widths)
        calls.append(w)
        return w

    stages = []
    build_df = rpm_mod._Plan.build_df

    def recording_build_df(self, rows, parts, partial_dir=None):
        stage = build_df(self, rows, parts, partial_dir)
        stages.append((len(rows), stage.rdd.getNumPartitions()))
        return stage

    monkeypatch.setattr(rpm_mod, "_live_ram_cap", fake_cap)
    monkeypatch.setattr(rpm_mod._Plan, "build_df", recording_build_df)
    got = remote_parallel_map(
        lambda x: x * 3, range(50), spark=spark, repack=True, func_ram=1
    )
    assert sorted(got) == [x * 3 for x in range(50)]
    # wave sizes: 4*4=16, 2*4=8, then 8*4=32-wide waves drain the rest
    # (each width capped at the cores)
    assert len(calls) >= 3
    expected, remaining = [], 50
    for w in calls:
        width = max(1, min(spark.sparkContext.defaultParallelism, w))
        wave = min(remaining, width * rpm_mod.WAVES_PER_WIDTH)
        expected.append((wave, min(wave, width)))
        remaining -= wave
    assert remaining == 0 and stages == expected


def test_repack_conflicts(spark):
    with pytest.raises(ValueError, match="repack"):
        remote_parallel_map(lambda x: x, [1], spark=spark, repack=True, detach=True)
    with pytest.raises(ValueError, match="repack"):
        remote_parallel_map(
            lambda x: x, [1], spark=spark, repack=True, generator=True
        )


def test_live_ram_cap_positive(spark):
    from burla_spark.rpm import _live_ram_cap

    cap = _live_ram_cap(spark, 1)
    assert isinstance(cap, int) and cap >= 1
    # no RAM request → effectively uncapped
    assert _live_ram_cap(spark, None) >= 1 << 20


def test_repack_stdout_still_delivered(spark):
    lines = []
    got = remote_parallel_map(
        lambda x: print(f"in-{x}") or x,
        range(6),
        spark=spark,
        repack=True,
        stdout_sink=lambda idx, text: lines.append((idx, text.strip())),
    )
    assert sorted(got) == list(range(6))
    assert sorted(lines) == [(i, f"in-{i}") for i in range(6)]


def test_public_api_parity_helpers(spark):
    """Reference client surface beyond rpm (client __init__.py):
    version, config get/set (spark.burla.* namespace), dashboard URL
    (the Spark web UI)."""
    import burla_spark as b

    assert b.version() == b.__version__
    assert b.set_config("jobJournalDir", "/tmp/j1", spark=spark) == "/tmp/j1"
    assert b.get_config("jobJournalDir", spark=spark) == "/tmp/j1"
    # full-prefix keys are accepted too, and the dict view filters to ours
    b.set_config("spark.burla.streamQueueDepth", "64", spark=spark)
    allconf = b.get_config(spark=spark)
    assert allconf["spark.burla.jobJournalDir"] == "/tmp/j1"
    assert allconf["spark.burla.streamQueueDepth"] == "64"
    # dashboard: UI is disabled in the test profile -> None; with UI on
    # this is the Spark web UI URL
    url = b.get_cluster_dashboard_url(spark=spark)
    assert url is None or url.startswith("http")
    spark.conf.unset("spark.burla.jobJournalDir")
    spark.conf.unset("spark.burla.streamQueueDepth")


def test_worker_flag_scoped_to_rpm_udf(spark):
    """The in-worker marker must not outlive the rpm UDF: python
    workers are REUSED across jobs, so a leaked process-wide flag
    would make a LATER non-rpm UDF in the same worker silently degrade
    its own top-level remote_parallel_map to a worker-local map
    instead of raising the missing-session guidance error."""
    import os as _os

    import pandas as pd

    # during an rpm batch, the flag is visible to user code
    seen = remote_parallel_map(
        lambda _: _os.environ.get("BURLA_SPARK_IN_WORKER"), [0, 1], spark=spark
    )
    assert seen == ["1", "1"]

    # a later, non-rpm UDF running in the (reused) workers must NOT
    # see the flag any more
    def check(batches):
        for b in batches:
            yield pd.DataFrame(
                {"flag": [_os.environ.get("BURLA_SPARK_IN_WORKER", "unset")]
                 * len(b)}
            )

    flags = (
        spark.range(8, numPartitions=4)
        .mapInPandas(check, "flag string")
        .collect()
    )
    assert {r.flag for r in flags} == {"unset"}


@pytest.mark.skipif(
    not os.path.exists("/proc/meminfo"),
    reason="probe is Linux-only (documented: returns None elsewhere)",
)
def test_host_memory_probe_positive(spark):
    """The executor-side /proc/meminfo probe must report positive
    per-host available GiB on Linux (it feeds the repack wave width),
    and repeated calls within the TTL must hit the cache."""
    import burla_spark.rpm as rpm_mod

    rpm_mod._HOST_PROBE_CACHE.clear()
    per_host = rpm_mod._probe_host_available_gb(spark)
    assert per_host and all(v > 0 for v in per_host.values())
    # second call inside the TTL returns the cached dict (no new job)
    assert rpm_mod._probe_host_available_gb(spark) == per_host
    assert len(rpm_mod._HOST_PROBE_CACHE) == 1
