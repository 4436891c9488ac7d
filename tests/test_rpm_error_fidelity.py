"""Original-type error re-raise across the remote boundary (SURVEY
§7.3.7): the reference re-raises the user's actual exception object
(_node.py:646-663), so ``except ValueError`` must work on the driver.
Our re-raised error is a dynamic subclass of (original type, RpmError)
— both catch, original args/state survive."""

from __future__ import annotations

import pytest

from burla_spark import remote_parallel_map
from burla_spark.rpm import RpmError, _rehydrate_error


def test_original_type_catchable(spark):
    def boom(x):
        if x == 3:
            raise ZeroDivisionError("div by zero at 3")
        return x

    with pytest.raises(ZeroDivisionError) as exc_info:
        remote_parallel_map(boom, range(5), spark=spark)
    e = exc_info.value
    assert isinstance(e, RpmError)  # both hierarchies
    assert e.burla_input_index == 3
    assert "div by zero at 3" in str(e)


def test_custom_exception_state_roundtrips(spark):
    class QuotaExceeded(Exception):
        def __init__(self, limit, used):
            super().__init__(f"quota {used}/{limit}")
            self.limit = limit
            self.used = used

    def boom(x):
        raise QuotaExceeded(10, 17)

    with pytest.raises(RpmError) as exc_info:
        remote_parallel_map(boom, [0], spark=spark)
    e = exc_info.value
    # locally-defined class round-trips by value; attributes intact
    assert type(e).__name__ == "QuotaExceeded"
    assert (e.limit, e.used) == (10, 17)
    assert e.burla_input_index == 0


@pytest.mark.parametrize("generator", [False, True])
def test_unpicklable_result_is_error_of_its_input(spark, generator):
    # the result pickle runs inside the per-input try: a result that
    # cannot be pickled fails ITS input, with the other rows intact
    import threading

    def fn(x):
        return threading.Lock() if x == 2 else x

    with pytest.raises(RpmError) as exc_info:
        out = remote_parallel_map(fn, range(4), spark=spark, generator=generator)
        list(out)
    err = exc_info.value
    assert isinstance(err, TypeError)
    assert err.burla_input_index == 2


def test_unpicklable_error_falls_back_to_rpmerror():
    exc = _rehydrate_error(None, "WeirdError", "msg", "tb text", 4)
    assert type(exc) is RpmError
    assert exc.burla_input_index == 4
    assert "WeirdError" in str(exc)


def test_garbage_pickle_falls_back_to_rpmerror():
    exc = _rehydrate_error(b"not a pickle", "E", "m", "t", 1)
    assert type(exc) is RpmError
