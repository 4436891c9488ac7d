"""The functions the RPM workloads map. They live in their own tiny
module because remote_parallel_map ships a non-installed module's
functions by value: keeping it import-free keeps the pickled function
a few hundred bytes, like a user's own function would be."""


def affine(x: int) -> int:
    return x * 3 + 1


def echo_reversed(payload: bytes) -> bytes:
    """One stdout line per input, and a result as large as the input."""
    print(f"echo {int.from_bytes(payload[:4], 'big')} {len(payload)}")
    return payload[::-1]
