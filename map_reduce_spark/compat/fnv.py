"""FNV-32a key partitioner — bit-exact twin of the reference's ihash.

The reference buckets intermediate keys with FNV-32a masked to 31
bits, modulo nReduce (`ihash`, /root/reference/src/mr/worker.go:32-36;
applied at worker.go:39-44). Reproducing it exactly lets the compat
layer match the reference's *per-partition* file layout, not just the
global multiset observable.

Pure Python on purpose: it is the compat job's bucket function
(driver-serialized). It runs once per distinct key per map task, as
the ``partitionBy`` partitioner after the map task groups its pairs
per key, and once more per distinct key on the reduce side, where a
reduce task that owns several buckets splits its keys into their
``mr-out-<r>`` files. The native engine never routes through it.
"""

from __future__ import annotations

FNV_OFFSET_32 = 0x811C9DC5
FNV_PRIME_32 = 0x01000193


def fnv1a_32(data: str) -> int:
    """FNV-1a 32-bit hash of the UTF-8 bytes of ``data``."""
    h = FNV_OFFSET_32
    for byte in data.encode("utf-8"):
        h ^= byte
        h = (h * FNV_PRIME_32) & 0xFFFFFFFF
    return h


def ihash(key: str) -> int:
    """Reference ihash: FNV-32a & 0x7fffffff (worker.go:32-36)."""
    return fnv1a_32(key) & 0x7FFFFFFF


def make_partitioner(n_reduce: int):
    """The compat job's bucket function — key -> reduce bucket ``r``."""

    def part(key: str) -> int:
        return ihash(key) % n_reduce

    return part
