"""Driver-side, single-thread kernel timings and the Arrow control.

These run on the Spark driver with no Spark job in the loop: they give the
ns/key floor under each distributed build and probe.
"""

from __future__ import annotations

import statistics
import time


def _ns_per_key(fn, n: int, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out) * 1e9 / n


def sentinel_ns_per_key() -> float:
    """The static-XOR 100k-key construct: pure numpy, so it tracks the
    box's effective CPU speed (the same sentinel the repo bench uses)."""
    from libfilter_spark.filters import StaticXorFilter
    from libfilter_spark.kernels.keys import splitmix64
    keys = splitmix64(100_000, seed=42)
    return _ns_per_key(lambda: StaticXorFilter.construct(keys), len(keys))


def kernel_ns_per_key(seed: int, n: int) -> dict[str, float]:
    """ns/key of each kernel the workloads lean on, one thread, the
    same ``n`` keys for every kernel."""
    from libfilter_spark.filters import (BlockFilter, StaticXorFilter,
                                         TaffyCuckooFilter)
    from libfilter_spark.kernels.keys import splitmix64
    keys = splitmix64(n, seed=seed)
    half_a, half_b = keys[: n // 2], keys[n // 2:]
    out = {}

    def block_add():
        f = BlockFilter.create_with_ndv_fpp(n, 0.01)
        f.add_hashes(keys)
        return f
    out["kernels.block.add_ns_per_key"] = _ns_per_key(block_add, n)
    blk = block_add()
    out["kernels.block.find_ns_per_key"] = _ns_per_key(
        lambda: blk.find_hashes(keys), n)

    def tcf(part):
        f = TaffyCuckooFilter.create(len(part))
        f.add_hashes(part)
        return f
    out["kernels.tcf.add_ns_per_key"] = _ns_per_key(lambda: tcf(keys), n)
    # the union the partials merge runs: absorb a donor into a live
    # accumulator (ns per donor key; the accumulator copy is untimed)
    a, b = tcf(half_a), tcf(half_b)
    accs = [a.clone() for _ in range(3)]
    out["kernels.tcf.union_ns_per_key"] = _ns_per_key(
        lambda: accs.pop().absorb(b), len(half_b))
    whole = tcf(keys)
    out["kernels.tcf.freeze_ns_per_key"] = _ns_per_key(whole.freeze, n)
    frozen = whole.freeze()
    out["kernels.frozen_tcf.find_ns_per_key"] = _ns_per_key(
        lambda: frozen.find_hashes(keys), n)
    out["kernels.xor.construct_ns_per_key"] = _ns_per_key(
        lambda: StaticXorFilter.construct(keys), n)
    xor = StaticXorFilter.construct(keys)
    out["kernels.xor.find_ns_per_key"] = _ns_per_key(
        lambda: xor.find_hashes(keys), n)
    return out


def arrow_noop_pass_s(frame, reps: int = 3) -> float:
    """A mapInArrow that returns its batches untouched, over the same
    key column a probe ships: the cost of crossing the Arrow boundary
    with no kernel behind it."""
    def noop(batches):
        yield from batches

    keys = frame.select("key")
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        keys.mapInArrow(noop, keys.schema).count()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)
