"""Distributed membership probe — the Bloom-join pattern.

The merged filters (KBs–MBs per group) are broadcast to every task;
an Arrow scalar UDF adds a vectorized membership column (the batched
analogue of ``libfilter_block_find_hash``, ``block.h:140-152``). A
probe row only *may* be present (false positives); the semi-join
helper follows the probe with an exact join against the (pre-pruned)
build side, so query answers stay exact while the filter discards the
vast majority of rows before any row shuffle — at scale this is what
turns a 100 TB shuffle into a few-GB shuffle.
"""

from __future__ import annotations

import os
import threading
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..filters import FAMILIES
from ..filters.block import BlockFilter, BlockSliceFilter
from ..filters.taffy_cuckoo import _FROZEN_MAGIC
from ..filters.taffy_cuckoo import _MAGIC as _TCF_MAGIC
from .build import _keys_from_series

# one lock guards every module-level cache below: driver-side queries
# fan out over ThreadPoolExecutor (fpp conformance, merge audits), so
# two threads can otherwise race the same pop(next(iter(d))) eviction
# (KeyError) or double-broadcast one content token
_CACHE_LOCK = threading.Lock()

# executor-local cache: broadcast token → {group: filter object}.
# Keyed by an explicit uuid shipped inside the broadcast value (NOT
# id(bc): CPython reuses ids after GC, which poisons the cache).
_FILTER_CACHE: dict[str, dict] = {}
_FILTER_CACHE_MAX = 16

# driver-side broadcast reuse: (applicationId, content token) → the
# live Broadcast handle, so repeated probes of an unchanged filters
# frame skip the per-call broadcast dump (eviction only drops our
# reference — Spark's ContextCleaner reclaims unreferenced broadcasts)
_BC_CACHE: dict[tuple, object] = {}
_BC_CACHE_MAX = 8

# fingerprint memo for CACHED filters frames: (appId, "groupfp" |
# "shardfp", fingerprint) → what the probe recorded (grouped: the
# broadcast; shard frames: (mode, broadcast, params, asm_meta)). A
# repeat probe of an unchanged frame (iterative pipelines, dedup
# verification passes) then skips the per-call blob collect, token
# hash and broadcast dump; the fingerprint is a one-pass JVM
# aggregation (see _fingerprint). Room for _BC_CACHE_MAX frames of
# each tag.
_PROBE_MEMO: dict[tuple, object] = {}
_PROBE_MEMO_MAX = 2 * _BC_CACHE_MAX

# Global shard-frame probes ASSEMBLE per-worker state (block slices →
# one BlockFilter; forests → concatenated probe matrices, see _KINDS).
# Past this size the assembled state is published ONCE per box to
# /dev/shm by a single lock-holding worker and attached by the rest —
# without it, every python worker privately assembles ~map_bytes of
# state (and unpickles the broadcast first), and worker churn re-pays
# that repeatedly: measured on a 110 MB / 50M-key TBF-jvm forest at
# local[32], cold 4M-key probe 17.2 s and post-churn re-probes 6.2 s
# vs 1.2 s warm.
_SHM_ASM_MIN = 32 << 20
# Attachers COPY the published state into private memory: one
# streaming memcpy per worker (~ms) buys private-heap gather speed — a
# direct A/B on the 110 MB forest at local[32] measured gathers from
# the shared tmpfs mapping ~60% slower on a warm 50M-key probe (5.26 s
# vs 3.25 s) while cold start still improves 3.4× because the copy
# replaces broadcast-unpickle + re-assembly. False keeps the zero-copy
# mapping (workers share ONE resident copy at the gather penalty).
_SHM_ASM_COPY = True
# how long a non-assembling worker waits for the publisher before
# falling back to private assembly, and when a lock counts as stale
# (its holder died mid-assembly). Stale is deliberately LONGER than
# the wait: a slow-but-alive publisher must not trigger a takeover
# stampede (waiters give up and assemble privately instead); takeover
# only heals locks of dead publishers for workers that arrive later.
_ASM_WAIT_S = 120.0
_ASM_LOCK_STALE_S = 300.0


def _cache_put(cache: dict, key, value, cap: int):
    """Bounded FIFO insert under _CACHE_LOCK. A key another thread
    inserted first wins and is returned, so racing callers share one
    value (one broadcast per content token)."""
    with _CACHE_LOCK:
        hit = cache.get(key)
        if hit is not None:
            return hit
        while len(cache) >= cap:
            cache.pop(next(iter(cache)))
        cache[key] = value
        return value


def collect_filters(filters_df: DataFrame, group_cols: list[str]) -> dict:
    """Small filters DataFrame → {group_tuple: (family, blob)}."""
    rows = filters_df.select(*group_cols, "family", "filter").collect()
    return {tuple(r[c] for c in group_cols): (r["family"], bytes(r["filter"]))
            for r in rows}


def _broadcast_max() -> int:
    """Broadcast-probe budget: past this many bytes of collected filter
    blobs the driver hop (collect + sc.broadcast) becomes the
    chokepoint (10^5 groups x MB blobs), and the probe switches to a
    shuffle cogroup — filters stay distributed, probe keys shuffle to
    them. Read per call, so $LIBFILTER_BROADCAST_MAX set after import
    takes effect."""
    return int(os.environ.get("LIBFILTER_BROADCAST_MAX", 256 << 20))


def _collect_filters_auto(filters_df: DataFrame,
                          group_cols: list[str]) -> dict | None:
    """auto-mode collect policy (None ⇒ over budget, caller falls back
    to the shuffle probe):

    - cached frames, or sessions with ≤64 shuffle partitions: plain
      collect() — one job, plus a post-collect budget check (warn +
      shuffle fallback). The iterator costs ~90 ms of sequential
      mini-job scheduling PER PARTITION (measured 3.0 s on a cached
      32-partition frame vs 0.25 s collect), so the frames a small
      session produces must not pay it per probe. The signal is the
      session conf, which is FREE — asking the frame itself
      (rdd.getNumPartitions) converts the plan to an RDD at ~230 ms
      per call, measured as a 2 s regression across one driver query.
    - bigger-session uncached frames — the shape a 10^5-group build
      on a real cluster has (hundreds of shuffle partitions):
      budgeted toLocalIterator. Recompute dominates there (measured
      1.16 s iterator vs 1.37 s collect on an uncached grouped
      build), upstream shuffle outputs are reused across the
      per-partition jobs, and driver memory stays bounded by the
      budget at ANY group count."""
    sl = filters_df.storageLevel
    session_parts = int(filters_df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    budget = _broadcast_max()
    if (sl.useMemory or sl.useDisk) or session_parts <= 64:
        out = collect_filters(filters_df, group_cols)
        if sum(len(b) for _, b in out.values()) > budget:
            import warnings
            warnings.warn(
                "collected filter blobs exceed LIBFILTER_BROADCAST_MAX; "
                "falling back to the shuffle probe — pass via='shuffle' "
                "(or cache less) to skip the driver collect entirely")
            return None
        return out
    out = {}
    total = 0
    it = filters_df.select(*group_cols, "family", "filter") \
        .toLocalIterator(prefetchPartitions=True)
    for r in it:
        blob = bytes(r["filter"])
        total += len(blob)
        if total > budget:
            return None
        out[tuple(r[c] for c in group_cols)] = (r["family"], blob)
    return out


def _collect_shard_rows_auto(filters_df: DataFrame) -> list | None:
    """auto-mode collect policy for SHARD frames (None ⇒ over budget,
    caller falls back to the shuffle probe). Mirrors
    _collect_filters_auto: the budget must be enforced BEFORE the
    blobs land in driver memory — an over-budget forest is the exact
    case the budget exists for. Only UNCACHED frames reach here —
    cached frames are intercepted by _probe_shard_frame's fingerprint
    aggregation, which length-checks the budget JVM-side. Big sessions
    (>64 shuffle partitions) use a budgeted toLocalIterator so a
    rebuild-per-action frame is read once with driver memory bounded
    at any shard count; small sessions plain-collect (the iterator's
    per-partition mini-job scheduling costs more than the blobs it
    guards against)."""
    sel = filters_df.select("__shard", "params", "family", "filter")
    budget = _broadcast_max()
    session_parts = int(filters_df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    if session_parts <= 64:
        # plain collect + budget checks — the iterator pays ~90 ms of
        # sequential mini-job scheduling PER PARTITION (measured 4.6 s
        # vs 1.5 s on the 5M-key probe bench), and the over-budget
        # shard frames the budget guards against are a big-session
        # shape (hundreds of shuffle partitions). A narrow first()
        # job estimates n_shards × first-blob bytes BEFORE the blobs
        # land in driver memory (shard sizing is uniform, so the
        # estimate is tight); the post-collect check stays as the
        # exact gate for non-uniform frames.
        import json as _json
        head = filters_df.select(
            "params", F.length("filter").alias("l")).first()
        if head is None:
            return []
        try:
            n_sh = int(_json.loads(head["params"]).get("n_shards", 1))
        except (ValueError, TypeError):
            n_sh = 1
        if n_sh * int(head["l"]) > budget:
            import warnings
            warnings.warn(
                "estimated shard blobs exceed LIBFILTER_BROADCAST_MAX "
                "(n_shards x first blob); falling back to the shuffle "
                "probe before any blob reaches the driver — pass "
                "via='shuffle' to skip the estimate job too")
            return None
        rows = sel.collect()
        if sum(len(r["filter"]) for r in rows) > budget:
            import warnings
            warnings.warn(
                "collected shard blobs exceed LIBFILTER_BROADCAST_MAX; "
                "falling back to the shuffle probe — pass via='shuffle' "
                "to skip the driver collect entirely")
            return None
        return rows
    rows = []
    total = 0
    for r in sel.toLocalIterator(prefetchPartitions=True):
        total += len(r["filter"])
        if total > budget:
            return None
        rows.append(r)
    return rows


def _header_uniform(shard_blobs: dict[int, bytes], magic: bytes,
                    spans: tuple) -> bool:
    """Driver-side eligibility from fixed-offset header bytes alone:
    every blob starts with ``magic`` and all blobs agree on the bytes
    at ``spans`` (the fields a concatenated probe matrix needs to
    share). No payload is touched."""
    end = max(sp.stop for sp in spans)
    sig = None
    for blob in shard_blobs.values():
        if blob[:len(magic)] != magic or len(blob) < end:
            return False
        hdr = b"".join(blob[sp] for sp in spans)
        if sig is None:
            sig = hdr
        elif hdr != sig:
            return False
    return sig is not None


def _tbf_forest_uniform(shard_blobs: dict[int, bytes]) -> bool:
    """Driver-side eligibility for the assembled TBF forest probe:
    every absolute level index has one bucket count across all shards
    (zero-copy header reads). Always true for one forest's shards —
    the level schedule is a function of the shared creation params —
    so this only rejects frames mixing foreign filters."""
    from ..filters.taffy_block import TaffyBlockFilter
    sizes: dict[int, int] = {}
    seen = False
    for blob in shard_blobs.values():
        f = TaffyBlockFilter.deserialize_view(
            np.frombuffer(blob, dtype=np.uint8))
        for i, lvl in enumerate(f.levels):
            seen = True
            if sizes.setdefault(i, lvl.size) != lvl.size:
                return False
    return seen


# Assembled probe kinds. Each global shard-frame shape a worker can
# assemble into ONE probe object implements the same protocol:
#
#   kind      name of the broadcast map entry and of the /dev/shm file
#   family    the shard frame's ``family`` column it assembles
#   uniform(shard_blobs)           driver-side header check (eligible?)
#   assemble(n_shards, shard_blobs) → probe object, or None
#   to_raw() → flat u64 image;  from_raw(n_shards, raw) → object|None
#   find(keys, binary) → bool membership per key
#
# and is registered in _KINDS below.


class _BlockSliceProbe(BlockFilter):
    """Assembled probe view of a ``bucket_range`` block shard frame:
    the disjoint slices concatenate into the GLOBAL filter (missing
    shards = zero ranges = no keys), byte-identical to
    assemble_block_shards' export, so a batch is a plain global block
    probe — no JVM shard column, no per-batch groupby (measured ~1.5×
    over the grouped route). The state is a view into the raw image
    [n_shards, num_buckets, LE-u32 filter words], so publishing costs
    no extra copy."""

    __slots__ = ("raw",)
    kind, family = "block_slice_set", "block_slice"
    # serialize(): <u8 global num_buckets | <u8 lo | words — every
    # slice of one filter shares num_buckets
    uniform = staticmethod(partial(_header_uniform, magic=b"",
                                   spans=(slice(0, 8),)))

    def __init__(self, raw: "np.ndarray"):
        super().__init__(raw[2:].view(np.uint32))
        self.raw = raw

    @classmethod
    def assemble(cls, n_shards: int, shard_blobs: dict[int, bytes]):
        from ..kernels import block as K
        if not shard_blobs:
            return None
        hdr = BlockSliceFilter._HEADER
        nb = int(np.frombuffer(next(iter(shard_blobs.values())),
                               dtype="<u8", count=1)[0])
        raw = np.zeros(2 + 4 * nb, dtype=np.uint64)  # 4 u64 per bucket
        raw[:2] = n_shards, nb
        state = raw[2:].view(np.uint32)
        for blob in shard_blobs.values():
            lo = int(np.frombuffer(blob, dtype="<u8", count=1,
                                   offset=8)[0])
            words = np.frombuffer(blob, dtype="<u4", offset=hdr)
            off = lo * K.WORDS_PER_BUCKET
            state[off:off + words.size] = words
        return cls(raw)

    def to_raw(self) -> "np.ndarray":
        return self.raw

    @classmethod
    def from_raw(cls, n_shards: int, raw: "np.ndarray"):
        """None on any size mismatch (truncated or foreign file ⇒
        caller assembles privately)."""
        if raw.size < 3 or int(raw[0]) != n_shards \
                or raw.size != 2 + 4 * int(raw[1]):
            return None
        return cls(raw)

    def find(self, keys: "np.ndarray", binary: bool) -> "np.ndarray":
        return self.find_hashes(keys)


class _TbfForestMultiProbe:
    """Assembled probe view of a taffy_block forest — single-level
    (the jvm engine's pre-sized shape) or GROWN multi-level: a forest
    of one level is a stack of one. Every shard of a forest is created
    with the same (per-shard ndv, fpp), so level ``i``'s bucket count
    is a function of the level index alone (the 6/π² sizing schedule,
    ``taffy-block.h:56-66``) — shards differ only in how many levels
    they have grown. Level ``i`` of every shard that has it therefore
    concatenates into ONE (R_i, 4) u64 matrix with a per-shard row
    OFFSET table (−1 ⇒ the shard has not grown that level / is absent
    from the frame). A batch probes the level matrices NEWEST-first
    with found lanes compressed out — the forest-wide analogue of
    ``TaffyBlockFilter.find_hashes``'s per-key level short-circuit
    (``taffy-block.h:42-48``): present keys average ~2 vectorized
    gathers total, absent keys L — instead of the grouped route's
    S·L tiny per-shard kernel calls per batch (the measured 100M-key
    growth-sweep gap: 3.5 Mk/s grouped vs 14 Mk/s for the same-shape
    assembled block probe). Lane masks are computed ONCE per batch and
    compressed along with the keys (they depend only on the key)."""

    kind, family = "tbf_forest_set", "taffy_block"
    uniform = staticmethod(_tbf_forest_uniform)

    def __init__(self, n_shards: int, nbs: list[int],
                 offsets: "np.ndarray", mats: list):
        self.n_shards = n_shards
        self.nbs = nbs            # bucket count of absolute level i
        self.offsets = offsets    # (L, S) int64 row offsets, -1 missing
        self.mats = mats          # list of (R_i, 4) u64 matrices
        # levels every shard has (all but the newest in a ragged
        # forest): probed without per-lane validity indexing
        self.full = [bool((offsets[i] >= 0).all())
                     for i in range(len(mats))]

    @classmethod
    def assemble(cls, n_shards: int, shard_blobs: dict[int, bytes]):
        """→ _TbfForestMultiProbe, or None when any absolute level
        index has two bucket counts across shards (foreign shards —
        cannot happen for one forest's shared creation params)."""
        from ..filters.taffy_block import TaffyBlockFilter
        from ..kernels import block as K
        per: dict[int, list] = {}
        n_levels = 0
        for s, blob in shard_blobs.items():
            f = TaffyBlockFilter.deserialize_view(
                np.frombuffer(blob, dtype=np.uint8))
            per[s] = f.levels
            n_levels = max(n_levels, len(f.levels))
        if not n_levels:
            return None
        nbs: list[int | None] = [None] * n_levels
        for levels in per.values():
            for i, lvl in enumerate(levels):
                nb = lvl.size // K.WORDS_PER_BUCKET
                if nbs[i] is None:
                    nbs[i] = nb
                elif nbs[i] != nb:
                    return None
        offsets = np.full((n_levels, n_shards), -1, dtype=np.int64)
        mats = []
        for i in range(n_levels):
            have = sorted(s for s, lv in per.items() if len(lv) > i)
            span = nbs[i] * K.WORDS_PER_BUCKET
            m = np.zeros(len(have) * span, dtype=np.uint32)
            for j, s in enumerate(have):
                m[j * span:(j + 1) * span] = per[s][i]
                offsets[i, s] = j * nbs[i]
            mats.append(m.view(np.uint64).reshape(-1, 4))
        return cls(n_shards, nbs, offsets, mats)

    def to_raw(self) -> "np.ndarray":
        """Flat u64 image for the /dev/shm publisher: [L, S, nb×L,
        rows×L, offsets (L·S), level matrices]."""
        head = np.array([len(self.mats), self.n_shards, *self.nbs,
                         *[m.shape[0] for m in self.mats]],
                        dtype=np.uint64)
        return np.concatenate(
            [head, self.offsets.ravel().view(np.uint64)]
            + [m.ravel() for m in self.mats])

    @classmethod
    def from_raw(cls, n_shards: int, raw: "np.ndarray"):
        """Inverse of to_raw; None on any size mismatch (truncated or
        foreign file ⇒ caller assembles privately)."""
        if raw.size < 2:
            return None
        n_levels, s = int(raw[0]), int(raw[1])
        if s != n_shards or not 1 <= n_levels <= 64:
            return None
        head = 2 + 2 * n_levels
        if raw.size < head + n_levels * n_shards:
            return None
        nbs = [int(x) for x in raw[2:2 + n_levels]]
        rows = [int(x) for x in raw[2 + n_levels:head]]
        if raw.size != head + n_levels * n_shards + 4 * sum(rows):
            return None
        off = np.asarray(
            raw[head:head + n_levels * n_shards]).view(np.int64) \
            .reshape(n_levels, n_shards)
        mats = []
        pos = head + n_levels * n_shards
        for r in rows:
            mats.append(raw[pos:pos + 4 * r].reshape(-1, 4))
            pos += 4 * r
        return cls(n_shards, nbs, off, mats)

    def find(self, keys: "np.ndarray", binary: bool) -> "np.ndarray":
        from ..kernels import block as K
        from ..kernels.keys import shard_of_keys
        n = len(keys)
        if n == 0:
            return np.zeros(0, dtype=bool)
        out = np.zeros(n, dtype=bool)
        sh = shard_of_keys(keys, self.n_shards, binary=binary)
        hs = keys.astype(np.uint64, copy=False)
        m64 = np.ascontiguousarray(K.make_masks(hs)).view(np.uint64)
        idx = None                # None ⇒ every lane still pending
        for i in reversed(range(len(self.mats))):
            if self.full[i]:
                # every shard has level i (the common case: all but
                # the newest level or two), so assemble stored them in
                # shard order — probe all pending lanes without the
                # offset gather or the fancy-index copies
                vpos, vk, vm = None, hs, m64
                off = sh * np.int64(self.nbs[i])
            else:
                off = self.offsets[i][sh]
                vpos = np.flatnonzero(off >= 0)
                if vpos.size == 0:
                    continue
                vk, vm, off = hs[vpos], m64[vpos], off[vpos]
            bi = K.bucket_index(vk, self.nbs[i]).astype(np.int64) + off
            g = self.mats[i][bi]
            np.bitwise_and(g, vm, out=g)
            found = (g == vm).all(axis=1)
            if i == 0 and idx is None and vpos is None:
                # the oldest level probed every lane and no newer one
                # found any: its mask is the answer (a single-level
                # forest's one pass — no scatter into ``out``)
                return found
            if found.any():
                hit = np.flatnonzero(found) if vpos is None \
                    else vpos[found]
                out[hit if idx is None else idx[hit]] = True
                if i == 0:
                    break  # oldest level: no later pass needs the
                    # compressed lanes
                keep = np.ones(len(hs), dtype=bool)
                keep[hit] = False
                idx = np.flatnonzero(keep) if idx is None else idx[keep]
                hs, sh, m64 = hs[keep], sh[keep], m64[keep]
                if not len(hs):
                    break
        return out


class _FrozenTcfForestProbe:
    """Assembled probe view of a FROZEN taffy-cuckoo forest (the
    read-only serving shape, ``taffy-cuckoo.h:236-273``). Frozen
    buckets are flat 4×10-bit SWAR words and every shard of a
    pre-sized forest shares one ``log_side_size`` and the default
    entropy table (``taffy-cuckoo.c:100-102``), so the per-side bucket
    arrays concatenate into ONE (S << log) u64 matrix: global bucket =
    shard << log | bucket, and — because the Feistel keys are shared —
    the permutation is computed ONCE per batch for ALL shards. This
    replaces the grouped route's per-batch argsort segmentation + S
    tiny ``find_hashes`` calls (its measured ceiling: ~2.5 Mk/s at
    2M keys / 64 shards) with two vectorized SWAR passes. Stash
    entries fold into one sorted shard-prefixed side table; keys
    routed to a shard with NO row in the frame report False (parity
    with the grouped route, which the fp==0 always-true quirk would
    otherwise break on missing shards)."""

    kind, family = "frozen_tcf_set", "frozen_taffy_cuckoo"
    # serialize(): magic 4B | log 1B | entropy 64B
    uniform = staticmethod(partial(_header_uniform, magic=_FROZEN_MAGIC,
                                   spans=(slice(4, 69),)))

    def __init__(self, n_shards: int, log: int, entropy: tuple,
                 data: list, stashes: list, present: "np.ndarray"):
        self.n_shards = n_shards
        self.log = log
        self.entropy = entropy
        self.data = data          # [D0, D1] u64, each (S << log)
        self.stashes = stashes    # [s0, s1] SORTED u64 arrays
        self.present = present    # (S,) bool

    @classmethod
    def assemble(cls, n_shards: int, shard_blobs: dict[int, bytes]):
        """→ _FrozenTcfForestProbe, or None when shards are not
        uniform (different log_side_size or entropy — a grown shard)."""
        from ..filters.taffy_cuckoo import HEAD, FrozenTaffyCuckooFilter
        log = entropy = None
        per = {}
        for s, blob in shard_blobs.items():
            f = FrozenTaffyCuckooFilter.deserialize(blob)
            if log is None:
                log, entropy = f.log_side_size, f.entropy
            elif f.log_side_size != log or f.entropy != entropy:
                return None
            per[s] = f
        if log is None:
            return None
        if (n_shards - 1).bit_length() + log + HEAD > 64:
            # stash codes pack (shard << (log+HEAD)) | path into one
            # u64 — an overflow would alias shards; fall back to the
            # grouped route (unreachable for realistic forests)
            return None
        nb = 1 << log
        data = [np.zeros(n_shards * nb, dtype=np.uint64)
                for _ in range(2)]
        stash_parts: list[list] = [[], []]
        present = np.zeros(n_shards, dtype=bool)
        shift = np.uint64(log + HEAD)
        for s, f in per.items():
            present[s] = True
            for i in range(2):
                data[i][s * nb:(s + 1) * nb] = f.data[i]
                if len(f.stashes[i]):
                    stash_parts[i].append(
                        (np.uint64(s) << shift)
                        | f.stashes[i].astype(np.uint64))
        stashes = [np.sort(np.concatenate(x)) if x
                   else np.zeros(0, dtype=np.uint64)
                   for x in stash_parts]
        return cls(n_shards, log, entropy, data, stashes, present)

    def to_raw(self) -> "np.ndarray":
        """Flat u64 image for the /dev/shm publisher: [log, ns0, ns1,
        entropy×8, present (S), D0, D1, stash0, stash1]."""
        header = np.array([self.log, self.stashes[0].size,
                           self.stashes[1].size, *self.entropy],
                          dtype=np.uint64)
        return np.concatenate(
            [header, self.present.astype(np.uint64),
             self.data[0], self.data[1],
             self.stashes[0], self.stashes[1]])

    @classmethod
    def from_raw(cls, n_shards: int, raw: "np.ndarray"):
        """Inverse of to_raw; None on any size mismatch (truncated or
        foreign file ⇒ caller assembles privately)."""
        if raw.size < 11 + n_shards:
            return None
        log, ns0, ns1 = int(raw[0]), int(raw[1]), int(raw[2])
        if not 1 <= log <= 48:
            return None
        nb = 1 << log
        if raw.size != 11 + n_shards + 2 * n_shards * nb + ns0 + ns1:
            return None
        entropy = tuple(int(x) for x in raw[3:11])
        off = 11
        present = raw[off:off + n_shards].astype(bool)
        off += n_shards
        span = n_shards * nb
        d0 = raw[off:off + span]
        d1 = raw[off + span:off + 2 * span]
        off += 2 * span
        return cls(n_shards, log, entropy, [d0, d1],
                   [raw[off:off + ns0], raw[off + ns0:off + ns0 + ns1]],
                   present)

    def find(self, keys: "np.ndarray", binary: bool) -> "np.ndarray":
        from ..filters.taffy_cuckoo import FP_MASK, HEAD, _has_value_10
        from ..kernels.feistel import feistel_forward_batch
        from ..kernels.keys import shard_of_keys
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h = keys.astype(np.uint64, copy=False)
        shards = shard_of_keys(keys, self.n_shards,
                               binary=binary).astype(np.int64)
        log = self.log
        base = shards << np.int64(log)
        y = h >> np.uint64(64 - log - HEAD)
        e = self.entropy
        kp = [((e[0], e[1]), (e[2], e[3])),
              ((e[4], e[5]), (e[6], e[7]))]
        out = np.zeros(len(h), dtype=bool)
        sh_code = shards.astype(np.uint64) << np.uint64(log + HEAD)
        for i in range(2):
            permuted = feistel_forward_batch(kp[i], log + HEAD, y)
            bucket = (permuted >> np.uint64(HEAD)).astype(np.int64)
            fp = permuted & np.uint64(FP_MASK)
            z = self.data[i][base + bucket]
            out |= (fp == np.uint64(0)) | _has_value_10(z, fp)
            st = self.stashes[i]
            if st.size:
                code = sh_code | permuted
                pos = np.searchsorted(st, code)
                np.minimum(pos, st.size - 1, out=pos)
                out |= st[pos] == code
        return out & self.present[shards]


class _LiveTcfForestProbe:
    """Assembled probe view of a LIVE (absorb-capable) taffy-cuckoo
    forest. Live buckets are 4×u16 slots ``tail:6|fingerprint:10``
    (``taffy-cuckoo.h:68-73``) and every shard of a pre-sized forest
    shares one ``log_side_size`` and the default entropy table, so the
    per-side slot matrices concatenate into ONE (S << log, 4) u16
    matrix: global bucket = shard << log | bucket, and — because the
    Feistel keys are shared — the permutation runs ONCE per batch for
    ALL shards. Replaces the grouped route's per-batch argsort
    segmentation + S tiny ``find_hashes`` calls (at 64 shards a 65k-row
    Arrow batch hands each shard only ~1k keys — the small-segment
    regime where per-call overhead dominates). Stash entries fold into
    one sorted shard-prefixed code table per side with a parallel tail
    array (prefix test stays exact, duplicates handled by window
    offsets); keys routed to a shard with NO row in the frame report
    False, matching the grouped route."""

    kind, family = "tcf_set", "taffy_cuckoo"
    # serialize(): magic 4B | log 1B + occupied 8B | rng 24B | entropy
    # 64B — the rng state varies per shard, so it is skipped
    uniform = staticmethod(partial(_header_uniform, magic=_TCF_MAGIC,
                                   spans=(slice(4, 5), slice(37, 101))))

    def __init__(self, n_shards: int, log: int, entropy: tuple,
                 data: list, stash_codes: list, stash_tails: list,
                 present: "np.ndarray"):
        self.n_shards = n_shards
        self.log = log
        self.entropy = entropy
        self.data = data                # [D0, D1] u16, (S << log, 4)
        self.stash_codes = stash_codes  # [c0, c1] SORTED u64
        self.stash_tails = stash_tails  # parallel i64 tails (< 64)
        self.present = present          # (S,) bool

    @classmethod
    def assemble(cls, n_shards: int, shard_blobs: dict[int, bytes]):
        """→ _LiveTcfForestProbe, or None when shards are not uniform
        (different log_side_size or entropy — a shard that upsized
        past its siblings)."""
        from ..filters.taffy_cuckoo import HEAD, SLOTS, TaffyCuckooFilter
        log = entropy = None
        per = {}
        for s, blob in shard_blobs.items():
            f = TaffyCuckooFilter.deserialize(blob)
            if log is None:
                log, entropy = f.log_side_size, f.entropy
            elif f.log_side_size != log or f.entropy != entropy:
                return None
            per[s] = f
        if log is None:
            return None
        if (n_shards - 1).bit_length() + log + HEAD > 64:
            # stash codes pack (shard << (log+HEAD)) | path into one
            # u64 — an overflow would alias shards; fall back to the
            # grouped route (unreachable for realistic forests)
            return None
        nb = 1 << log
        data = [np.zeros((n_shards * nb, SLOTS), dtype=np.uint16)
                for _ in range(2)]
        st_parts: list[list] = [[], []]
        present = np.zeros(n_shards, dtype=bool)
        for s, f in per.items():
            present[s] = True
            for i in range(2):
                data[i][s * nb:(s + 1) * nb] = f.sides[i].data
                for (b, fp, t) in f.sides[i].stash:
                    if t:   # tail==0 ⇒ empty stash slot
                        st_parts[i].append(
                            ((s << (log + HEAD)) | (b << HEAD) | fp, t))
        codes, tails = [], []
        for i in range(2):
            if st_parts[i]:
                arr = np.array(sorted(st_parts[i]), dtype=np.uint64)
                codes.append(np.ascontiguousarray(arr[:, 0]))
                tails.append(arr[:, 1].astype(np.int64))
            else:
                codes.append(np.zeros(0, dtype=np.uint64))
                tails.append(np.zeros(0, dtype=np.int64))
        return cls(n_shards, log, entropy, data, codes, tails, present)

    def to_raw(self) -> "np.ndarray":
        """Flat u64 image for the /dev/shm publisher: [log, ns0, ns1,
        entropy×8, present (S), D0, D1, codes0, tails0, codes1,
        tails1]. A 4-slot u16 bucket row is exactly one u64 word."""
        header = np.array([self.log, self.stash_codes[0].size,
                           self.stash_codes[1].size, *self.entropy],
                          dtype=np.uint64)
        return np.concatenate(
            [header, self.present.astype(np.uint64),
             np.ascontiguousarray(self.data[0]).reshape(-1)
             .view(np.uint64),
             np.ascontiguousarray(self.data[1]).reshape(-1)
             .view(np.uint64),
             self.stash_codes[0], self.stash_tails[0].view(np.uint64),
             self.stash_codes[1], self.stash_tails[1].view(np.uint64)])

    @classmethod
    def from_raw(cls, n_shards: int, raw: "np.ndarray"):
        """Inverse of to_raw; None on any size mismatch (truncated or
        foreign file ⇒ caller assembles privately)."""
        from ..filters.taffy_cuckoo import SLOTS
        if raw.size < 11 + n_shards:
            return None
        log, ns0, ns1 = int(raw[0]), int(raw[1]), int(raw[2])
        if not 1 <= log <= 48:
            return None
        nb = 1 << log
        span = n_shards * nb
        if raw.size != 11 + n_shards + 2 * span + 2 * (ns0 + ns1):
            return None
        entropy = tuple(int(x) for x in raw[3:11])
        off = 11
        present = raw[off:off + n_shards].astype(bool)
        off += n_shards
        data = []
        for _ in range(2):
            data.append(np.ascontiguousarray(raw[off:off + span])
                        .view(np.uint16).reshape(-1, SLOTS))
            off += span
        codes, tails = [], []
        for ns in (ns0, ns1):
            codes.append(np.ascontiguousarray(raw[off:off + ns]))
            off += ns
            tails.append(np.ascontiguousarray(raw[off:off + ns])
                         .view(np.int64))
            off += ns
        return cls(n_shards, log, entropy, data, codes, tails, present)

    def find(self, keys: "np.ndarray", binary: bool) -> "np.ndarray":
        from ..filters.taffy_cuckoo import FP_MASK, HEAD, TAIL
        from ..kernels.feistel import (feistel_forward_batch_lean,
                                       is_prefix_of_batch)
        from ..kernels.keys import shard_of_keys
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        h = keys.astype(np.uint64, copy=False)
        shards = shard_of_keys(keys, self.n_shards,
                               binary=binary).astype(np.int64)
        log = self.log
        out = np.zeros(len(h), dtype=bool)
        tail_shift = np.uint64(64 - log - HEAD - TAIL)
        tmask = np.uint64((1 << TAIL) - 1)
        pre = h >> np.uint64(64 - log - HEAD)
        e = self.entropy
        side_keys = [((e[0], e[1]), (e[2], e[3])),
                     ((e[4], e[5]), (e[6], e[7]))]
        sh_hi = shards.astype(np.uint64) << np.uint64(log + HEAD)

        def ptail_at(ri):             # lazy tail, matched lanes only
            return (((h[ri] >> tail_shift) & tmask)
                    .astype(np.int64) << 1) | 1

        for i in range(2):
            hashed = feistel_forward_batch_lean(side_keys[i],
                                                log + HEAD, pre)
            bucket = (hashed >> np.uint64(HEAD)).astype(np.int64)
            fp16 = (hashed & np.uint64(FP_MASK)).astype(np.uint16)
            slots = self.data[i][(shards << np.int64(log)) + bucket]
            cand = (slots & np.uint16(FP_MASK)) == fp16[:, None]
            cand &= slots > np.uint16(FP_MASK)   # occupied ⇔ tail != 0
            rows, cols = np.nonzero(cand)
            if len(rows):
                pref = is_prefix_of_batch(
                    slots[rows, cols] >> np.uint16(HEAD), ptail_at(rows))
                out[rows[pref]] = True
            codes = self.stash_codes[i]
            if codes.size:
                key_code = sh_hi | hashed
                lo = np.searchsorted(codes, key_code, "left")
                hi = np.searchsorted(codes, key_code, "right")
                # duplicate codes (same path, different tails) are
                # walked by window offset; windows are stash-sized
                for o in range(int((hi - lo).max(initial=0))):
                    idx = np.flatnonzero(lo + o < hi)
                    if not len(idx):
                        break
                    pref = is_prefix_of_batch(
                        self.stash_tails[i][lo[idx] + o], ptail_at(idx))
                    out[idx[pref]] = True
        return out & self.present[shards]


# one registry of assembled kinds, indexed by kind (broadcast entries,
# /dev/shm files) and by shard-frame family (the driver's route pick).
# minimal_taffy_cuckoo forests deliberately have no kind: each shard's
# level geometry depends on its own cursor (which levels doubled) and
# per-side hi/lo permutations, so a shared-permutation concatenated
# matrix does not exist unless every shard grew in lockstep — and the
# measured headroom is small (100M sweep: MTCF grouped 14.3 Mk/s vs
# TCF assembled 16.7, BENCH/growth100m.json).
_KINDS = {c.kind: c for c in (_BlockSliceProbe, _TbfForestMultiProbe,
                              _FrozenTcfForestProbe, _LiveTcfForestProbe)}
_KIND_OF_FAMILY = {c.family: c for c in _KINDS.values()}
_ASSEMBLED = tuple(_KINDS.values())


def _content_token(filter_map: dict) -> str:
    """Stable executor-cache key for a collected filter map: digest of
    every (group, family, blob bytes). blake2b keeps the driver-side
    pass cheap (~100 ms per 100 MB) relative to the per-worker
    deserialize/assembly it lets workers skip."""
    import hashlib
    h = hashlib.blake2b(digest_size=16)

    def upd(x: bytes) -> None:
        # length-framed: the token stays injective over the blob-list
        # STRUCTURE (two partitionings whose bytes concatenate
        # identically must not collide)
        h.update(len(x).to_bytes(8, "little"))
        h.update(x)

    for g in sorted(filter_map, key=repr):
        fam, blob = filter_map[g]
        upd(repr((g, fam)).encode())
        if isinstance(blob, (bytes, bytearray)):
            upd(blob)
        else:  # assembled kind: (n_shards, {shard: blob})
            upd(str(blob[0]).encode())
            for s in sorted(blob[1]):
                upd(str(s).encode())
                upd(blob[1][s])
    return h.hexdigest()


def _asm_path(token: str, kind: str) -> str:
    import hashlib
    digest = hashlib.sha256((token + kind).encode()).hexdigest()[:24]
    return f"/dev/shm/libfilter_asm_{digest}.u4"


def _attach_assembled(asm_meta: dict):
    """Attach the shared ASSEMBLED probe state for a global shard
    probe, if some worker already published it to /dev/shm. Returns
    the probe object or None (no file, or a truncated/foreign one —
    each kind's from_raw checks the image against its own header). The
    state is stream-copied into private memory (one memcpy buys
    THP-speed gathers — see _SHM_ASM_COPY)."""
    path = _asm_path(asm_meta["token"], asm_meta["kind"])
    if not os.path.exists(path):
        return None
    try:
        # refresh mtime so the TTL sweep in _publish_assembled never
        # unlinks state a long-running app is still actively attaching
        os.utime(path)
    except OSError:
        pass
    try:
        mm = np.memmap(path, dtype=np.uint64, mode="r")
        return _KINDS[asm_meta["kind"]].from_raw(
            int(asm_meta["n_shards"]),
            np.array(mm) if _SHM_ASM_COPY else mm)
    except (OSError, ValueError):
        return None


def _takeover_stale_lock(lock: str, st: os.stat_result) -> bool:
    """Remove a STALE publisher lock with compare-and-swap semantics:
    atomically rename the lock aside (one winner per inode), confirm
    by inode that what we grabbed IS the stale lock we observed, and
    only then unlink it. Without the confirm, two waiters can both
    observe staleness and the slower one unlinks the faster taker's
    FRESH lock — two publishers then build concurrently (benign but
    wasteful: identical content, atomic rename). Returns True when the
    stale lock was removed."""
    claim = f"{lock}.{os.getpid()}.takeover"
    try:
        os.rename(lock, claim)
    except OSError:
        return False  # someone else won the rename (or lock vanished)
    try:
        if os.stat(claim).st_ino == st.st_ino:
            os.unlink(claim)
            return True
        # we raced a fresh lock into the claim slot — restore it
        os.rename(claim, lock)
    except OSError:
        pass
    return False


def _publish_assembled(asm_meta: dict, build_fn):
    """Single-assembler publish of the assembled probe state: the
    first worker to take the lock runs ``build_fn() -> (probe_obj,
    raw_array)``, publishes the raw array at the shared path (atomic
    rename), and keeps its private object; the rest WAIT for the file
    (bounded) instead of burning memory bandwidth on 32 duplicate
    assemblies, then attach read-only. Returns a probe object, or None
    when the caller should assemble privately (shm unwritable/full, or
    the publisher is too slow)."""
    import time

    path = _asm_path(asm_meta["token"], asm_meta["kind"])
    lock = path + ".lock"
    # best-effort TTL sweep so abandoned asm state + locks don't pin
    # shm
    import glob
    for old in glob.glob("/dev/shm/libfilter_asm_*"):
        try:
            age = time.time() - os.path.getmtime(old)
            if age > (600 if old.endswith(".lock") else 3600):
                os.unlink(old)
        except OSError:
            pass
    deadline = time.monotonic() + _ASM_WAIT_S
    while True:
        got = _attach_assembled(asm_meta)
        if got is not None:
            return got
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            # pid-stamp the lock so finally can unlink OUR lock only —
            # a takeover must not have its fresh lock deleted by the
            # original (slow) publisher's cleanup
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
        except FileExistsError:
            # publisher in flight: wait for the file, stealing the
            # lock only if its holder looks dead
            try:
                st = os.stat(lock)
                if time.time() - st.st_mtime > _ASM_LOCK_STALE_S:
                    _takeover_stale_lock(lock, st)
                    continue
            except OSError:
                continue  # lock vanished → re-check file
            if time.monotonic() > deadline:
                return None
            time.sleep(0.05)
            continue
        except OSError:
            return None  # /dev/shm unwritable
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            obj, raw = build_fn()
            raw.tofile(tmp)
            os.replace(tmp, path)
            return obj
        except OSError:
            # shm full: drop the partial file, caller goes private
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return None
        finally:
            try:
                with open(lock) as fh:
                    if fh.read() == str(os.getpid()):
                        os.unlink(lock)
            except OSError:
                pass


def _assemble(fam: str, blob: tuple):
    """Private assembly of one assembled-kind map entry (n_shards,
    {shard: blob}); the driver's uniform check made it eligible."""
    pv = _KINDS[fam].assemble(*blob)
    if pv is None:
        raise ValueError(f"{fam}: shards are not uniform")
    return pv


def _materialize(bc, asm_meta: dict | None = None) -> dict:
    # shared-assembly fast path: the token rides in the UDF closure,
    # so a fresh (churned) worker that finds the published state skips
    # BOTH the broadcast unpickle (~map_bytes) and private assembly.
    # On a COLD box the lock race also happens BEFORE the unpickle:
    # the single lock-holder unpickles + assembles at full memory
    # bandwidth while the other workers wait for the file and then
    # copy it, instead of N concurrent unpickle+assembly streams
    # (the measured 17 s cold 4M-key probe of a 110 MB forest).
    if asm_meta is not None:
        cached = _FILTER_CACHE.get(asm_meta["token"])
        if cached is not None:
            return cached

        def build():
            pv = _assemble(*bc.value[1][()])
            return pv, pv.to_raw()

        got = _attach_assembled(asm_meta)
        if got is None:
            got = _publish_assembled(asm_meta, build)
        if got is not None:
            return _cache_put(_FILTER_CACHE, asm_meta["token"],
                              {(): got}, _FILTER_CACHE_MAX)
        # shm unavailable or publisher too slow → private assembly

    token, filter_map = bc.value
    cached = _FILTER_CACHE.get(token)
    if cached is None:
        cached = {g: _assemble(fam, blob) if fam in _KINDS
                  else FAMILIES[fam].deserialize(blob)
                  for g, (fam, blob) in filter_map.items()}
        cached = _cache_put(_FILTER_CACHE, token, cached,
                            _FILTER_CACHE_MAX)
    return cached


def _with_route_shard(df: DataFrame, key_col: str, p: dict) -> DataFrame:
    """Attach a shard frame's routing column to the probe side using
    the params row's authoritative routing formula."""
    if p.get("routing") == "bucket_range":
        from .sharded import with_block_shard
        return with_block_shard(df, key_col, int(p["num_buckets"]),
                                int(p["n_shards"]))
    from .forest import with_shard
    return with_shard(df, key_col, int(p["n_shards"]))


def _shard_cogroup(df: DataFrame, filters_df: DataFrame, key_col: str,
                   result_col: str, p: dict | None = None) -> DataFrame:
    """Shard-frame probe on the cogroup route: the blobs stay
    distributed and the probe side gets the build's routing column.
    ``p`` is the params row when the caller already has it."""
    if p is None:
        import json as _json
        row = filters_df.select("params").first()
        if row is None:  # empty build side: nothing can match
            return df.withColumn(result_col, F.lit(False))
        p = _json.loads(row["params"])
    probe = _with_route_shard(df, key_col, p)
    return _probe_via_cogroup(probe, filters_df, ["__shard"], key_col,
                              result_col).drop("__shard")


def _fingerprint(filters_df: DataFrame, id_cols: list[str], tag: str,
                 *extra):
    """One-pass JVM fingerprint of a CACHED filters frame: row count,
    order-free content hash and total blob bytes — no blob transfer.
    → (aggregate row with n/h/l plus ``extra`` columns, _PROBE_MEMO
    key), the key None for an empty frame."""
    agg = filters_df.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and overflow-free (ANSI-safe);
        # the group/shard ids inside the hash keep equal blobs of
        # different groups from cancelling
        F.bit_xor(F.xxhash64(*id_cols, "family", "filter")).alias("h"),
        F.sum(F.length("filter")).alias("l"), *extra).first()
    if not agg["n"]:
        return agg, None
    return agg, (filters_df.sparkSession.sparkContext.applicationId,
                 tag, int(agg["n"]), int(agg["h"]), int(agg["l"]))


def probe_with_filters(df: DataFrame, filters_df: DataFrame,
                       group_cols: list[str] | None,
                       key_col: str = "key",
                       result_col: str = "maybe_seen",
                       via: str = "auto",
                       _collected: dict | None = None) -> DataFrame:
    """Add a boolean ``result_col``: does ``key_col`` hit the group's
    filter? Rows whose group has no filter get False. Keys may be
    int64 (two's-complement uint64) or 8-byte binary.

    Implemented as a vectorized Arrow scalar UDF so only the key (and
    group) columns cross the Python boundary — every other column of a
    wide probe table stays JVM-side (at 100 TB the probe input is the
    big table; shipping whole rows through Arrow would dominate).

    A GLOBAL probe (group_cols empty) against a distributed shard
    frame (block shards / filter forest — one row per shard with a
    ``__shard`` column) auto-routes each key to its shard with the
    build's JVM-side formula, so callers don't care whether the build
    chose the single-blob or the sharded scale path. The shard frame
    is collected ONCE here (params + blobs in the same pass) — not
    first()-then-recollected per hop.

    ``via``: ``broadcast`` collects the filters to the driver and
    broadcasts (the fast path while blobs fit); ``shuffle`` keeps the
    filters distributed and cogroups probe keys with them (the 100 TB
    many-groups path — driver memory stays flat); ``auto`` broadcasts
    up to $LIBFILTER_BROADCAST_MAX collected bytes (256 MB default),
    then falls back to shuffle."""
    group_cols = list(group_cols or [])
    if via not in ("auto", "broadcast", "shuffle"):
        raise ValueError(f"unknown probe route {via!r}")
    if not group_cols and "__shard" in filters_df.columns \
            and _collected is None:
        return _probe_shard_frame(df, filters_df, key_col, result_col,
                                  via)
    if via == "shuffle":
        return _probe_via_cogroup(df, filters_df, group_cols, key_col,
                                  result_col)
    fp_key = None
    if _collected is None and group_cols:
        sl = filters_df.storageLevel
        if sl.useMemory or sl.useDisk:
            # CACHED grouped frame: a repeat probe of the unchanged
            # frame reuses the recorded broadcast directly
            agg, fp_key = _fingerprint(filters_df, group_cols, "groupfp")
            if fp_key is None:
                return df.withColumn(result_col, F.lit(False))
            if via == "auto" and agg["l"] > _broadcast_max():
                # over budget, known WITHOUT collecting any blob
                return _probe_via_cogroup(df, filters_df, group_cols,
                                          key_col, result_col)
            with _CACHE_LOCK:
                bc = _PROBE_MEMO.get(fp_key)
            if bc is not None:
                return _broadcast_probe_udf(df, bc, group_cols,
                                            key_col, result_col)
    if _collected is not None:
        filter_map = _collected
    elif via == "broadcast":
        filter_map = collect_filters(filters_df, group_cols)
    else:
        filter_map = _collect_filters_auto(filters_df, group_cols)
        if filter_map is None:  # over budget → keep filters distributed
            return _probe_via_cogroup(df, filters_df, group_cols,
                                      key_col, result_col)
    bc = _get_bc(df.sparkSession, filter_map)
    if fp_key is not None:
        _cache_put(_PROBE_MEMO, fp_key, bc, _PROBE_MEMO_MAX)
    return _broadcast_probe_udf(df, bc, group_cols, key_col, result_col)


def _get_bc(spark, filter_map: dict, token: str | None = None):
    """Broadcast a collected filter map under a CONTENT-digest cache
    key, not a per-call uuid — repeated probes of the same filters
    frame then reuse BOTH the driver-side broadcast (no re-dump of a
    100 MB map per call) and the worker-side deserialized/assembled
    state (no workers × map_bytes of rebuild memcpy per call; measured
    as the dominant cost of re-probing a 110 MB assembled forest).
    Eviction drops OUR reference only — plans still holding an evicted
    broadcast keep it alive; ContextCleaner reclaims it when the last
    reference goes."""
    if token is None:
        token = _content_token(filter_map)
    sc = spark.sparkContext
    cache_key = (sc.applicationId, token)
    with _CACHE_LOCK:
        bc = _BC_CACHE.get(cache_key)
    if bc is None:
        # a thread that raced us here gets the first broadcast back
        bc = _cache_put(_BC_CACHE, cache_key,
                        sc.broadcast((token, filter_map)), _BC_CACHE_MAX)
    return bc


def _probe_shard_frame(df: DataFrame, filters_df: DataFrame,
                       key_col: str, result_col: str,
                       via: str) -> DataFrame:
    """GLOBAL probe against a distributed shard frame (block shards /
    filter forest). Routes by shape:

    - a frame whose family has an assembled kind (``_KINDS``: block
      slices, taffy_block, frozen and live taffy_cuckoo) and whose
      shards pass that kind's header check assembles into ONE probe
      object per worker — concatenated matrices, one vectorized pass
      per batch, no JVM shard column and no per-batch segmentation
      (measured ~1.5× over the grouped route for slices, ~3× for TBF
      forests);
    - anything else (minimal_taffy_cuckoo, mixed or foreign shards)
      probes through the grouped route on a JVM-derived shard column;
    - over-budget frames (or via='shuffle') keep blobs off the driver
      entirely via the cogroup route.

    A CACHED frame pays a one-pass JVM fingerprint aggregation first
    (count + content xxhash64 + total bytes — no blob transfer);
    repeat probes of an unchanged frame then skip the blob collect AND
    the broadcast dump, reusing the recorded (mode, broadcast, params)
    directly. Uncached frames keep the single-collect flow (a
    fingerprint pass would recompute their whole upstream build)."""
    import json as _json

    if via == "shuffle":
        return _shard_cogroup(df, filters_df, key_col, result_col)

    sl = filters_df.storageLevel
    fp_key = None
    if sl.useMemory or sl.useDisk:
        agg, fp_key = _fingerprint(filters_df, ["__shard"], "shardfp",
                                   F.first("params").alias("p"))
        if fp_key is None:
            return df.withColumn(result_col, F.lit(False))
        if via == "auto" and agg["l"] > _broadcast_max():
            return _shard_cogroup(df, filters_df, key_col, result_col,
                                  _json.loads(agg["p"]))
        with _CACHE_LOCK:
            hit = _PROBE_MEMO.get(fp_key)
        if hit is not None:
            mode, bc, p, asm_meta = hit
            return _probe_from_bc(df, bc, mode, p, key_col, result_col,
                                  asm_meta)
        rows = filters_df.select("__shard", "params", "family",
                                 "filter").collect()
    elif via == "auto":
        rows = _collect_shard_rows_auto(filters_df)
        if rows is None:  # over budget: blobs never hit the driver
            return _shard_cogroup(df, filters_df, key_col, result_col)
    else:  # via == "broadcast": caller pinned the driver hop
        rows = filters_df.select("__shard", "params", "family",
                                 "filter").collect()
    if not rows:  # empty build side: nothing can match
        return df.withColumn(result_col, F.lit(False))
    p = _json.loads(rows[0]["params"])
    n_sh = int(p["n_shards"])
    shard_blobs = {int(r["__shard"]): bytes(r["filter"]) for r in rows}
    fams = {r["family"] for r in rows}
    cls = _KIND_OF_FAMILY.get(fams.pop()) if len(fams) == 1 else None
    if cls is not None and cls.uniform(shard_blobs):
        mode, collected = "global", {(): (cls.kind, (n_sh, shard_blobs))}
    else:
        mode = "grouped"
        collected = {(int(r["__shard"]),):
                     (r["family"], shard_blobs[int(r["__shard"])])
                     for r in rows}
    token = _content_token(collected)
    # big assembled state → share it across workers via /dev/shm
    # (single assembler + read-only attach; see _publish_assembled)
    asm_meta = None
    if mode == "global" and os.path.isdir("/dev/shm") \
            and sum(map(len, shard_blobs.values())) >= _SHM_ASM_MIN:
        asm_meta = {"token": token, "kind": cls.kind, "n_shards": n_sh}
    bc = _get_bc(df.sparkSession, collected, token)
    if fp_key is not None:
        _cache_put(_PROBE_MEMO, fp_key, (mode, bc, p, asm_meta),
                   _PROBE_MEMO_MAX)
    return _probe_from_bc(df, bc, mode, p, key_col, result_col, asm_meta)


def _probe_from_bc(df: DataFrame, bc, mode: str, p: dict,
                   key_col: str, result_col: str,
                   asm_meta: dict | None = None) -> DataFrame:
    if mode == "global":
        return _broadcast_probe_udf(df, bc, [], key_col, result_col,
                                    asm_meta)
    probe = _with_route_shard(df, key_col, p)
    return _broadcast_probe_udf(probe, bc, ["__shard"], key_col,
                                result_col).drop("__shard")


def _broadcast_probe_udf(df: DataFrame, bc, group_cols: list[str],
                         key_col: str, result_col: str,
                         asm_meta: dict | None = None) -> DataFrame:
    """Attach the vectorized membership column from a broadcast filter
    map (grouped: per-batch numpy segmentation by group; global: one
    kernel call per batch)."""
    import pyarrow as pa
    from pyspark.sql.functions import ArrowUDFType, arrow_udf

    from ..kernels.keys import keys_and_valid_from_arrow

    if group_cols:
        def probe(*cols):
            filters = _materialize(bc)
            keys, valid = keys_and_valid_from_arrow(cols[-1])
            out = np.zeros(len(keys), dtype=bool)
            if len(keys) and len(cols) == 2 \
                    and pa.types.is_integer(cols[0].type) \
                    and cols[0].null_count == 0:
                # single non-null int group col (the forest/shard
                # shape): numpy argsort segmentation instead of a
                # pandas groupby — no frame build, no per-group index
                # objects, one contiguous find call per present group
                g = np.asarray(cols[0].to_numpy(zero_copy_only=False))
                order = np.argsort(g, kind="stable")
                gs = g[order]
                bounds = np.flatnonzero(
                    np.r_[True, gs[1:] != gs[:-1]]).tolist()
                bounds.append(len(gs))
                for b, e in zip(bounds, bounds[1:]):
                    f = filters.get((int(gs[b]),))
                    if f is not None:
                        idx = order[b:e]
                        out[idx] = f.find_hashes(keys[idx])
                return pa.array(out & valid)
            gdf = pd.DataFrame(
                {i: c.to_pandas() for i, c in enumerate(cols[:-1])})
            for g, sub in gdf.groupby(list(gdf.columns), sort=False):
                g = g if isinstance(g, tuple) else (g,)
                f = filters.get(g)
                if f is not None:
                    idx = sub.index.to_numpy()
                    out[idx] = f.find_hashes(keys[idx])
            return pa.array(out & valid)  # null keys are never members

        # nondeterministic ONLY to stop Catalyst's constraint propagation
        # from copying the membership filter across the semi-join's
        # equi-condition onto the build side (a wasted full pass there:
        # build keys are members by construction, zero FN). The probe is
        # in fact deterministic; re-evaluation semantics are unaffected
        # for a Filter.
        udf = arrow_udf(probe, "boolean",
                        ArrowUDFType.SCALAR).asNondeterministic()
        args = [F.col(c) for c in group_cols] + [F.col(key_col)]
        return df.withColumn(result_col, udf(*args))

    def probe_global(keys):
        filters = _materialize(bc, asm_meta)
        f = filters.get(())
        if f is None:
            return pa.array(np.zeros(len(keys), dtype=bool))
        k, valid = keys_and_valid_from_arrow(keys)
        if isinstance(f, _ASSEMBLED):
            # an assembled forest routes by the xxhash64 replica,
            # which hashes binary and int64 key columns differently —
            # the Arrow type is the authority
            binary = not pa.types.is_integer(keys.type)
            return pa.array(f.find(k, binary) & valid)
        return pa.array(f.find_hashes(k) & valid)

    # see the grouped path: nondeterministic to keep the membership
    # filter off the build side of downstream equi-joins
    udf = arrow_udf(probe_global, "boolean",
                    ArrowUDFType.SCALAR).asNondeterministic()
    return df.withColumn(result_col, udf(F.col(key_col)))


def _probe_via_cogroup(df: DataFrame, filters_df: DataFrame,
                       group_cols: list[str], key_col: str,
                       result_col: str) -> DataFrame:
    """Shuffle probe — the many-groups scale path. The filter blobs
    never visit the driver: distinct (group, key) pairs cogroup with
    the filters frame on the group key, each task probes one group's
    keys against that group's blob, and the boolean equi-joins back.
    Driver memory stays flat at any number of groups; the price is a
    shuffle of the distinct probe keys plus the join — the right trade
    exactly when groups × blob bytes outgrow a broadcast."""
    import pyarrow as pa
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ..kernels.keys import keys_and_valid_from_arrow

    gcols = list(group_cols) or ["__g"]
    if group_cols:
        probe_keys = df.select(*group_cols, key_col)
        fdf = filters_df
    else:
        # GLOBAL frame: a single __g=0 group would serialize the whole
        # probe into ONE task. Salt instead: keys bucket by a JVM-side
        # key hash and the blob row replicates to every bucket, so all
        # R tasks probe in parallel (R x blob bytes of shuffle — the
        # price of a driverless probe of one huge blob; frames the
        # build router sharded never reach here).
        R = max(1, int(df.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32")))
        probe_keys = df.select(key_col).withColumn(
            "__g", F.pmod(F.xxhash64(F.col(key_col)),
                          F.lit(R)).cast("long"))
        fdf = filters_df.withColumn(
            "__g", F.explode(F.sequence(F.lit(0).cast("long"),
                                        F.lit(R - 1).cast("long"))))
    probe_keys = probe_keys.where(F.col(key_col).isNotNull()) \
        .dropDuplicates(gcols + [key_col])
    out_schema = StructType(
        [probe_keys.schema[c] for c in gcols + [key_col]]
        + [StructField(result_col, BooleanType())])

    def probe_group(left: "pa.Table", right: "pa.Table") -> "pa.Table":
        if left.num_rows == 0:
            res = np.zeros(0, dtype=bool)
        else:
            keys, valid = keys_and_valid_from_arrow(left.column(key_col))
            res = np.zeros(len(keys), dtype=bool)
            for fam, blob in zip(right.column("family").to_pylist(),
                                 right.column("filter").to_pylist()):
                f = FAMILIES[fam].deserialize(blob)
                res |= f.find_hashes(keys)
            res &= valid
        cols = {c: left.column(c) for c in gcols + [key_col]}
        cols[result_col] = pa.array(res)
        return pa.table(cols)

    probed = (probe_keys.groupBy(*gcols)
              .cogroup(fdf.groupBy(*gcols))
              .applyInArrow(probe_group, schema=out_schema))
    if group_cols:
        joined = df.join(probed, on=group_cols + [key_col], how="left")
    else:
        joined = df.join(probed.drop("__g"), on=key_col, how="left")
    # rows whose group has no filter, or whose key is null, get False
    return joined.withColumn(result_col,
                             F.coalesce(F.col(result_col), F.lit(False)))


def filter_semi_join(probe_df: DataFrame, build_df: DataFrame,
                     filters_df: DataFrame,
                     group_cols: list[str] | None,
                     key_col: str = "key") -> DataFrame:
    """Exact semi-join accelerated by the filter: probe rows that miss
    every filter are dropped *before* the join shuffle (zero false
    negatives guarantees no lost matches); survivors are exact-verified
    with a left-semi join on (group, key)."""
    group_cols = list(group_cols or [])
    candidates = (probe_with_filters(probe_df, filters_df, group_cols, key_col)
                  .where(F.col("maybe_seen")).drop("maybe_seen"))
    on = group_cols + [key_col]
    build_keys = build_df.select(*on).dropDuplicates(on)
    return candidates.join(build_keys, on=on, how="left_semi")
