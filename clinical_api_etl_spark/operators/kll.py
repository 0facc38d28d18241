"""Deterministic KLL-style mergeable quantile sketch. [EXT]

VERDICT r09 task 7: batch has exact + GK-gated percentiles and the sketch
family has HLL/CMS/theta, but no MERGEABLE quantile state for streaming
monitors. This module implements a deterministic variant of the KLL
sketch (Karnin-Lang-Liberty 2016): the classic level ladder — items at
level h carry weight 2^h, level capacities shrink geometrically by 2/3
below the top — with the random compaction coin replaced by a
PER-LEVEL ALTERNATING PARITY (the Manku-Rajagopalan-Lindsay deterministic
discipline). Every operation is integer-exact and a pure function of the
insertion/merge order, so a replayed fold reproduces the sketch BIT FOR
BIT — so per-partition sketches rebuilt from the same rows are identical,
while the statistical contract (rank error) is gated like the GK
percentile bound.

Properties kept exactly:
- total weight == number of inserted values (compaction pairs 2j items of
  weight w into j of weight 2w; an odd leftover stays at its level), so
  ``n`` is exact;
- mergeable: ``merge`` concatenates level buffers and re-compacts — the
  result is deterministic given the merge order;
- bounded: total retained items ≈ 3k regardless of n.

Scale posture: sketches build DISTRIBUTED per (day, shard) partition via
one Arrow kernel (``kll_partial_sketches``; plan_audit ARROW_OK entry),
then merge driver-side in canonical (day, shard) order — the merge input
is #partitions · O(k) bytes, never the data. A python row loop inside
the kernel is fine at any scale because per-partition work is O(rows)
sketch pushes; a production deployment would swap in the C DataSketches
kernel behind the same (day, shard, json) contract.
"""

from __future__ import annotations

import json
from typing import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KLL_K = 256  # top-level capacity; retained items ≈ 3k


class KLLSketch:
    """Deterministic KLL ladder over BIGINT values."""

    __slots__ = ("k", "levels", "parity")

    def __init__(self, k: int = KLL_K) -> None:
        self.k = k
        self.levels: list[list[int]] = [[]]
        self.parity: list[int] = [0]

    # -- capacities (integer-exact (2/3)^e ladder) -------------------------

    def _cap(self, h: int) -> int:
        e = len(self.levels) - 1 - h
        return max(2, (self.k << e) // (3**e))

    def _total_cap(self) -> int:
        return sum(self._cap(h) for h in range(len(self.levels)))

    # -- updates ------------------------------------------------------------

    def update(self, v: int) -> None:
        self.levels[0].append(int(v))
        self._compress()

    def merge(self, other: "KLLSketch") -> None:
        """Fold ``other``'s buffers into this sketch level-by-level.

        NOT symmetric in serialized state: the right operand's ``parity``
        is intentionally dropped — compaction after the merge alternates
        from the LEFT operand's parity only. The result is deterministic
        given merge ORDER, which is the only contract the callers rely on
        (batch build and streaming MV both merge in canonical (day,
        shard) order, so snapshots stay bit-identical)."""
        if other.k != self.k:
            raise ValueError("cannot merge sketches with different k")
        while len(self.levels) < len(other.levels):
            self.levels.append([])
            self.parity.append(0)
        for h, buf in enumerate(other.levels):
            self.levels[h].extend(buf)
        self._compress()

    def _compress(self) -> None:
        while sum(len(b) for b in self.levels) > self._total_cap():
            for h in range(len(self.levels)):
                if len(self.levels[h]) > self._cap(h):
                    self._compact(h)
                    break
            else:
                break

    def _compact(self, h: int) -> None:
        buf = sorted(self.levels[h])
        if len(self.levels) == h + 1:
            self.levels.append([])
            self.parity.append(0)
        tail: list[int] = []
        if len(buf) % 2:  # odd leftover keeps its weight at this level
            tail = [buf[-1]]
            buf = buf[:-1]
        off = self.parity[h]
        self.parity[h] ^= 1  # alternate — the deterministic "coin"
        self.levels[h + 1].extend(buf[off::2])
        self.levels[h] = tail

    # -- queries ------------------------------------------------------------

    def n(self) -> int:
        return sum(len(b) << h for h, b in enumerate(self.levels))

    def items(self) -> Iterator[tuple[int, int]]:
        for h, buf in enumerate(self.levels):
            w = 1 << h
            for v in buf:
                yield (v, w)

    def quantile(self, q_num: int, q_den: int) -> int | None:
        """Smallest retained value whose cumulative weight reaches
        q_num/q_den of the total — integer comparisons only."""
        pts = sorted(self.items())
        if not pts:
            return None
        total = sum(w for _, w in pts)
        cum = 0
        for v, w in pts:
            cum += w
            if cum * q_den >= q_num * total:
                return v
        return pts[-1][0]

    # -- serialization -------------------------------------------------------

    def to_json(self) -> str:
        return json.dumps(
            {"k": self.k, "levels": self.levels, "parity": self.parity},
            separators=(",", ":"),
        )

    @classmethod
    def from_json(cls, s: str) -> "KLLSketch":
        d = json.loads(s)
        sk = cls(d["k"])
        sk.levels = [list(map(int, b)) for b in d["levels"]]
        sk.parity = list(map(int, d["parity"]))
        return sk

    @classmethod
    def from_ordered(cls, values: Iterable[int], k: int = KLL_K) -> "KLLSketch":
        sk = cls(k)
        for v in values:
            sk.update(v)
        return sk


N_KLL_SHARDS = 8  # per-day build parallelism; canonical merge key


def kll_partial_sketches(df: DataFrame, value_col: str = "v") -> DataFrame:
    """Distributed per-(day, shard) sketch build: ``df`` must carry
    (day: long, shard: long, ts, event_id, ``value_col``: long).
    Rows fold in (ts, event_id) order within each partition — the
    canonical insertion order the streaming twin replays. Returns
    (day, shard, sketch json)."""
    import pandas as pd

    def build(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(["ts", "event_id"])
        sk = KLLSketch.from_ordered(int(x) for x in pdf[value_col])
        return pd.DataFrame(
            {"day": [key[0]], "shard": [key[1]], "sketch": [sk.to_json()]}
        )

    return df.groupBy("day", "shard").applyInPandas(
        build, "day long, shard long, sketch string"
    )


def kll_merge_rows(rows) -> KLLSketch:
    """Merge (day, shard, sketch) rows in canonical (day, shard) order."""
    merged = KLLSketch()
    for r in sorted(rows, key=lambda r: (r["day"], r["shard"])):
        merged.merge(KLLSketch.from_json(r["sketch"]))
    return merged
