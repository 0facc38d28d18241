"""Deterministic KLL sketch (operators/kll.py) and the batch gate query
(plans/sketches.py): weight conservation, rank-error bound, fold/merge
determinism, and estimates that replay exactly from the partial rows."""

from __future__ import annotations

import random

import pytest

from clinical_api_etl_spark.operators.kll import (
    KLL_K,
    KLLSketch,
    kll_merge_rows,
)


class TestKLLUnit:
    def test_weight_conservation_and_bound(self):
        rng = random.Random(7)
        for n in (10, 500, 20_000):
            vals = [rng.randrange(0, 10_000) for _ in range(n)]
            sk = KLLSketch.from_ordered(vals)
            assert sk.n() == n  # compaction pairs preserve total weight
            retained = sum(len(b) for b in sk.levels)
            assert retained <= 3 * KLL_K + 64
            # rank error of every decile estimate within 2% of n
            svals = sorted(vals)
            for q in range(1, 10):
                est = sk.quantile(q, 10)
                r = sum(1 for v in svals if v <= est)
                assert abs(r - q * n / 10) <= 0.02 * n + 1, (n, q, r)

    def test_fold_deterministic_and_serializable(self):
        rng = random.Random(11)
        vals = [rng.randrange(0, 1000) for _ in range(5000)]
        a = KLLSketch.from_ordered(vals)
        b = KLLSketch.from_ordered(vals)
        assert a.to_json() == b.to_json()  # same fold → same bits
        c = KLLSketch.from_json(a.to_json())
        assert c.to_json() == a.to_json()
        assert [c.quantile(q, 10) for q in range(1, 10)] == [
            a.quantile(q, 10) for q in range(1, 10)
        ]

    def test_merge_matches_error_contract(self):
        rng = random.Random(13)
        parts = [
            [rng.randrange(0, 10_000) for _ in range(3000)] for _ in range(4)
        ]
        sks = [KLLSketch.from_ordered(p) for p in parts]
        merged = KLLSketch()
        for sk in sks:
            merged.merge(sk)
        allv = sorted(v for p in parts for v in p)
        n = len(allv)
        assert merged.n() == n
        for q in range(1, 10):
            est = merged.quantile(q, 10)
            r = sum(1 for v in allv if v <= est)
            assert abs(r - q * n / 10) <= 0.02 * n + 1

    def test_merge_order_is_the_canonical_one(self):
        # kll_merge_rows must sort by (day, shard) — merging rows given in
        # scrambled order yields the same bits as pre-sorted input
        rng = random.Random(17)
        rows = []
        for day in (3, 1, 2):
            for shard in (1, 0):
                sk = KLLSketch.from_ordered(
                    rng.randrange(0, 100) for _ in range(400)
                )
                rows.append({"day": day, "shard": shard, "sketch": sk.to_json()})
        a = kll_merge_rows(rows)
        b = kll_merge_rows(list(reversed(rows)))
        assert a.to_json() == b.to_json()


class TestKLLBatchQuery:
    def test_rank_ok_and_estimates_match_replay(self, spark):
        from clinical_api_etl_spark.plans.sketches import (
            kll_events_sketch_rows,
            sketch_kll_quantiles,
        )

        sf = "/root/testdata/sf0.001"
        rows = sketch_kll_quantiles(spark, sf).collect()
        assert len(rows) == 9 and all(r.rank_ok for r in rows)
        # the merged estimate replays exactly from the partial rows
        parts = kll_events_sketch_rows(spark, sf).collect()
        spark.catalog.clearCache()
        merged = kll_merge_rows(parts)
        assert merged.n() == rows[0].n
