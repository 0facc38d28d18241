"""Round-17 additions: deterministic two-level Louvain
(plans/ranking/communities.py) and the coordinate-descent ridge
classifier (plans/mlmodels.py)."""

from __future__ import annotations

import collections
import hashlib
import struct

import pytest
from pyspark.sql import functions as F


def _edges_toy(spark):
    # two triangles bridged by one edge — Louvain must find the triangles
    edges = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    return spark.createDataFrame(edges, "u long, v long")


class TestLouvain:
    def test_toy_two_triangles(self, spark):
        from clinical_api_etl_spark.plans.ranking.communities import (
            louvain_labels,
        )

        got = {
            r.node: r.community
            for r in louvain_labels(_edges_toy(spark)).collect()
        }
        spark.catalog.clearCache()
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}

    def test_canonical_labels_and_positive_modularity(self, spark):
        """Labels are min-member ids; the partition's Newman Q (python
        replay of graph_modularity_lpa's formula) finds real structure
        (Q > 0) and is at least the LPA partition's Q on this corpus —
        the modularity-OPTIMIZING algorithm should not lose to the
        propagation baseline it was added to supersede."""
        from clinical_api_etl_spark.plans.ranking.communities import (
            graph_louvain_communities,
        )
        from clinical_api_etl_spark.plans.ranking.graphrank import (
            _lp_graph,
            _lpa_run,
        )

        sf = "/root/testdata/sf0.001"
        lab = {
            r.node: r.community
            for r in graph_louvain_communities(spark, sf).collect()
        }
        e0 = [(r.u, r.v) for r in _lp_graph(spark, sf)[0].collect()]
        _e, lpa = _lpa_run(spark, sf)
        lpa_lab = {r.node: int(r.lbl) for r in lpa.collect()}
        spark.catalog.clearCache()
        nodes = {u for u, _ in e0} | {v for _, v in e0}
        assert set(lab) == nodes
        # canonical: each community id is the min of its members
        members = collections.defaultdict(list)
        for n, c in lab.items():
            members[c].append(n)
        for c, ms in members.items():
            assert c == min(ms)

        def q_of(partition):
            m = len(e0)
            deg = collections.Counter()
            for u, v in e0:
                deg[u] += 1
                deg[v] += 1
            intra = collections.Counter()
            dsum = collections.Counter()
            for u, v in e0:
                if partition[u] == partition[v]:
                    intra[partition[u]] += 1
            for n, d in deg.items():
                dsum[partition[n]] += d
            return sum(
                intra.get(c, 0) / m - (dsum[c] / (2 * m)) ** 2 for c in dsum
            )

        q_louvain, q_lpa = q_of(lab), q_of(lpa_lab)
        assert q_louvain > 0
        assert q_louvain >= q_lpa - 1e-12, (q_louvain, q_lpa)


class TestRidge:
    def _replay(self, sf_dir):
        """Pure-python replay: features → exact A/b → the same pinned
        Gauss-Seidel fold — must reproduce the query's weights bitwise."""
        import duckdb

        from clinical_api_etl_spark.plans.mlmodels import (
            _RIDGE_D,
            _RIDGE_LAMBDA,
            _RIDGE_SWEEPS,
        )

        con = duckdb.connect()
        rows = con.sql(
            f"""
            SELECT doc_id,
                   CASE WHEN list_contains(
                     regexp_split_to_array(lower(trim(text)), '\\s+'),
                     'customer') THEN 1 ELSE 0 END AS y,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '8000'
                     AS is_train,
                   regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
            FROM '{sf_dir}/documents.parquet' WHERE text IS NOT NULL
            """
        ).fetchall()
        d = _RIDGE_D
        feats = {}
        ys = {}
        train = {}
        for doc_id, y, is_train, toks in rows:
            x = [0] * d
            x[0] = 1
            for t in toks:
                h = int(hashlib.md5(t.encode()).hexdigest()[:4], 16)
                x[1 + h % 7] += 1
            feats[doc_id] = x
            ys[doc_id] = y
            train[doc_id] = is_train
        A = [[0] * d for _ in range(d)]
        b = [0] * d
        for doc_id, x in feats.items():
            if not train[doc_id]:
                continue
            for i in range(d):
                if x[i] == 0:
                    continue
                b[i] += x[i] * ys[doc_id]
                for j in range(d):
                    A[i][j] += x[i] * x[j]
        for i in range(d):
            A[i][i] += _RIDGE_LAMBDA
        w = [0.0] * d
        for _ in range(_RIDGE_SWEEPS):
            for j in range(d):
                val = float(b[j])
                for k in range(d):
                    if k == j:
                        continue
                    val = val - float(A[j][k]) * w[k]
                w[j] = val / float(A[j][j])
        scores = {
            doc_id: sum_chain(w, x)
            for doc_id, x in feats.items()
            if not train[doc_id]
        }
        return w, scores, ys, A, b

    def test_weights_bitwise_and_near_exact_solve(self, spark):
        from clinical_api_etl_spark.plans.mlmodels import (
            _RIDGE_D,
            ml_ridge_text_classifier,
        )

        sf = "/root/testdata/sf0.001"
        got = ml_ridge_text_classifier(spark, sf).collect()[0]
        spark.catalog.clearCache()
        w_replay, scores, ys, A, b = self._replay(sf)
        for k in range(_RIDGE_D):
            a = struct.pack("<d", got[f"w{k}"])
            bb = struct.pack("<d", w_replay[k])
            assert a == bb, (k, got[f"w{k}"], w_replay[k])
        assert got.n_test == len(scores)
        assert got.tp + got.fp + got.fn + got.tn == got.n_test
        # confusion replays from the same scores
        tp = sum(1 for i, s in scores.items() if ys[i] == 1 and s >= 0.5)
        fp = sum(1 for i, s in scores.items() if ys[i] == 0 and s >= 0.5)
        assert (got.tp, got.fp) == (tp, fp)
        # the S-sweep Gauss-Seidel iterate has converged to the closed-form
        # ridge solve (A is SPD, so GS converges; loose tolerance)
        import numpy as np

        w_exact = np.linalg.solve(
            np.array(A, dtype=np.float64), np.array(b, dtype=np.float64)
        )
        rel = max(
            abs(w_replay[k] - w_exact[k]) / max(1e-12, abs(w_exact[k]))
            for k in range(_RIDGE_D)
        )
        # 1e-4: regenerated corpora shift the conditioning; 512 sweeps
        # measured 6.6e-9 on this one
        assert rel < 1e-4, (rel, w_replay, list(w_exact))

    def test_roc_consistency_with_classifier(self, spark):
        from clinical_api_etl_spark.plans.mlmodels import (
            ml_ridge_pr_points,
            ml_ridge_roc_points,
            ml_ridge_text_classifier,
        )

        sf = "/root/testdata/sf0.001"
        conf = ml_ridge_text_classifier(spark, sf).collect()[0]
        roc = sorted(
            ml_ridge_roc_points(spark, sf).collect(), key=lambda r: -r.threshold
        )
        pr = {r.threshold: r for r in ml_ridge_pr_points(spark, sf).collect()}
        spark.catalog.clearCache()
        p_total = conf.tp + conf.fn
        n_total = conf.fp + conf.tn
        # final walk row accumulates everything
        assert roc[-1].tp == p_total and roc[-1].fp == n_total
        # tp/fp monotone along descending thresholds
        for a, b in zip(roc, roc[1:]):
            assert b.tp >= a.tp and b.fp >= a.fp
        # PR rides the same walk
        for r in roc:
            assert (pr[r.threshold].tp, pr[r.threshold].fp) == (r.tp, r.fp)


def sum_chain(w, x):
    """The query's pinned multiply-add score chain."""
    acc = w[0] * float(x[0])
    for k in range(1, len(w)):
        acc = acc + w[k] * float(x[k])
    return acc


class TestLouvainDriverParity:
    """The round-11 driver-side Louvain fast path must reproduce the
    distributed move rounds EXACTLY (all quantities are exact integers,
    so equality is total, not approximate)."""

    def test_driver_equals_distributed(self, spark):
        from clinical_api_etl_spark.plans.ranking import communities as C
        from clinical_api_etl_spark.sources.catalog import load
        from clinical_api_etl_spark.plans.ranking.graphrank import _lp_graph

        e0, _sym = _lp_graph(spark, "/root/testdata/sf0.001")
        e0 = e0.localCheckpoint(eager=True)
        fast = {r.node: r.community for r in C.louvain_labels(e0).collect()}
        orig = C.DRIVER_LOUVAIN_MAX_EDGES
        C.DRIVER_LOUVAIN_MAX_EDGES = -1  # force the distributed path
        try:
            slow = {r.node: r.community for r in C.louvain_labels(e0).collect()}
        finally:
            C.DRIVER_LOUVAIN_MAX_EDGES = orig
        spark.catalog.clearCache()
        assert fast == slow


class TestLouvainSignedNodeIds:
    def test_driver_equals_distributed_on_signed_ids(self, spark):
        """Spark's ``%`` follows the dividend's sign, so negative odd node
        ids never move on the distributed path; the driver replica must
        leave them in place too (Python's floored ``%`` would move them)."""
        from clinical_api_etl_spark.plans.ranking import communities as C

        edges = [
            (-7, 4), (-7, 6), (-5, -3), (-5, -1), (-3, -1), (-3, 4),
            (-1, 2), (2, 4), (2, 6), (4, 6),
        ]
        e0 = spark.createDataFrame(edges, "u long, v long")
        fast = {r.node: r.community for r in C.louvain_labels(e0).collect()}
        orig = C.DRIVER_LOUVAIN_MAX_EDGES
        C.DRIVER_LOUVAIN_MAX_EDGES = -1  # force the distributed path
        try:
            slow = {r.node: r.community for r in C.louvain_labels(e0).collect()}
        finally:
            C.DRIVER_LOUVAIN_MAX_EDGES = orig
        spark.catalog.clearCache()
        assert fast == slow
