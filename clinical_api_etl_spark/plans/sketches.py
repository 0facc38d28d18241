"""Mergeable-sketch queries: the deterministic KLL quantile ladder. [EXT]

VERDICT r09 task 7 (batch face). Gate pattern = the GK percentile gate
(``f_percentile_approx``): the oracle hard-codes the rank-ok booleans
TRUE next to exact BIGINT components, so a hash mismatch means the
sketch breached its padded rank bound — a tolerance breach, not an
engine bug; the estimates themselves are engine-internal and stay out
of the hashed output.

Reference scope note: the reference (arthurmosley/clinical-api-etl) has
no sketch surface; [EXT] for the streaming-ops family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clinical_api_etl_spark.operators.kll import (
    N_KLL_SHARDS,
    kll_merge_rows,
    kll_partial_sketches,
)
from clinical_api_etl_spark.plans.base import QuerySet
from clinical_api_etl_spark.plans.inference._shared import (
    _CENTS,
    _DAY_MS_I,
    _cents,
)
from clinical_api_etl_spark.sources.catalog import load

QS = QuerySet()

_KLL_TOL = 0.02  # padded rank-error tolerance (fraction of n)
_KLL_QS = tuple(range(1, 10))  # deciles q/10


def kll_events_sketch_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, shard, sketch) partials over events.value cents — the shared
    build for the batch query and the streaming twin's replay spec."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    keyed = ev.select(
        F.expr(f"unix_millis(ts) div {_DAY_MS_I}").alias("day"),
        F.expr(
            f"CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 4), 16, 10)"
            f" AS BIGINT) % {N_KLL_SHARDS}"
        ).alias("shard"),
        "ts",
        "event_id",
        _cents().alias("v"),
    )
    return kll_partial_sketches(keyed)


@QS.add(
    "sketch_kll_quantiles",
    f"""
    WITH t AS (SELECT {_CENTS} AS v FROM events WHERE value IS NOT NULL),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM t)
    SELECT CAST(q.q10 AS BIGINT) AS q10, s.n, TRUE AS rank_ok
    FROM s CROSS JOIN (SELECT UNNEST(range(1, 10)) AS q10) q
    """,
    doc="[EXT] mergeable quantile sketch (deterministic KLL, "
    "operators/kll.py): per-(day, shard) partial sketches build "
    "DISTRIBUTED in one Arrow kernel (rows fold in (ts, event_id) order "
    "— the canonical order the streaming MV replays bitwise), merge "
    "driver-side in (day, shard) order (#partitions · O(k) bytes, never "
    "the data), and each decile estimate's EXACT rank — count(value <= "
    f"est), one scan — must land within {_KLL_TOL:.0%} of its target. "
    "Hash-gated bounded formulation per the GK-gate pattern: exact n + "
    "hard-coded-TRUE rank booleans; the raw estimates are sketch "
    "internals and stay out of the hash. The streaming quantile state "
    "the ops monitors were missing (VERDICT r09 task 7).",
    tags=("approx", "gate", "sketch"),
    headline=True,
)
def sketch_kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    parts = kll_events_sketch_rows(spark, sf_dir)
    merged = kll_merge_rows(parts.collect())
    ests = [(q, merged.quantile(q, 10)) for q in _KLL_QS]
    if any(v is None for _, v in ests):
        # degenerate-but-valid input: zero non-null values -> the oracle
        # still emits its 9 rows (n=0, rank_ok TRUE, the vacuous bound);
        # mirror them instead of emitting 0 rows (ADVICE r10)
        return spark.createDataFrame(
            [(q, 0, True) for q in _KLL_QS], "q10 long, n long, rank_ok boolean"
        )
    est_df = spark.createDataFrame(
        [(q, v) for q, v in ests], "q10 long, est long"
    )
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    vals = ev.select(_cents().alias("v"))
    ranks = (
        vals.crossJoin(F.broadcast(est_df))
        .groupBy("q10")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("v") <= F.col("est"), 1).otherwise(0))
            .cast("long")
            .alias("r"),
        )
    )
    lo = (F.col("q10").cast("double") / 10.0 - _KLL_TOL) * F.col("n")
    hi = (F.col("q10").cast("double") / 10.0 + _KLL_TOL) * F.col("n") + 1
    return ranks.select(
        "q10",
        "n",
        ((F.col("r").cast("double") >= lo) & (F.col("r").cast("double") <= hi)).alias(
            "rank_ok"
        ),
    )
