"""``llm_operators``: a fixed set of registry queries over seeded tables.

Before each query the session memo and the cache are cleared, so every
timing is a standalone cost: no query reuses another's results. There is
no warm-up of the queries' own paths: each timing includes the query's
first-call cost, as a user's first call of that operator would. Results
are compared with the DuckDB oracle where the query has one
(``tools/check_oracle.py``'s comparison), and otherwise with the
invariants the query promises.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

import duckdb

import gen_tables
from clinical_api_etl_spark.functions import memo
from clinical_api_etl_spark.plans.registry import all_queries
from clinical_api_etl_spark.sources.catalog import TABLES
from tools.check_oracle import compare

#: One query per operator family: relational aggregation, near-duplicate
#: dedup, vector search, text index and windowed sessions.
QUERIES = (
    "tpch_q1_pricing_summary",
    "dedup_minhash_lsh",
    "ann_hnsw_topk",
    "text_inverted_index",
    "w5_sessionization",
)
#: Table scale: 1.0 is the catalog's sf0.01 size.
SCALE = 1.0
#: Rows the top-k queries return: 10 query vectors x k=5.
TOPK_ROWS = 50
#: Recall floor of the LSH pairs against the exact pairs (the registry's
#: ``dedup_minhash_gate``).
MINHASH_RECALL = 0.9


def _run(spark, name: str, sf_dir: str):
    memo.reset()
    spark.catalog.clearCache()
    return all_queries()[name].builder(spark, sf_dir).toPandas()


def setup_operators(ctx, work: Path) -> dict:
    all_queries()  # imports every plan module, so no timed query pays for it
    tables = work / "tables"
    gen_tables.write_tables(gen_tables.make_tables(ctx.seed, SCALE), tables)
    return {"tables": tables, "times": {n: [] for n in QUERIES}, "results": {}}


def query_pass(ctx, state: dict) -> float:
    """Every query once; returns the seconds they took together."""
    wall = 0.0
    for name in QUERIES:
        with ctx.tracer.span(f"op.{name}", "plans.registry"):
            t = time.perf_counter()
            pdf = _run(ctx.spark, name, str(state["tables"]))
            dt = time.perf_counter() - t
        state["times"][name].append(dt)
        wall += dt
        state["results"].setdefault(name, pdf)
    return wall


def _pairs(pdf) -> set[tuple[int, int]]:
    return set(zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()))


def check(results: dict, tables: Path, tmp: Path) -> list[str]:
    """One error per query whose first-pass result is wrong."""
    errors = []
    queries = all_queries()
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    for name in QUERIES:
        if queries[name].oracle is not None:
            diff = compare(results[name], con.execute(queries[name].oracle).fetchdf())
            if diff:
                errors.append(f"{name}: {diff}")
    exact = _pairs(con.execute(queries["dedup_ngram_jaccard"].oracle).fetchdf())
    con.close()
    if len(results["ann_hnsw_topk"]) != TOPK_ROWS:
        errors.append(f"ann_hnsw_topk: {len(results['ann_hnsw_topk'])} rows, expected {TOPK_ROWS}")
    lsh = _pairs(results["dedup_minhash_lsh"])
    if not lsh <= exact or len(lsh) < MINHASH_RECALL * len(exact):
        errors.append(f"dedup_minhash_lsh: {len(lsh)} pairs, {len(lsh - exact)} not exact, "
                      f"{len(exact)} exact pairs")
    return errors


def run_operators(ctx, state: dict) -> dict:
    """Passes over every query until ``ctx.seconds`` have passed (at least one)."""
    passes = []
    deadline = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < deadline:
        passes.append(query_pass(ctx, state))
    errors = check(state["results"], state["tables"], ctx.run_dir)
    per_query = {n: statistics.median(v) for n, v in state["times"].items()}
    return {
        "attempted": len(QUERIES) * len(passes),
        "failed": len(errors),
        "errors": errors,
        "units": len(passes),
        "latency": {"query": [t for v in state["times"].values() for t in v]},
        "job_latency_s": list(per_query.values()),
        "cycle_s": [sum(per_query.values())],
        "operators_wall_s": sum(per_query.values()),
        "per_query_s": per_query,
    }
