"""Connected components — the transitive-closure step of dedup. [EXT]

Pair-level dedup (Jaccard / MinHash / SimHash / embedding) emits edges;
survivor selection needs *components*: if A~B and B~C, all three are one
duplicate group even when A~C is below threshold. This is the iterative
step a pure SQL pipeline can't express incrementally — implemented as
min-label propagation:

    label(v) ← min(label(v), min over neighbors' labels)

repeated to fixpoint. Each round is one join + one aggregate, so a round
costs two shuffles and converges in O(component diameter) rounds — for
near-dup graphs diameters are tiny (clusters are dense). Per-round
``localCheckpoint`` truncates the plan so lineage doesn't grow with the
iteration count (the standard Spark iterative-algorithm pattern; GraphX's
CC is the same algorithm on the RDD API).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Edge-count ceiling for the driver-side union-find fast path. Near-dup
#: edge lists are SPARSE relative to the corpus (pairs above a high
#: similarity threshold); under this bound a single collect + union-find
#: replaces O(diameter) distributed rounds of ≥3 jobs each — the same
#: model-fits-on-driver reasoning as sample-trained k-means. Above it,
#: the distributed min-label loop below is the scale path.
DRIVER_CC_MAX_EDGES = 1_000_000


def symmetrize(e0: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected view of a directed edge list: each (src, dst) row also
    appears as (dst, src).

    Implemented as ONE explode of a 2-struct array — NOT
    ``e0.union(e0.swap)``: a union references ``e0`` from two plan
    branches, and Spark performs no cross-branch subexpression
    elimination, so an expensive upstream derivation (the usual
    lineitem⋈orders + distinct) would compute TWICE (CLAUDE.md
    no-HOF-CSE rule, round-1). The explode materializes the upstream
    exactly once and emits both directions per input row; downstream
    aggregates are order-insensitive, so results are identical to the
    union form.
    """
    return e0.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("_e")
    ).select(F.col("_e.src").alias(src), F.col("_e.dst").alias(dst))


#: Salt fan-out for the per-round frontier/vector joins. Real interaction
#: graphs are power-law: a hub owning ~20% of edges turns a plain
#: src-partitioned edge table into a straggler (skew_probe.json measured
#: 3.2x scaling vs 1.2x uniform on path counts before salting). Each edge
#: gets a deterministic salt from xxhash64(dst) (plan-side only — never
#: reaches an oracle, the SymSpell rule), the edge table partitions on
#: (src, salt), and the small frontier replicates EDGE_SALT ways so every
#: edge still meets its frontier row exactly once — identical multisets,
#: hashes unchanged, hub work spread over EDGE_SALT tasks. Cost: the
#: frontier/rank shuffle multiplies by EDGE_SALT — bounded, because the
#: frontier side is the per-source probe state (bfs family) or the O(|V|)
#: vector (pagerank), both dwarfed by the edge side a hub inflates.
EDGE_SALT = 8


def _salted_edges(
    edges: DataFrame, src: str, dst: str, extra: tuple = (), parts: int | None = None
) -> DataFrame:
    """(src, dst, extra..., _slt) repartitioned on (src, _slt) + persisted.

    ``parts`` overrides the pinned partition count (default: full
    parallelism). Probe-bounded callers (the sampled-Brandes twin) pass
    a small count: with per-source state in the tens of thousands of
    rows, 32-task stages are pure scheduler overhead — the per-level
    join cost is fixed latency, not compute."""
    sel = [F.col(src).alias("src"), F.col(dst).alias("dst"), *extra]
    return (
        edges.select(*sel)
        .withColumn(
            "_slt", F.pmod(F.xxhash64(F.col("dst")), F.lit(EDGE_SALT)).cast("int")
        )
        .repartition(
            parts or edges.sparkSession.sparkContext.defaultParallelism,
            "src",
            "_slt",
        )
        .persist()
    )


def _replicated(frontier: DataFrame) -> DataFrame:
    """Frontier fanned out to every salt value (one replica per salt)."""
    return frontier.withColumn(
        "_slt", F.explode(F.sequence(F.lit(0), F.lit(EDGE_SALT - 1)))
    )


#: Frontier/state rows (pre-salt-replication) under which the iterative
#: loops broadcast the probe side of their per-round joins instead of
#: letting the planner shuffle the persisted edge table. Checkpointed
#: frontiers are ExistingRDD scans with NO size statistics, so AQE
#: treats them as unbroadcastable and picks a sort-merge join that
#: re-shuffles the 10^6-row edge side EVERY round (measured 7.5s -> 2.9s
#: on the 4-source Brandes forward pass at sf0.1). The row counts are
#: tracked DRIVER-SIDE by the loops themselves (each round's
#: materializing count), so the broadcast is explicitly bounded at call
#: time, and row counts above the bound fall back to the salted shuffle
#: join — the correct 100-TB posture (scale-adaptive, not a constant
#: tuned for local mode). 400k rows ≈ 25 MB serialized: the 10× probe
#: showed re-BUILDING a ~1.3M-row (~85 MB) broadcast every round loses
#: to the salted shuffle of the same frontier, while every sf0.1-scale
#: probe side (≤128k rows) wins broadcast decisively.
FRONTIER_BCAST_MAX = 400_000


def _bcast_if(df: DataFrame, n_rows: int | None) -> DataFrame:
    """``F.broadcast(df)`` when the caller-tracked ``n_rows`` is known and
    under :data:`FRONTIER_BCAST_MAX`; the plain frame otherwise."""
    if n_rows is not None and n_rows <= FRONTIER_BCAST_MAX:
        return F.broadcast(df)
    return df


def _frontier_expand(
    e: DataFrame, frontier: DataFrame, fr_count: int | None
) -> DataFrame:
    """Expansion join of a frontier (``node`` + payload columns) against a
    :func:`_salted_edges` table.

    Broadcast path (frontier row count tracked by the caller and under
    :data:`FRONTIER_BCAST_MAX`): a plain ``src == node`` broadcast-hash
    join — the persisted edge table is STREAMED in place, nothing
    shuffles, and the salt replication is skipped entirely (salting
    exists to spread a SHUFFLE join's hub partition across reducers; a
    broadcast join has no partitioning to skew, every task scans its own
    edge slice). Fallback above the bound: the salted shuffle join.
    Both paths produce the identical matched multiset — each edge meets
    each matching frontier row exactly once — so downstream aggregates
    and hashes are unchanged by construction."""
    if fr_count is not None and fr_count <= FRONTIER_BCAST_MAX:
        fr = _bcast_if(frontier, fr_count)
        return e.join(fr, e["src"] == fr["node"])
    fr = _replicated(frontier)
    return e.join(fr, (e["src"] == fr["node"]) & (e["_slt"] == fr["_slt"]))


#: Bounds for the driver-side BFS-family kernels (operators/graphkernel):
#: probe-set operators carry |sources| x |V| state over dimension-scaled
#: edge lists, so under these bounds the whole computation is one bounded
#: collect + numpy passes — bit-identical by construction (integer state
#: is order-free scatter-min/add; the one float state, the Brandes delta,
#: replays the pinned successor-sorted left fold exactly — see the
#: graphkernel module docstring). Above either bound: the distributed
#: loops, unchanged (the 100-TB path).
DRIVER_GRAPH_MAX_EDGES = 16_000_000
DRIVER_GRAPH_MAX_SOURCES = 256


def _driver_graph_collect(
    e_ck: DataFrame, n_edges: int, sources: DataFrame, payload: str | None = None
):
    """Bounded collect for the graph kernels: returns
    ``(srcid, dstid, payload_arr, all_nodes, source_codes)`` or ``None``
    when the source set exceeds its bound / carries duplicates (the
    distributed loops emit one seed row per source OCCURRENCE, so a
    duplicated probe set must take that path to stay row-identical).
    ``e_ck`` must be an already-checkpointed (src, dst[, payload])
    selection with ``n_edges`` rows (caller-counted)."""
    import numpy as np

    from clinical_api_etl_spark.operators import graphkernel as K

    if n_edges > DRIVER_GRAPH_MAX_EDGES:
        return None
    spdf = sources.select("node").limit(DRIVER_GRAPH_MAX_SOURCES + 1).toPandas()
    svals = spdf["node"].tolist()
    if len(svals) > DRIVER_GRAPH_MAX_SOURCES or len(set(svals)) != len(svals):
        return None
    pdf = e_ck.toPandas()
    if len(pdf) == 0:
        srcid = np.empty(0, dtype=np.int64)
        dstid = np.empty(0, dtype=np.int64)
        nodes = np.empty(0, dtype=object)
    else:
        srcid, dstid, nodes = K.factorize(pdf["src"], pdf["dst"])
    pay = (
        pdf[payload].to_numpy(dtype=np.int64)
        if payload is not None and len(pdf)
        else (np.empty(0, dtype=np.int64) if payload is not None else None)
    )
    source_codes, all_nodes = K._source_codes(svals, nodes)
    # len(nodes) = nodes present in the EDGE LIST (codes < this expand);
    # appended source codes are seed-only
    return srcid, dstid, pay, all_nodes, len(nodes), source_codes


def _kernel_frame(spark, cols: dict, schema) -> DataFrame:
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _node_count(e: DataFrame) -> int:
    """|V| of a (src, dst, ...) edge table — BOTH endpoint columns, so
    directed inputs with sink-only nodes count correctly (an undercount
    could fire the settled check early and skip a live round)."""
    return (
        e.select(F.col("src").alias("n"))
        .unionByName(e.select(F.col("dst").alias("n")))
        .distinct()
        .count()
    )


def _all_settled(state: DataFrame, n_sources: int, n_nodes: int) -> bool:
    """True when every source has settled EVERY node of the graph — the
    next BFS frontier is then provably empty, so the expansion round can
    be skipped outright. On a connected graph the final round otherwise
    exists only to verify emptiness, and it is the most expensive one
    (it joins the largest frontier — 90% of state on the betweenness
    probe, 3.4s of its 16s at sf0.1). Σ_s |state(s)| == n_sources·|V|
    implies each per-source set is exactly V (each is ≤ V), so the check
    is EXACT, order-one jobs on checkpointed state, and conservative on
    disconnected graphs (never fires; rounds proceed as before). Results
    and hashes are unchanged by construction — the skipped round could
    only have produced an empty frontier.

    NOTE: the BFS loops now track the state count DRIVER-SIDE (each
    frontier's materializing count accumulates into state_count), so
    this check costs zero jobs inline; the function is retained as the
    executable statement of the invariant (used by tests/docs)."""
    return state.count() == n_sources * n_nodes


def _np_min_labels(src_vals, dst_vals):
    """Vectorized min-label connected components over driver-side edge
    arrays: returns ``(uniq, lab)`` where ``uniq`` is the SORTED distinct
    node array and ``uniq[lab[i]]`` is the minimum node value of
    ``uniq[i]``'s component. np.unique codes are sorted, so code order ==
    node-value order (ints numerically, strings lexicographically —
    matching python min/max): MINs over codes commute with the value
    mapping and the converged label is exactly the component minimum a
    union-find produces. Hooking (scatter-min both edge directions) +
    full pointer jumping per round = O(log n) vectorized rounds — the
    per-row python find() loop this replaces cost ~7s at |E| ~ 1.2M
    (measured sf0.1, round 11)."""
    import numpy as np

    allv = np.concatenate([src_vals, dst_vals])
    uniq, codes = np.unique(allv, return_inverse=True)
    a, b = codes[: len(src_vals)], codes[len(src_vals) :]
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        old = lab
        m = np.minimum(lab[a], lab[b])
        nxt = lab.copy()
        np.minimum.at(nxt, a, m)
        np.minimum.at(nxt, b, m)
        while True:  # pointer-jump to the round's fixpoint
            j = nxt[nxt]
            if np.array_equal(j, nxt):
                break
            nxt = j
        if np.array_equal(nxt, old):
            break
        lab = nxt
    return uniq, lab


def _driver_union_find(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Min-label connected components over a collected edge list
    (vectorized — see :func:`_np_min_labels`); component label = min
    vertex id, identical to the distributed loop and to the per-row
    union-find this replaces."""
    import pandas as pd

    pdf = edges.select(src, dst).toPandas()
    if len(pdf) == 0:
        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"id": [], "component": []}), "id long, component long"
        )
    uniq, lab = _np_min_labels(
        pdf[src].to_numpy(), pdf[dst].to_numpy()
    )
    rows = pd.DataFrame({"id": uniq, "component": uniq[lab]})
    return edges.sparkSession.createDataFrame(
        rows, "id long, component long"
    )


def connected_components(
    edges: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 25,
    driver_max_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """(id, component) for every vertex appearing in ``edges``; component =
    the minimum vertex id of the connected component (deterministic).

    Scale-adaptive: edge lists under ``driver_max_edges`` resolve via one
    collect + union-find (near-dup graphs are sparse; each distributed
    round costs ≥3 jobs); larger graphs run the distributed min-label
    loop. Both produce identical (id, min-vertex-id) labelings.
    """
    if edges.limit(driver_max_edges + 1).count() <= driver_max_edges:
        return _driver_union_find(edges, src, dst)
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    sym = sym.distinct().localCheckpoint()

    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        nbr = sym.join(labels, sym.b == labels.id).select(
            F.col("a").alias("id"), F.col("label")
        )
        # lazy checkpoint: the changed-probe count is the materializing
        # action (one blocking job per round instead of two)
        new = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("label").alias("component"))


def pagerank_int(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    total_units: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank in exact integer arithmetic: rank mass is ``total_units``
    integer units, every step is BIGINT floor-division (Spark ``div`` ==
    DuckDB ``//`` for non-negative operands), so the result is
    bit-reproducible on ANY engine — no float association order, no
    logarithms. The floor truncation loses < |V|·iters units of mass
    (≈ 1e-6 of total here): an explicitly-bounded, deterministic
    approximation of float PageRank.

    Each iteration: contributions = one equi-join of the rank vector
    onto the edge list + one shuffle on dst with map-side partial sums.
    The rank join is deliberately NOT hinted broadcast: the vector is
    O(|V|) — at billions of nodes it exceeds any broadcast ceiling and
    would serialize through the driver — so the plan shuffles on src
    and lets AQE downgrade to a runtime broadcast while the vector is
    actually small. Node count rides a 1-row cross join so the plan
    stays fully declarative. Nodes are taken from the edge list (call
    with a symmetrized edge list; isolated vertices would hold static
    rank and can be unioned in afterwards).
    """
    # ONE materialization of the caller's (usually join+distinct) edge
    # plan: the old fully-declarative form re-derived it from EVERY
    # branch of the unrolled 3-iteration DAG — the static plan carried
    # 44 parquet scans / 144 Exchanges with ZERO exchange reuse
    # (round-11 dissection). |V| is then a cheap driver count off the
    # checkpoint, which (a) turns base/init into literals with the
    # IDENTICAL integer values the 1-row cross join produced and
    # (b) bounds a per-iteration broadcast of the rank vector
    # (_frontier_expand — the edge side streams in place; above the
    # bound the salted shuffle join is the 100-TB fallback, as before).
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n = e.select("src").distinct().count()
    if n == 0:
        return e.select(
            F.col("src").alias("node"), F.lit(0).cast("long").alias("rank_units")
        ).limit(0)
    base_val = total_units * (100 - damping_pct) // 100 // n
    # broadcast bound: the rank vector after an iteration covers distinct
    # DST nodes, so bound by BOTH-endpoint |V| (n itself stays the
    # src-distinct count — it feeds the arithmetic and must not change)
    n_both = _node_count(e)
    ranks = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(total_units // n).cast("long").alias("r"))
    )
    # salt the rank equi-join's SHUFFLE fallback (hub-skew resilience,
    # see EDGE_SALT); the broadcast path needs no salt.
    edeg = _salted_edges(e.join(deg, "src"), "src", "dst", extra=(F.col("deg"),))
    for _ in range(iters):
        contrib = _frontier_expand(edeg, ranks, n_both).select(
            "dst", F.expr("r div deg").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("s"))
        ranks = summed.select(
            F.col("dst").alias("node"),
            (F.lit(base_val) + F.expr(f"{damping_pct} * s div 100"))
            .cast("long")
            .alias("r"),
        ).localCheckpoint(eager=False)
    out = ranks.select("node", F.col("r").alias("rank_units")).localCheckpoint(
        eager=True
    )
    edeg.unpersist(False)
    return out


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS hop distances (0..iters) in exact integers.

    ``sources`` must have a ``node`` column. Each round relaxes
    ``dist[dst] = min(dist[dst], dist[src] + 1)`` via one equi-join on
    src + one min-aggregate — the Pregel BFS step as two declarative
    ops. Nodes unreached within ``iters`` hops are absent from the
    output (distance = null semantics). All-integer: hash-gates against
    an unrolled DuckDB oracle.

    Lineage note: the distance table feeds BOTH the join and the union
    every round (multiplicative growth), so each round is eagerly
    localCheckpoint-ed — the k-core rule from CLAUDE.md, not the
    pagerank (linear-growth) exception.

    Scale-adaptive: under DRIVER_GRAPH_MAX_EDGES/_SOURCES the BFS runs
    as a driver kernel (integer-only — bit-identical by construction);
    the distributed loop is the fallback, fed from the same edge
    checkpoint.
    """
    e_ck = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    got = _driver_graph_collect(e_ck, e_ck.count(), sources)
    if got is not None:
        from clinical_api_etl_spark.operators import graphkernel as K
        from pyspark.sql.types import LongType, StructField, StructType

        srcid, dstid, _, all_nodes, n_graph, scodes = got
        nodes, dists = K.bfs_hops_kernel(srcid, dstid, n_graph, scodes, iters)
        node_type = e_ck.schema["src"].dataType
        return _kernel_frame(
            edges.sparkSession,
            {"node": all_nodes[nodes], "dist": dists},
            StructType(
                [StructField("node", node_type), StructField("dist", LongType())]
            ),
        )
    e = _salted_edges(e_ck, src, dst)
    dist = sources.select(
        "node", F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    # frontier propagation (first reach == min distance): only last
    # round's discoveries can extend the tree, so each node crosses the
    # edge join once over the whole run instead of every round — and the
    # persisted edge table stops re-deriving its upstream join per round.
    # dist stays a UNION of already-checkpointed frontier layers — each
    # layer is materialized once and never re-checkpointed. Each round
    # is ONE blocking job: a LAZY localCheckpoint materialized by the
    # count that doubles as the emptiness probe (the eager-checkpoint +
    # isEmpty pattern paid two scheduler round-trips per round; job
    # count amplifies host scheduling latency — BENCH_r08 cohort).
    frontier = dist
    fr_count = dist.count()  # cheap — the seed checkpoint is materialized
    state_count = fr_count
    for _ in range(iters):
        cand = (
            _frontier_expand(e, frontier, fr_count)
            .select(
                F.col("dst").alias("node"), (F.col("dist") + F.lit(1)).alias("dist")
            )
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
        frontier = cand.join(
            _bcast_if(dist.select("node"), state_count), "node", "left_anti"
        ).localCheckpoint(eager=False)
        fr_count = frontier.count()
        if fr_count == 0:
            break
        state_count += fr_count
        dist = dist.unionByName(frontier)
    e.unpersist(False)
    return dist


def ppr_int(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 3,
    total_units: int = 1_000_000_000_000,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank (random walk with restart to ``sources``) in
    exact integer arithmetic — same bit-reproducibility contract as
    :func:`pagerank_int`, but the restart mass re-concentrates on the
    source set each iteration instead of spreading uniformly, so ranks
    measure proximity to the sources (the recommendation / similar-node
    primitive). Nodes never touched by mass stay absent (implicit 0).

    Per iteration: one equi-join of the rank vector onto the edge list
    (AQE chooses broadcast vs shuffle), one shuffle on dst with map-side
    partial sums, one full-outer join with the (small, broadcastable)
    restart vector.
    """
    # Same plan-blowup fix as pagerank_int: one edge checkpoint, a
    # driver-counted node bound for the per-iteration rank broadcast
    # (_frontier_expand), per-iteration lazy checkpoints. Values are
    # unchanged — all arithmetic is the identical BIGINT expression tree.
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    n_src = sources.count()
    if n_src == 0:
        raise ValueError("ppr_int: empty source set")
    n_nodes = _node_count(e)  # both endpoints — rank-vector upper bound
    restart = sources.select(
        "node",
        F.lit(total_units * (100 - damping_pct) // 100 // n_src)
        .cast("long")
        .alias("base"),
    ).localCheckpoint(eager=True)
    ranks = restart.select(
        "node", F.lit(total_units // n_src).cast("long").alias("r")
    )
    edeg = _salted_edges(e.join(deg, "src"), "src", "dst", extra=(F.col("deg"),))
    for _ in range(iters):
        contrib = _frontier_expand(edeg, ranks, n_nodes + n_src).select(
            "dst", F.expr("r div deg").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("s"))
        ranks = (
            summed.select(F.col("dst").alias("node"), "s")
            .join(restart, "node", "full_outer")
            .select(
                "node",
                (
                    F.coalesce(F.col("base"), F.lit(0))
                    + F.expr(f"{damping_pct} * coalesce(s, 0) div 100")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    out = ranks.select("node", F.col("r").alias("rank_units")).localCheckpoint(
        eager=True
    )
    edeg.unpersist(False)
    return out


def pagerank_weighted_int(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    iters: int = 3,
    total_units: int = 1_000_000_000_000,
    damping_pct: int = 85,
) -> DataFrame:
    """Weighted PageRank in exact integer arithmetic: each neighbor
    receives ``rank * w div sum(w over src's edges)`` — the
    integer-weighted generalization of :func:`pagerank_int` with the
    same bit-reproducibility contract (BIGINT floor-div throughout) and
    the same join shape (rank equi-join, no forced broadcast; one dst
    shuffle with map-side partials per iteration).

    Weights must be positive integers with ``w <= BIGINT_MAX /
    total_units`` (~9.2e6 at the default ``total_units`` of 1e12):
    ``r * w`` is computed before the floor-div and ``r`` can reach
    ``total_units``, so a larger weight overflows BIGINT (ANSI runtime
    ARITHMETIC_OVERFLOW on Spark; silent wrap elsewhere). For heavier
    weight domains pass a smaller ``total_units`` — precision degrades
    gracefully (rank granularity is 1/total_units)."""
    _w_bound = (2**63 - 1) // total_units
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        # Per-row guard: surfaces the overflow precondition as a clear
        # message instead of a mid-iteration ARITHMETIC_OVERFLOW. One
        # integer compare per edge, codegen'd — negligible.
        F.when(F.col(weight).cast("long") <= F.lit(_w_bound), F.col(weight))
        .otherwise(
            F.raise_error(
                F.lit(
                    f"pagerank_weighted_int: edge weight exceeds {_w_bound} "
                    f"(BIGINT_MAX / total_units={total_units}); pass a "
                    "smaller total_units"
                )
            )
        )
        .alias("w"),
    )
    # Same plan-blowup fix as pagerank_int (one edge checkpoint, literal
    # base/init with identical integer values, bounded rank broadcasts,
    # per-iteration lazy checkpoints).
    e = e.localCheckpoint(eager=True)
    sw = e.groupBy("src").agg(F.sum("w").cast("long").alias("sw"))
    n = e.select("src").distinct().count()
    if n == 0:
        return e.select(
            F.col("src").alias("node"), F.lit(0).cast("long").alias("rank_units")
        ).limit(0)
    base_val = total_units * (100 - damping_pct) // 100 // n
    n_both = _node_count(e)
    ranks = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(total_units // n).cast("long").alias("r"))
    )
    esw = _salted_edges(
        e.join(sw, "src"), "src", "dst", extra=(F.col("w"), F.col("sw"))
    )
    for _ in range(iters):
        contrib = _frontier_expand(esw, ranks, n_both).select(
            "dst", F.expr("r * w div sw").alias("c")
        )
        summed = contrib.groupBy("dst").agg(F.sum("c").cast("long").alias("s"))
        ranks = summed.select(
            F.col("dst").alias("node"),
            (F.lit(base_val) + F.expr(f"{damping_pct} * s div 100"))
            .cast("long")
            .alias("r"),
        ).localCheckpoint(eager=False)
    out = ranks.select("node", F.col("r").alias("rank_units")).localCheckpoint(
        eager=True
    )
    esw.unpersist(False)
    return out


def hits_int(
    edges: DataFrame,
    *,
    hub: str = "c",
    auth: str = "s",
    iters: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """HITS hubs & authorities in exact integer arithmetic.

    Directed bipartite form: hub scores live on ``hub``-side nodes, authority
    scores on ``auth``-side nodes. Scores are L1-normalized to ``scale``
    integer units per half-step with BIGINT floor-division (Spark ``div`` ==
    DuckDB ``//`` for non-negative operands), so every intermediate is
    bit-reproducible across engines — the same discipline as
    :func:`pagerank_int`. Overflow bound: ``raw * scale`` must stay under
    BIGINT_MAX, i.e. max in/out-degree ≤ ~9.2e12 / scale (9.2e6 at the
    default scale) — assert-checked by the normalization being well-defined
    (raw sums are positive whenever the edge set is non-empty).

    Each half-step is one equi-join of the score vector onto the edge list
    plus one key shuffle with map-side partial sums. The raw-aggregate table
    is referenced TWICE per half-step (once by the normalization total, once
    by the normalized projection), so lineage growth is multiplicative —
    each raw table is eagerly ``localCheckpoint``-ed (the k-core rule;
    pagerank's linear chain correctly skips this). The normalization total
    rides a 1-row broadcast cross join — no driver collect, fully
    declarative.
    """
    if iters < 1:
        raise ValueError(f"hits_int requires iters >= 1, got {iters}")
    e = (
        edges.select(F.col(hub).alias("c"), F.col(auth).alias("s"))
        .repartition(edges.sparkSession.sparkContext.defaultParallelism)
        .persist()
    )
    h = e.select("c").distinct().select(
        "c", F.lit(scale).cast("long").alias("h")
    )
    a = None
    # score tables are one row per distinct hub/auth node — the counts
    # are cheap on the just-materialized checkpoints and bound the
    # per-half-step broadcasts (checkpointed tables carry no size stats;
    # the _frontier_expand rationale). First half-step: h derives from a
    # distinct aggregate, which AQE sizes at runtime — no count needed.
    nh = None
    for _ in range(iters):
        araw = (
            e.join(_bcast_if(h, nh), "c")
            .groupBy("s")
            .agg(F.sum("h").cast("long").alias("ar"))
            .localCheckpoint()
        )
        na = araw.count()
        at = araw.agg(F.sum("ar").cast("long").alias("t"))
        a = araw.crossJoin(F.broadcast(at)).select(
            "s", F.expr(f"ar * {scale} div t").cast("long").alias("a")
        )
        hraw = (
            e.join(_bcast_if(a, na), "s")
            .groupBy("c")
            .agg(F.sum("a").cast("long").alias("hr"))
            .localCheckpoint()
        )
        nh = hraw.count()
        ht = hraw.agg(F.sum("hr").cast("long").alias("t"))
        h = hraw.crossJoin(F.broadcast(ht)).select(
            "c", F.expr(f"hr * {scale} div t").cast("long").alias("h")
        )
    # every half-step is eagerly checkpointed, so the cached edge table
    # has served all its joins by the time we return
    e.unpersist(False)
    hubs = h.select(
        F.concat(F.lit("c"), F.col("c").cast("string")).alias("node"),
        F.lit("hub").alias("kind"),
        F.col("h").alias("score_units"),
    )
    auths = a.select(
        F.concat(F.lit("s"), F.col("s").cast("string")).alias("node"),
        F.lit("auth").alias("kind"),
        F.col("a").alias("score_units"),
    )
    return hubs.unionByName(auths)


def bfs_hops_per_source(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-source BFS hop distances: like :func:`bfs_hops` but the distance
    state is keyed (source, node), so each source's frontier expands
    independently in the SAME join/min-aggregate rounds — one run for the
    whole probe set instead of |sources| sequential BFS runs. State size is
    |sources| x |reached nodes|; use a bounded probe set (the standard
    posture for centrality at scale). Output: (s, node, dist), nodes
    unreached within ``iters`` absent. Rounds use LAZY
    ``localCheckpoint(eager=False)`` to truncate the logical plan, and the
    frontier count that materializes each checkpoint doubles as the
    emptiness probe — ONE blocking job per round (round-9 discipline; the
    old eager-checkpoint k-core rule applies only where a persisted table
    is unpersisted before return)."""
    # Scale-adaptive: driver kernel under the graph bounds (integer-only
    # BFS — bit-identical by construction), distributed loop above them.
    e_ck = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    got = _driver_graph_collect(e_ck, e_ck.count(), sources)
    if got is not None:
        from clinical_api_etl_spark.operators import graphkernel as K
        from pyspark.sql.types import LongType, StructField, StructType

        srcid, dstid, _, all_nodes, n_graph, scodes = got
        ss, vv, dd = K.bfs_hops_per_source_kernel(
            srcid, dstid, n_graph, scodes, iters
        )
        node_type = e_ck.schema["src"].dataType
        return _kernel_frame(
            edges.sparkSession,
            {"s": all_nodes[ss], "node": all_nodes[vv], "dist": dd},
            StructType(
                [
                    StructField("s", node_type),
                    StructField("node", node_type),
                    StructField("dist", LongType()),
                ]
            ),
        )
    # pin the partitioning BEFORE persist: AQE would coalesce the small
    # edge exchange to 1 partition and serialize every expansion join
    # (CLAUDE.md round-1 rule; AQE leaves user repartitions alone).
    # Salted on (src, _slt) for hub-skew resilience (see EDGE_SALT).
    e = _salted_edges(e_ck, src, dst)
    dist = sources.select(
        F.col("node").alias("s"), F.col("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=False)
    # FRONTIER propagation, not full-state relaxation: in BFS the first
    # reach IS the min distance, so only nodes discovered last round can
    # improve anything. Joining the full (source, node) state against the
    # edges every round made the saturated rounds quadratic-ish in
    # |sources| x |E| (21.7s at sf0.1); with the frontier each (source,
    # node) pair crosses the join exactly once over the whole run —
    # total work Σ deg(v) per source, spread across rounds.
    # ONE blocking job per round: each frontier is a LAZY localCheckpoint
    # materialized by the count that doubles as the emptiness probe, and
    # the running state count is tracked DRIVER-SIDE (state_count +=
    # frontier rows), so the settled-|V| shortcut costs zero jobs.
    n_sources = dist.count()  # materializes the seed checkpoint
    state_count = n_sources
    frontier = dist
    fr_count = n_sources
    n_nodes = None
    for k in range(iters):
        if k > 0:
            if n_nodes is None:
                n_nodes = _node_count(e)
            if state_count == n_sources * n_nodes:
                break  # settled-|V| shortcut (see _all_settled)
        # checkpointed frontiers/state are ExistingRDD scans with no size
        # stats — AQE would sort-merge-join them, re-shuffling the edge
        # table EVERY round; both probe sides are driver-count-bounded,
        # so broadcast explicitly (see _frontier_expand/FRONTIER_BCAST_MAX)
        cand = (
            _frontier_expand(e, frontier, fr_count)
            .select(
                "s",
                F.col("dst").alias("node"),
                (F.col("dist") + F.lit(1)).alias("dist"),
            )
            .groupBy("s", "node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
        frontier = (
            cand.join(
                _bcast_if(dist.select("s", "node"), state_count),
                ["s", "node"],
                "left_anti",
            )
            .localCheckpoint(eager=False)
        )
        n_new = frontier.count()
        if n_new == 0:
            break
        state_count += n_new
        fr_count = n_new
        dist = dist.unionByName(frontier)
    e.unpersist(False)
    return dist


def bfs_path_counts(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Per-source shortest-path COUNTS (Brandes sigma): for every (source,
    node) pair within ``iters`` hops, the exact number of distinct
    shortest paths between them — the forward half of betweenness
    centrality, and exact BIGINTs throughout (path counts are sums of
    predecessor counts, never floats).

    Same frontier discipline as :func:`bfs_hops_per_source`; the only
    change is the aggregate: a node first reached at level k+1 receives
    ``SUM(sigma)`` over its level-k predecessors (every shortest path to
    it extends a shortest path to a predecessor — all of which sit exactly
    one level down, so summing the frontier is the whole recurrence).
    Equal-level and backward edges are discarded by the settled anti-join,
    matching Brandes' BFS DAG. State is (source, node, dist, sigma); use a
    bounded probe set (centrality posture). sigma fits BIGINT far past any
    real scale: it is bounded by (max degree)^iters.
    """
    fast = _brandes_driver(edges, sources, iters, src, dst, with_delta=False)
    if fast is not None:
        return fast
    state, _, _ = _bfs_path_counts_with_levels(
        edges, sources, iters=iters, src=src, dst=dst
    )
    return state


def _brandes_driver(
    edges: DataFrame,
    sources: DataFrame,
    iters: int,
    src: str,
    dst: str,
    *,
    with_delta: bool,
) -> DataFrame | None:
    """Driver-kernel dispatch shared by :func:`bfs_path_counts` (forward
    only) and :func:`brandes_dependencies` (+ backward deltas). Returns
    ``None`` above the graph bounds — callers then run the distributed
    loops. Bit-parity: integers are order-free scatter sums; the delta
    fold is the strict left fold (graphkernel module docstring)."""
    e_ck = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    got = _driver_graph_collect(e_ck, e_ck.count(), sources)
    if got is None:
        return None
    from clinical_api_etl_spark.operators import graphkernel as K
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    srcid, dstid, _, all_nodes, n_graph, scodes = got
    ss, vv, dd, gg, tt = K.brandes_kernel(srcid, dstid, n_graph, scodes, iters)
    node_type = e_ck.schema["src"].dataType
    cols = {"s": all_nodes[ss], "node": all_nodes[vv], "dist": dd, "sigma": gg}
    fields = [
        StructField("s", node_type),
        StructField("node", node_type),
        StructField("dist", LongType()),
        StructField("sigma", LongType()),
    ]
    if with_delta:
        cols["delta"] = tt
        fields.append(StructField("delta", DoubleType()))
    return _kernel_frame(edges.sparkSession, cols, StructType(fields))


def _bfs_path_counts_with_levels(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    _prepared_e: DataFrame | None = None,
) -> tuple[DataFrame, list[DataFrame], list[int]]:
    """:func:`bfs_path_counts` plus the per-level frontier slices.

    Returns ``(state, levels, counts)`` where ``levels[k]`` is the
    already-localCheckpointed level-k frontier (s, node, dist, sigma) and
    ``counts[k]`` its driver-tracked row count — BFS levels are
    contiguous, so an exhausted search just yields a shorter list. The
    backward Brandes pass (:func:`brandes_dependencies`) reuses these
    slices instead of re-filtering the full state per level, and uses the
    counts to bound its per-level broadcasts; it is the only intended
    caller (ADVICE r07: the levels/ownership contract lives here so the
    public function stays DataFrame-only).

    ``_prepared_e`` lets a caller that also needs the (src, dst)
    repartitioned+persisted edge table (the backward pass) share ONE
    materialization instead of deriving the edge list twice — the caller
    then owns the unpersist.
    """
    e = _prepared_e if _prepared_e is not None else _salted_edges(edges, src, dst)
    state = sources.select(
        F.col("node").alias("s"),
        F.col("node"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1).cast("long").alias("sigma"),
    ).localCheckpoint(eager=False)
    # ONE blocking job per level: lazy checkpoint + the count doubles as
    # the emptiness probe; state count tracked driver-side so the
    # settled-|V| shortcut (skip the final empty-verify expansion — it
    # joins 90% of state on the betweenness probe) costs zero jobs.
    n_sources = state.count()
    state_count = n_sources
    frontier = state
    fr_count = n_sources
    levels = [state]
    counts = [n_sources]
    n_nodes = None
    for k in range(iters):
        if k > 0:
            if n_nodes is None:
                n_nodes = _node_count(e)
            if state_count == n_sources * n_nodes:
                break  # settled-|V| shortcut (see _all_settled)
        # broadcast the driver-count-bounded frontier / settled set (see
        # _frontier_expand) — the persisted edge table streams in place
        # instead of re-shuffling every level
        cand = (
            _frontier_expand(e, frontier, fr_count)
            .select("s", F.col("dst").alias("node"), "sigma")
            .groupBy("s", "node")
            .agg(F.sum("sigma").cast("long").alias("sigma"))
            .select("s", "node", F.lit(k + 1).cast("long").alias("dist"), "sigma")
        )
        frontier = cand.join(
            _bcast_if(state.select("s", "node"), state_count),
            ["s", "node"],
            "left_anti",
        ).localCheckpoint(eager=False)
        n_new = frontier.count()
        if n_new == 0:
            break
        state_count += n_new
        fr_count = n_new
        state = state.unionByName(frontier)
        levels.append(frontier)
        counts.append(n_new)
    if _prepared_e is None:
        e.unpersist(False)
    return state, levels, counts


def brandes_dependencies(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    parts: int | None = None,
) -> DataFrame:
    """Brandes dependency accumulation (the backward half of betweenness
    centrality) over the ``iters``-bounded shortest-path DAG: for every
    (source, node) reached by :func:`bfs_path_counts`,

        delta(v) = sum over successors w of (sigma_v / sigma_w) * (1 + delta_w)

    where successors are neighbors exactly one BFS level deeper. Levels
    run from the horizon downward; nodes AT the horizon get delta = 0
    (k-bounded betweenness semantics — paths longer than ``iters`` do
    not contribute, the standard truncation for centrality probes).

    Portability: sigma ratios are single correctly-rounded divisions
    over exact BIGINTs, and each node's successor sum runs as a
    PINNED-ORDER fold (successor-id-sorted), so every delta — and any
    fold over deltas — is bit-identical across engines. Each level is
    one equi-join + one grouped fold; state is (source, node) keyed, so
    the probe-set posture bounds it exactly like the forward pass.

    Cost discipline (VERDICT r06 task 2): the forward pass exposes its
    per-level frontier slices (already eagerly checkpointed), so the
    backward pass joins tiny level slices directly instead of filtering
    the full persisted state twice per level; ``dist``/``sigma`` ride
    along through the delta chain, so the final full-state join is gone
    — the output is just the union of the per-level delta frames.
    """
    fast = _brandes_driver(edges, sources, iters, src, dst, with_delta=True)
    if fast is not None:
        return fast
    # ONE edge materialization for both passes: the salted (src, _slt)
    # repartitioned + persisted table feeds the forward frontier joins,
    # then gets column-aliased for the backward successor joins (a select
    # on a persisted frame keeps the cache AND the partitioning).
    e_fwd = _salted_edges(edges, src, dst, parts=parts)
    _, levels, counts = _bfs_path_counts_with_levels(
        edges, sources, iters=iters, src=src, dst=dst, _prepared_e=e_fwd
    )
    e = e_fwd.select(
        F.col("src").alias("e_src"), F.col("dst").alias("e_dst"), "_slt"
    )

    def _lvl(k: int) -> DataFrame:
        # BFS levels are contiguous: a missing level means the search
        # exhausted — an empty slice, which propagates delta=0 downward
        # exactly like the state.filter(dist==k) form did.
        return levels[k] if k < len(levels) else levels[0].limit(0)

    def _cnt(k: int) -> int:
        return counts[k] if k < len(counts) else 0

    # Start the backward pass at the DEEPEST REACHED level, not the
    # nominal horizon: when BFS exhausted at level L < iters, every level
    # above L is empty, so each skipped round would join empty frames and
    # pay an eager checkpoint job for nothing. Nodes at L get delta = 0
    # either way (their successor level is empty → the left-join coalesce
    # yields 0.0, exactly the horizon seeding) — output identical.
    start = min(iters, len(levels) - 1)
    # horizon nodes carry delta = 0 (k-bounded truncation)
    delta = _lvl(start).withColumn("delta", F.lit(0.0))
    out = delta
    for k in range(start - 1, -1, -1):
        succ_lvl = delta.select(
            F.col("s").alias("w_s"),
            F.col("node").alias("w_node"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        cur = _lvl(k)
        cnt_k = _cnt(k)
        # the current level slice and the successor delta slice are both
        # driver-count-bounded: broadcast them so the persisted edge table
        # streams in place instead of re-shuffling per level (see
        # _frontier_expand; same matched-multiset argument). Fallback to
        # the salted shuffle join above the bound.
        if cnt_k <= FRONTIER_BCAST_MAX:
            curr = _bcast_if(cur.select("s", "node", "sigma"), cnt_k)
            expanded = curr.join(e, curr["node"] == e["e_src"]).drop("_slt")
        else:
            curr = _replicated(cur.select("s", "node", "sigma"))
            expanded = curr.join(
                e,
                (curr["node"] == e["e_src"]) & (curr["_slt"] == e["_slt"]),
            ).drop("_slt")
        contrib = (
            expanded
            .join(
                _bcast_if(succ_lvl, _cnt(k + 1)),
                (F.col("w_s") == F.col("s")) & (F.col("w_node") == F.col("e_dst")),
            )
            .select(
                "s",
                "node",
                F.struct(
                    F.col("w_node"),
                    (
                        (F.col("sigma").cast("double") / F.col("w_sigma").cast("double"))
                        * (F.lit(1.0) + F.col("w_delta"))
                    ).alias("term"),
                ).alias("st"),
            )
            .groupBy("s", "node")
            .agg(
                F.aggregate(
                    F.sort_array(F.collect_list("st")),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ).alias("delta")
            )
        )
        delta = (
            # contrib is grouped by (s, node) within level k, so its row
            # count is bounded by the level's tracked count
            cur.join(_bcast_if(contrib, cnt_k), ["s", "node"], "left")
            .select(
                "s", "node", "dist", "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            # LAZY: each level still checkpoints (it is referenced by both
            # the union below and the next round's successor join — the
            # multiplicative-lineage rule), but materialization is deferred
            # to the single count below, which computes the whole backward
            # chain as ONE cascading job instead of one blocking job per
            # level (8 driver round-trips → 1).
            .localCheckpoint(eager=False)
        )
        out = out.unionByName(delta)
    out = out.localCheckpoint(eager=False)
    # materialize the full backward chain BEFORE unpersisting the salted
    # edge table (lazy checkpoints would otherwise recompute the joins
    # from un-cached edges at the caller's first action).
    out.count()
    e_fwd.unpersist(False)
    return out


def bellman_ford_bounded(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Bounded-hop weighted shortest paths (Bellman-Ford): after round k,
    dist(source, v) is the exact minimum total edge weight over paths of
    at most k edges — BIGINT weights, so every distance is exact.

    Queue-optimized relaxation: only nodes whose distance IMPROVED last
    round re-enter the edge join (new discoveries or cheaper paths) —
    the classic SPFA refinement, which preserves the <=k-edge invariant
    because every improvement propagates in the following round. Unlike
    BFS, a settled node can improve again, so the frontier is
    "improved", not "first reached"; state rows are REPLACED via
    anti-join + union rather than only appended. Probe-set posture as
    the other per-source operators; rounds eager-checkpoint (state is
    referenced by the expansion, the improvement filter, and the
    replacement — multiplicative lineage, k-core rule).
    """
    # Scale-adaptive: driver kernel under the graph bounds (synchronous
    # k-round int64 relaxation == the SPFA fixpoint the oracle unrolls —
    # every improvement propagates the following round on both forms).
    e_ck = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
    ).localCheckpoint(eager=True)
    got = _driver_graph_collect(e_ck, e_ck.count(), sources, payload="w")
    if got is not None:
        from clinical_api_etl_spark.operators import graphkernel as K
        from pyspark.sql.types import LongType, StructField, StructType

        srcid, dstid, ww, all_nodes, n_graph, scodes = got
        ss, vv, dd = K.relax_min_kernel(
            srcid, dstid, ww, n_graph, scodes, iters, temporal=False
        )
        node_type = e_ck.schema["src"].dataType
        return _kernel_frame(
            edges.sparkSession,
            {"s": all_nodes[ss], "node": all_nodes[vv], "dist": dd},
            StructType(
                [
                    StructField("s", node_type),
                    StructField("node", node_type),
                    StructField("dist", LongType()),
                ]
            ),
        )
    e = _salted_edges(e_ck, "src", "dst", extra=(F.col("w"),))
    state = sources.select(
        F.col("node").alias("s"), F.col("node"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = state
    # driver-tracked bounds for the per-round broadcasts (_frontier_expand):
    # fr_count is exact (each improved set is counted); state_bound is an
    # UPPER bound — state rows only grow by new discoveries, and every
    # discovery appears in some improved set, so seeds + Σ improved ≥ |state|
    # (replacements over-count, which is safe for a broadcast bound).
    fr_count = state.count()
    state_bound = fr_count
    for _ in range(iters):
        cand = (
            _frontier_expand(e, frontier, fr_count)
            .select("s", F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
            .groupBy("s", "node")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
        old = state.select("s", "node", F.col("dist").alias("old_dist"))
        # lazy checkpoint + count = one blocking job for materialize +
        # emptiness probe (was eager checkpoint + isEmpty = two jobs)
        improved = (
            cand.join(_bcast_if(old, state_bound), ["s", "node"], "left")
            .filter(F.col("old_dist").isNull() | (F.col("dist") < F.col("old_dist")))
            .select("s", "node", "dist")
            .localCheckpoint(eager=False)
        )
        fr_count = improved.count()
        if fr_count == 0:
            break
        state_bound += fr_count
        state = (
            state.join(
                _bcast_if(improved.select("s", "node"), fr_count),
                ["s", "node"],
                "left_anti",
            )
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist(False)
    return state


def _reach_fixpoint(es: DataFrame, seeds: DataFrame) -> DataFrame:
    """Tagged multi-source reachable sets (p, node) over a salted edge
    table, BFS to FIXPOINT (no hop bound — termination is the anti-join
    against the settled set; rounds = max pivot eccentricity, small on
    the dense interaction graph). ``seeds`` carries (p, node) start rows;
    pivots in different weak components never meet, so the tagged state
    stays ≤ |V| rows when seeds are one-per-weak-component. ``es`` is a
    ``_salted_edges`` table; to traverse backward, pass one built with
    src/dst swapped (the salt is a function of the probe side either
    way, so the hub-skew discipline holds in both directions). ``seeds``
    must already be checkpointed/materialized by the caller (both
    callers per pivot round share one seed materialization)."""
    reach = seeds
    frontier = reach
    # seeds are caller-checkpointed, so this count is cheap; it seeds the
    # driver-tracked bounds for the per-level broadcasts (_frontier_expand)
    fr_count = seeds.count()
    reach_count = fr_count
    while True:
        # ONE blocking job per level: lazy checkpoint materialized by the
        # count that doubles as the emptiness probe. reach stays a lazy
        # UNION of already-materialized frontier layers (shallow lineage —
        # unions of checkpointed RDDs cost nothing to re-traverse, unlike
        # the k-core multiplicative-JOIN lineage that rule targets).
        nxt = (
            _frontier_expand(es, frontier, fr_count)
            .select("p", F.col("dst").alias("node"))
            .distinct()
            .join(_bcast_if(reach, reach_count), ["p", "node"], "left_anti")
            .localCheckpoint(eager=False)
        )
        fr_count = nxt.count()
        if fr_count == 0:
            return reach
        reach_count += fr_count
        reach = reach.unionByName(nxt)
        frontier = nxt


def _weak_cc_labels(
    e: DataFrame, driver_max_edges: int = DRIVER_CC_MAX_EDGES
) -> DataFrame:
    """(node, wcc) weak-component labels of a directed (src, dst) edge
    list; wcc = the component's minimum node id — which is therefore a
    valid FW-BW pivot AND the minimum of its own SCC. Scale-adaptive like
    :func:`connected_components`: driver union-find (type-preserving —
    long ids since the scc factorization, strings from direct callers)
    under ``DRIVER_CC_MAX_EDGES``; above it, TWO pointer-jumping
    min-propagation rounds followed by a driver union-find over the
    CONTRACTED distinct cross-label pair set (exactness argued at the
    contraction site below), with the full distributed fixpoint loop as
    the fallback when even the contracted pair set exceeds the driver
    bound."""
    if e.limit(driver_max_edges + 1).count() <= driver_max_edges:
        import pandas as pd

        pdf = e.select("src", "dst").toPandas()
        from pyspark.sql.types import StructField, StructType

        node_type = e.schema["src"].dataType  # type-preserving (long ids
        # since the scc factorization; strings from any direct caller)
        schema = StructType(
            [StructField("node", node_type), StructField("wcc", node_type)]
        )
        if len(pdf) == 0:
            return e.sparkSession.createDataFrame(
                pd.DataFrame({"node": [], "wcc": []}), schema
            )
        # Vectorized min-label union-find (see _np_min_labels — this
        # path is paid UPFRONT by every scc_components run since the
        # multi-pivot rewrite, so it must be numpy-speed).
        uniq, lab = _np_min_labels(
            pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        )
        # pandas frame -> Arrow createDataFrame (a plain tuple list pays
        # per-row driver serialization — measurable at |V| ~ 10^5+)
        out = pd.DataFrame({"node": uniq, "wcc": uniq[lab]})
        return e.sparkSession.createDataFrame(out, schema)
    sym = symmetrize(e).distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("wcc", F.col("node"))
        .localCheckpoint(eager=True)
    )

    def _round(labels: DataFrame) -> DataFrame:
        """One min-propagation round with POINTER JUMPING: fold in both
        the neighbor minima and l(l(v)) — label values are node ids, so
        one |V|-row self-join per round squares the distance a label
        travels (O(log d) rounds instead of O(diameter)). Labels only
        decrease; the fixpoint of min(self, neighbors, jump) is the same
        component-min fixpoint plain min-propagation reaches."""
        nbr = sym.join(labels, sym["dst"] == labels["node"]).select(
            sym["src"].alias("node"), F.col("wcc")
        )
        jump = labels.alias("a").join(
            labels.alias("b"), F.col("a.wcc") == F.col("b.node")
        ).select(F.col("a.node").alias("node"), F.col("b.wcc").alias("wcc"))
        return (
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("node")
            .agg(F.min("wcc").alias("wcc"))
            .localCheckpoint(eager=False)
        )

    # CONTRACT-THEN-FINISH (the big cost cut): two bounded propagation
    # rounds shrink the label set (each label = min over a 2-hop-plus-jump
    # neighborhood), then the residual merging collapses to the DISTINCT
    # cross-label pair set — typically orders of magnitude below |E| —
    # which a driver union-find finishes exactly. Exactness: every partial label is
    # >= its component's min node M, and M keeps label M, so the min
    # representative of each label-graph component IS M; composing
    # node -> partial -> root therefore reproduces the exact min-label
    # fixpoint the full loop computes (hashes unchanged). Driver work is
    # bounded by DRIVER_CC_MAX_EDGES; above it, fall back to looping the
    # distributed round to fixpoint.
    for _ in range(2):
        labels = _round(labels)
        labels.count()  # materialize the lazy checkpoint
    pairs = (
        sym.join(
            labels.select(F.col("node").alias("src"), F.col("wcc").alias("la")),
            "src",
        )
        .join(
            labels.select(F.col("node").alias("dst"), F.col("wcc").alias("lb")),
            "dst",
        )
        .filter(F.col("la") != F.col("lb"))
        .select("la", "lb")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if pairs.limit(DRIVER_CC_MAX_EDGES + 1).count() <= DRIVER_CC_MAX_EDGES:
        pdf = pairs.toPandas()
        parent: dict = {}

        def find2(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["la"].tolist(), pdf["lb"].tolist()):
            ra, rb = find2(a), find2(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = [(l, find2(l)) for l in parent if find2(l) != l]
        from pyspark.sql.types import StructField, StructType

        node_type = e.schema["src"].dataType
        root_df = e.sparkSession.createDataFrame(
            roots,
            StructType(
                [StructField("wcc", node_type), StructField("_root", node_type)]
            ),
        )
        # plain join — AQE broadcasts when the merge map is small; the
        # root map can approach DRIVER_CC_MAX_EDGES rows, so no hint
        return labels.join(root_df, "wcc", "left").select(
            "node", F.coalesce("_root", "wcc").alias("wcc")
        )
    while True:  # label-pair graph still too large — loop to fixpoint
        new = _round(labels)
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.wcc") != F.col("o.wcc"))
            .limit(1)
            .count()
        )
        labels = new
        if changed == 0:
            return labels


def _restrict_edges(
    e: DataFrame, nodes: DataFrame, n_nodes: int | None = None
) -> DataFrame:
    """Edges with BOTH endpoints in ``nodes`` (column ``node``), eagerly
    checkpointed — every outer SCC round re-restricts, so lineage must
    not accumulate across rounds. ``n_nodes`` (caller-tracked) bounds a
    broadcast of the node set for both semi-joins (see _frontier_expand's
    rationale — checkpointed node sets carry no size stats)."""
    return (
        e.join(
            _bcast_if(nodes.select(F.col("node").alias("src")), n_nodes),
            "src",
            "left_semi",
        )
        .join(
            _bcast_if(nodes.select(F.col("node").alias("dst")), n_nodes),
            "dst",
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )


def scc_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(node, scc_id) strongly-connected-component labels — the public
    DataFrame face of :func:`scc_artifacts` (see there for the algorithm
    and scale notes)."""
    return scc_artifacts(edges, src=src, dst=dst, max_rounds=max_rounds)[
        "labels"
    ]


#: Edge-count ceiling for the driver-side SCC fast path. The canonical
#: labeling (scc_id = MIN node id of the component) is ALGORITHM-
#: INDEPENDENT and all-integer, so any correct SCC algorithm produces
#: bit-identical output — the driver path runs iterative Kosaraju over
#: dense int codes (O(V+E), two passes). 16M edges ≈ 2×16M longs + the
#: string endpoints ≈ low-GB driver footprint — the same bounded-collect
#: posture as the weak-CC fast path (which already collects the SAME
#: edge list at 4M for every in-bound scc run). Above the bound: the
#: distributed FW-BW + trimming loop, which is the 100-TB path.
DRIVER_SCC_MAX_EDGES = 16_000_000


def _py_scc_min_labels(srcid, dstid, n: int):
    """Iterative Kosaraju over dense 0..n-1 int codes: returns ``comp``
    where ``comp[v]`` is the MINIMUM member code of v's strongly
    connected component. Pure integer work — no floats anywhere."""
    import numpy as np

    def csr(s, d):
        order = np.argsort(s, kind="stable")
        ds = d[order]
        counts = np.bincount(s, minlength=n)
        starts = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=starts[1:])
        return starts, ds

    f_starts, f_dst = csr(srcid, dstid)
    r_starts, r_dst = csr(dstid, srcid)
    visited = np.zeros(n, dtype=bool)
    ptr = f_starts[:-1].copy()  # per-node next-edge cursor (pass 1)
    finish = np.empty(n, dtype=np.int64)
    nf = 0
    for root in range(n):
        if visited[root]:
            continue
        visited[root] = True
        stack = [root]
        while stack:
            v = stack[-1]
            advanced = False
            p = ptr[v]
            end = f_starts[v + 1]
            while p < end:
                w = f_dst[p]
                p += 1
                if not visited[w]:
                    visited[w] = True
                    ptr[v] = p
                    stack.append(w)
                    advanced = True
                    break
            if not advanced:
                ptr[v] = p
                finish[nf] = v
                nf += 1
                stack.pop()
    comp = np.full(n, -1, dtype=np.int64)
    for i in range(n - 1, -1, -1):
        v = finish[i]
        if comp[v] != -1:
            continue
        comp[v] = v
        members = [v]
        stack = [v]
        while stack:
            u = stack.pop()
            for j in range(r_starts[u], r_starts[u + 1]):
                w = r_dst[j]
                if comp[w] == -1:
                    comp[w] = v
                    stack.append(w)
                    members.append(w)
        mn = min(members)
        if mn != v:
            for u in members:
                comp[u] = mn
    return comp


def _scc_artifacts_driver(e_raw: DataFrame) -> dict:
    """Driver-side SCC artifacts for edge lists under
    :data:`DRIVER_SCC_MAX_EDGES` — same artifact contract as the
    distributed path (labels / labels_l / nid / e), identical values:
    the nid map is the identical rank-by-node-order factorization
    (python str comparison == Spark's UTF8 binary order — UTF-8 is
    code-point-order-preserving, the `_np_min_labels` equivalence the
    weak-CC fast path already relies on), and the labeling is the
    canonical min-node-id per component."""
    import numpy as np
    import pandas as pd

    spark = e_raw.sparkSession
    node_type = e_raw.schema["src"].dataType
    from pyspark.sql.types import LongType, StructField, StructType

    nid_schema = StructType(
        [StructField("node", node_type), StructField("nid", LongType())]
    )
    lab_schema = StructType(
        [StructField("node", node_type), StructField("scc_id", node_type)]
    )
    pdf = e_raw.select("src", "dst").toPandas()
    m = len(pdf)
    if m == 0:
        empty_ll = spark.createDataFrame(
            pd.DataFrame({"node": [], "scc_id": []}), "node long, scc_id long"
        )
        return {
            "labels": spark.createDataFrame(
                pd.DataFrame({"node": [], "scc_id": []}), lab_schema
            ),
            "labels_l": empty_ll,
            "nid": spark.createDataFrame(
                pd.DataFrame({"node": [], "nid": []}), nid_schema
            ),
            "e": spark.createDataFrame(
                pd.DataFrame({"src": [], "dst": []}), "src long, dst long"
            ),
        }
    allv = pd.concat([pdf["src"], pdf["dst"]], ignore_index=True)
    codes, uniq = pd.factorize(allv)  # O(n) hashing, first-seen order
    uniq = np.asarray(uniq, dtype=object)
    order = np.argsort(uniq)  # only |V| strings sorted
    rank = np.empty(len(uniq), dtype=np.int64)
    rank[order] = np.arange(len(uniq), dtype=np.int64)
    nids = rank[codes]
    srcid, dstid = nids[:m], nids[m:]
    sorted_nodes = uniq[order]
    n = len(uniq)
    comp = _py_scc_min_labels(srcid, dstid, n)
    sc_ = spark.sparkContext
    parts = max(2, min(sc_.defaultParallelism, m // 65536 + 1))
    nid = spark.createDataFrame(
        pd.DataFrame(
            {"node": sorted_nodes, "nid": np.arange(n, dtype=np.int64)}
        ),
        nid_schema,
    ).localCheckpoint(eager=True)
    e_full = (
        spark.createDataFrame(
            pd.DataFrame({"src": srcid, "dst": dstid}), "src long, dst long"
        )
        .repartition(parts)
        .localCheckpoint(eager=True)
    )
    labels_l = spark.createDataFrame(
        pd.DataFrame({"node": np.arange(n, dtype=np.int64), "scc_id": comp}),
        "node long, scc_id long",
    ).localCheckpoint(eager=True)
    labels = spark.createDataFrame(
        pd.DataFrame(
            {"node": sorted_nodes, "scc_id": sorted_nodes[comp]}
        ),
        lab_schema,
    )
    return {"labels": labels, "labels_l": labels_l, "nid": nid, "e": e_full}


def scc_artifacts(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> dict:
    """Strongly connected components of a DIRECTED edge list, returned as
    a dict of shared artifacts so the family of consumer queries
    (components / condensation / layers / bow-tie) can run their
    incremental passes on the SAME materialized internals instead of
    re-deriving them (VERDICT r10 task 1):

    - ``labels``   — (node, scc_id) in the caller's node type, where
      ``scc_id`` is the MINIMUM vertex id of the component — a canonical
      labeling independent of the algorithm, which is what makes the
      result oracle-able (the DuckDB oracle derives the identical
      labeling from a UNION-distinct recursive transitive closure, which
      Spark 4 cannot declare — UNION ALL only).
    - ``nid``      — (node, nid) the order-preserving dense LONG id map
      (eagerly checkpointed); min-nid == min-node, so consumers can take
      MINs on nids and translate at their output boundary.
    - ``e``        — the full long-keyed (src, dst) edge list (eagerly
      checkpointed) — consumers traverse/condense THIS, never re-joining
      the string mapping per pass.
    - ``labels_l`` — (node, scc_id) on LONG ids (eagerly checkpointed).

    Algorithm: FW-BW decomposition with recursive trimming (Fleischer/
    Hendrickson/Pinar 2000 — the standard parallel SCC):

    1. TRIM to fixpoint: a node with no in-edge or no out-edge *within
       the active subgraph* is a singleton SCC (any cycle through it
       would supply both). Each trim round is two distinct-projections +
       one anti-join; the fixpoint peels entire DAG tendrils (the IN/OUT
       sets of the web bowtie) in eccentricity-bounded rounds.
    2. PIVOT, one per WEAK component in parallel, ALL components from
       round 1 (VERDICT r10 task 1 — the lazy single-global-min first
       round cost a whole extra reach pass whenever the graph had >1
       weak component, e.g. shards or the 10x probe's copies): ONE
       weak-CC labeling (:func:`_weak_cc_labels`, scale-adaptive —
       driver union-find under the edge bound, else two pointer-jumping
       rounds + contracted-pair union-find) is computed on the
       POST-TRIM graph, and every pivot round seeds the min active node
       of every surviving label at once, so K regions decompose in O(1)
       rounds instead of K (the labels stay valid across rounds:
       components only split as SCCs are removed, and an SCC never
       spans weak components, so each seed is the minimum of its own
       SCC). On a single-component graph this degrades to the old
       global-min seeding plus the labeling cost — bounded, and far
       below the reach pass it saves in the multi-component case.
       Forward and backward reachable sets run as ONE tagged
       multi-source salted-frontier BFS each (EDGE_SALT discipline both
       directions — the backward pass runs on a src/dst-swapped salted
       table); per-pivot intersections are exactly the pivots' SCCs,
       removed together. Removal preserves every other SCC (an SCC's
       internal paths never leave it, so membership never depends on
       removed nodes).
    3. Repeat on the remainder.

    Outer rounds = max over weak components of (non-trivial SCCs in the
    component) + 1 — on interaction graphs the Broder bowtie shape (one
    giant SCC + tendrils) means ~2. ``max_rounds`` is a loud-failure
    backstop, not a truncation: raising means the graph has
    pathologically many chained non-trivial SCCs and the result would be
    INCOMPLETE, so we refuse rather than mislabel.

    Scale: state is (pivot, node) sets bounded by |V|; every step is an
    equi-join or distinct; edges re-restrict per outer round
    (checkpointed, never re-derived); the only collect is the
    scale-adaptive weak-CC fast path (same bound as
    ``connected_components``).
    """
    # ONE materialization of the caller's edge plan (usually an expensive
    # join+distinct): it feeds BOTH the node-set scan below and the long-id
    # factorization joins, and Spark performs no cross-branch CSE — the
    # unchecked form derived lineitem⋈orders+distinct twice (2.2s each at
    # sf0.1, round-11 dissection).
    e_raw = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    # Scale-adaptive driver fast path (see DRIVER_SCC_MAX_EDGES): the
    # count is one cheap job over the just-materialized checkpoint.
    if e_raw.count() <= DRIVER_SCC_MAX_EDGES:
        return _scc_artifacts_driver(e_raw)
    # ORDER-PRESERVING dense LONG ids for the hot loops: every level of
    # every reach pass (and the weak-CC labeling) scans/joins the edge
    # table ~20+ times, and the callers' node ids are strings ('c123') —
    # long keys hash/compare several times faster and cache smaller. The
    # mapping is rank-by-node-order, so min-nid == min-node EVERYWHERE
    # the algorithm takes a MIN (trim singleton labels, weak-CC labels,
    # pivot seeds, scc_id) and the final translation back restores the
    # exact original labeling — values and hashes unchanged by
    # construction. Rank is computed JVM-native and distributed: range
    # partition by node, per-partition row_number + driver-summed
    # offsets (P tiny counts). The old rdd.zipWithIndex path serialized
    # every node through Python (pickled rows + a python-built
    # DataFrame: 5.5s of the 14s sf0.1 run); range boundaries may vary
    # run to run, but offset+local-rank is the GLOBAL node-order rank
    # regardless of where the boundaries fall.
    nodes_raw = (
        e_raw.select(F.col("src").alias("node"))
        .unionByName(e_raw.select(F.col("dst").alias("node")))
        .distinct()
    )
    sc = edges.sparkSession.sparkContext
    nd = (
        nodes_raw.repartitionByRange(
            max(1, sc.defaultParallelism), "node"
        )
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["count"] for r in nd.groupBy("_pid").count().collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if not offsets:
        offsets = {0: 0}
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    from pyspark.sql.window import Window as _W

    nid = nd.select(
        "node",
        (
            F.row_number().over(_W.partitionBy("_pid").orderBy("node"))
            - 1
            + off_map[F.col("_pid")]
        ).cast("long").alias("nid"),
    ).localCheckpoint(eager=True)
    # |V| is driver-tracked (acc = Σ per-partition counts), so the nid
    # translation joins broadcast the bounded id map instead of
    # sort-merge-shuffling the edge table twice (checkpointed nid has no
    # size stats — the _frontier_expand rationale; falls back above the
    # broadcast bound).
    n_nodes_total = acc
    e = (
        e_raw.join(
            _bcast_if(
                nid.select(F.col("node").alias("src"), F.col("nid").alias("sid")),
                n_nodes_total,
            ),
            "src",
        )
        .join(
            _bcast_if(
                nid.select(F.col("node").alias("dst"), F.col("nid").alias("did")),
                n_nodes_total,
            ),
            "dst",
        )
        .select(F.col("sid").alias("src"), F.col("did").alias("dst"))
    )
    e_full = e.localCheckpoint(eager=True)
    e_act = e_full
    active = (
        e_act.select(F.col("src").alias("node"))
        .unionByName(e_act.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    active_count = active.count()
    parts: list[DataFrame] = []
    lab: DataFrame | None = None
    for _ in range(max_rounds):
        # --- 1. trim to fixpoint. Each round is TWO blocking jobs (was
        # four): the keep-set is ONE fused aggregation — union both
        # endpoint projections tagged has-out/has-in and group once —
        # instead of two distinct-projections + a join (three shuffles),
        # lazily checkpointed and materialized by its count; the trimmed
        # set's emptiness falls out of driver-side arithmetic
        # (keep ⊆ active, so trimmed empty ⟺ |keep| == |active|), and the
        # trimmed ROWS are lazy plans over already-materialized RDDs,
        # computed once in the final union job.
        while True:
            keep = (
                e_act.select(F.col("src").alias("node"), F.lit(1).alias("o"))
                .unionByName(
                    e_act.select(F.col("dst").alias("node"), F.lit(0).alias("o"))
                )
                .groupBy("node")
                .agg(F.max("o").alias("o"), F.min("o").alias("i"))
                .filter((F.col("o") == 1) & (F.col("i") == 0))
                .select("node")
                .localCheckpoint(eager=False)
            )
            keep_count = keep.count()
            if keep_count == active_count:
                break
            parts.append(
                active.join(_bcast_if(keep, keep_count), "node", "left_anti")
                .select("node", F.col("node").alias("scc_id"))
            )
            active = keep
            active_count = keep_count
            e_act = _restrict_edges(e_act, keep, keep_count)
        if active_count == 0:
            break
        # --- 2. FW-BW, pivots in parallel across weak components, ALL
        # components seeded from round 1 (one labeling, computed once on
        # the post-trim graph; valid across rounds — components only
        # split as SCCs are removed, and an SCC never spans weak
        # components — so later rounds just re-minimize per label over
        # the surviving active set).
        if lab is None:
            # 4x the generic driver bound for THIS call: the labeling is
            # collected once per scc run (2 longs/row ≈ 64 MB at the cap)
            # and the distributed fallback's pointer-jump rounds would
            # cost more than one saved reach pass at mid scales; beyond
            # the cap the contract-then-finish fallback still applies
            lab = _weak_cc_labels(e_act, driver_max_edges=4 * DRIVER_CC_MAX_EDGES)
        seeds = (
            # lab has one row per post-trim node — bounded by the tracked
            # total node count, so the pivot-seed join broadcasts it
            active.join(_bcast_if(lab, n_nodes_total), "node")
            .groupBy("wcc")
            .agg(F.min("node").alias("p"))
            .select("p", F.col("p").alias("node"))
            .localCheckpoint(eager=True)
        )
        es_f = _salted_edges(e_act, "src", "dst")
        es_b = _salted_edges(e_act, "dst", "src")
        # The two reach passes are independent until the intersection, and
        # each is a chain of SMALL blocking rounds that leaves most of the
        # cluster idle — run them from two driver threads so their rounds
        # interleave (guide §2.6 overlap; wall-clock ≈ max instead of sum:
        # 4.1s + 2.7s → ~4s measured at sf0.1). Results are plain
        # checkpointed frames; nothing about the trajectory changes.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fut_f = pool.submit(_reach_fixpoint, es_f, seeds)
            fut_b = pool.submit(_reach_fixpoint, es_b, seeds)
            fwd = fut_f.result()
            bwd = fut_b.result()
        # ONE blocking job closes the round: scc and the shrunken active
        # set are lazy checkpoints materialized together by the active
        # count (scc is referenced once inside that job; the final parts
        # union reads its stored copy). fwd/bwd are unions of already-
        # checkpointed frontiers, so unpersisting the salted edge tables
        # before the join is safe.
        scc = fwd.join(bwd, ["p", "node"]).localCheckpoint(eager=False)
        es_f.unpersist(False)
        es_b.unpersist(False)
        parts.append(scc.select("node", F.col("p").alias("scc_id")))
        active = active.join(
            scc.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=False)
        active_count = active.count()
        if active_count == 0:
            break
        e_act = _restrict_edges(e_act, active, active_count)
    else:
        raise RuntimeError(
            f"scc_components did not converge in {max_rounds} rounds: "
            "the graph has more non-trivial SCCs than the backstop allows "
            "(raise max_rounds; the result would otherwise be incomplete)"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # lazy checkpoint: the first consumer action materializes it once
    # (an eager checkpoint here would be an extra blocking job on the
    # scc_components path, which immediately re-traverses it anyway)
    labels_l = out.localCheckpoint(eager=False)
    # translate the long ids back to the caller's node values (both the
    # member column and the min-id label — order preservation makes the
    # translated labels identical to an all-string run)
    labels = (
        labels_l.join(
            _bcast_if(
                nid.select(F.col("nid").alias("node"), F.col("node").alias("_n")),
                n_nodes_total,
            ),
            "node",
        )
        .join(
            _bcast_if(
                nid.select(
                    F.col("nid").alias("scc_id"), F.col("node").alias("_s")
                ),
                n_nodes_total,
            ),
            "scc_id",
        )
        .select(F.col("_n").alias("node"), F.col("_s").alias("scc_id"))
    )
    return {"labels": labels, "labels_l": labels_l, "nid": nid, "e": e_full}


def temporal_earliest_arrival(
    edges: DataFrame,
    sources: DataFrame,
    *,
    iters: int = 4,
    src: str = "src",
    dst: str = "dst",
    t: str = "t",
) -> DataFrame:
    """Bounded-hop TIME-RESPECTING reachability (temporal graph earliest
    arrival): edges are timestamped contacts (src, dst, t), and a path is
    valid only if contact times never decrease along it — the contagion /
    information-flow semantics a static reachability over the same edges
    OVERSTATES (it happily routes through a contact that happened before
    the node was reached). After round k, arr(source, v) is the exact
    minimum arrival time over time-respecting paths of at most k contacts.

    Same improved-frontier discipline as :func:`bellman_ford_bounded` —
    an edge (u, v, t) relaxes to arrival t when t >= arr(u), and an
    IMPROVED (smaller) arr(u) can unlock earlier paths through u, so
    improved rows re-enter the join and state rows are REPLACED via
    anti-join + union. Times are exact BIGINTs (epoch days), so the whole
    state hash-gates against an unrolled full-relaxation oracle — the
    hash IS the SPFA-fixpoint equivalence proof, as with Bellman-Ford.
    """
    # Scale-adaptive: driver kernel under the graph bounds (synchronous
    # k-round earliest-arrival relaxation over exact int64 times).
    e_ck = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(t).cast("long").alias("t"),
    ).localCheckpoint(eager=True)
    got = _driver_graph_collect(e_ck, e_ck.count(), sources, payload="t")
    if got is not None:
        from clinical_api_etl_spark.operators import graphkernel as K
        from pyspark.sql.types import LongType, StructField, StructType

        srcid, dstid, tt, all_nodes, n_graph, scodes = got
        ss, vv, aa = K.relax_min_kernel(
            srcid, dstid, tt, n_graph, scodes, iters, temporal=True
        )
        node_type = e_ck.schema["src"].dataType
        return _kernel_frame(
            edges.sparkSession,
            {"s": all_nodes[ss], "node": all_nodes[vv], "arr": aa},
            StructType(
                [
                    StructField("s", node_type),
                    StructField("node", node_type),
                    StructField("arr", LongType()),
                ]
            ),
        )
    e = _salted_edges(e_ck, "src", "dst", extra=(F.col("t"),))
    state = sources.select(
        F.col("node").alias("s"), F.col("node"), F.lit(0).cast("long").alias("arr")
    ).localCheckpoint(eager=True)
    frontier = state
    # same driver-tracked broadcast bounds as bellman_ford_bounded: the
    # time-respecting filter (t >= arr) rides the expansion join's payload
    # either way, so the matched multiset is unchanged by the join strategy
    fr_count = state.count()
    state_bound = fr_count
    for _ in range(iters):
        cand = (
            _frontier_expand(e, frontier, fr_count)
            .filter(F.col("t") >= F.col("arr"))
            .select("s", F.col("dst").alias("node"), F.col("t").alias("arr"))
            .groupBy("s", "node")
            .agg(F.min("arr").cast("long").alias("arr"))
        )
        old = state.select("s", "node", F.col("arr").alias("old_arr"))
        # lazy checkpoint + count = one blocking job for materialize +
        # emptiness probe (was eager checkpoint + isEmpty = two jobs)
        improved = (
            cand.join(_bcast_if(old, state_bound), ["s", "node"], "left")
            .filter(F.col("old_arr").isNull() | (F.col("arr") < F.col("old_arr")))
            .select("s", "node", "arr")
            .localCheckpoint(eager=False)
        )
        fr_count = improved.count()
        if fr_count == 0:
            break
        state_bound += fr_count
        state = (
            state.join(
                _bcast_if(improved.select("s", "node"), fr_count),
                ["s", "node"],
                "left_anti",
            )
            .unionByName(improved)
            .localCheckpoint(eager=True)
        )
        frontier = improved
    e.unpersist(False)
    return state


def dag_layers(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node: str = "scc_id",
    src: str = "a",
    dst: str = "b",
    max_rounds: int = 64,
) -> DataFrame:
    """Longest-path (Kahn) layering of a DAG: ``(node, layer)`` where
    ``layer`` = longest path length from any in-degree-0 source — the
    stage schedule of a dependency graph. Peels in-degree-0 nodes per
    round via a left-anti frontier; rounds are bounded by DAG depth.
    State tables are checkpointed per round (they shrink monotonically).
    Raises ``ValueError`` if nodes remain after ``max_rounds`` or after a
    round with an empty frontier but nonempty remainder (a cycle —
    callers feed condensations, which are acyclic by construction).
    """
    # ONE blocking job per layer: every state table is a LAZY checkpoint
    # materialized inside the next frontier count (each is referenced
    # exactly once per round), and convergence/cycle checks are driver
    # arithmetic on the tracked remaining-node count.
    rem_nodes = nodes.select(F.col(node)).distinct().localCheckpoint(eager=False)
    rem_edges = edges.select(src, dst).localCheckpoint(eager=False)
    rem_count = rem_nodes.count()
    layers: list[DataFrame] = []
    for layer in range(max_rounds):
        dsts = rem_edges.select(F.col(dst).alias(node)).distinct()
        frontier = rem_nodes.join(dsts, node, "left_anti").localCheckpoint(
            eager=False
        )
        n_front = frontier.count()
        if n_front == 0:
            if rem_count > 0:
                raise ValueError("dag_layers: cycle detected (empty frontier)")
            break
        layers.append(
            frontier.select(node, F.lit(layer).cast("long").alias("layer"))
        )
        rem_count -= n_front
        # driver-count-bounded frontier broadcasts for the peel anti-joins
        # (checkpointed frames carry no size stats — _frontier_expand note)
        fr_b = _bcast_if(frontier, n_front)
        rem_nodes = rem_nodes.join(fr_b, node, "left_anti").localCheckpoint(
            eager=False
        )
        rem_edges = rem_edges.join(
            _bcast_if(frontier.select(F.col(node).alias(src)), n_front),
            src,
            "left_anti",
        ).localCheckpoint(eager=False)
    else:
        if rem_count > 0:
            raise ValueError("dag_layers: max_rounds exhausted")
    if not layers:
        return rem_nodes.select(
            F.col(node), F.lit(0).cast("long").alias("layer")
        ).limit(0)
    out = layers[0]
    for extra in layers[1:]:
        out = out.unionByName(extra)
    return out


def reachable_set(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    max_rounds: int = 64,
) -> DataFrame:
    """Set of nodes reachable from ANY seed (seeds included): plain
    frontier BFS over a directed edge list with no per-source state —
    the cheap reachability primitive behind bow-tie classification.
    Frontier-only expansion (only last round's discoveries join the
    edges), left-anti against the settled set; state checkpointed per
    round. Output: one ``node`` column."""
    # ONE blocking job per level (lazy checkpoint + count-as-probe);
    # state stays a lazy union of materialized frontier layers.
    state = seeds.select(F.col(node)).distinct().localCheckpoint(eager=True)
    frontier = state
    # driver-tracked broadcast bounds (checkpointed frontiers carry no
    # size stats — see _frontier_expand's rationale)
    fr_count = state.count()
    state_count = fr_count
    for _ in range(max_rounds):
        nxt = (
            edges.join(
                _bcast_if(frontier.select(F.col(node).alias(src)), fr_count), src
            )
            .select(F.col(dst).alias(node))
            .distinct()
            .join(_bcast_if(state, state_count), node, "left_anti")
            .localCheckpoint(eager=False)
        )
        fr_count = nxt.count()
        if fr_count == 0:
            break
        state_count += fr_count
        state = state.unionByName(nxt)
        frontier = nxt
    else:
        # Mirror dag_layers' exhaustion guard: a nonempty final frontier
        # means the BFS has NOT converged — returning the partial set
        # would silently misclassify reachable nodes downstream.
        raise ValueError("reachable_set: max_rounds exhausted")
    return state
