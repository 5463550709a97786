"""Graph analytics over pair lists (near-duplicate graphs, entity links).

The dedup chain (operators/dedup.py) produces edge lists; these operators
answer structural questions about them — how clustered is the duplicate
graph (triangles), which nodes are central (PageRank) — using only
DataFrame joins and aggregations, so they run wherever the pair
generation ran. Connected components live in operators/dedup.py
(label propagation + Kiveris large-star/small-star).

Float discipline: PageRank's per-node sum is the classic
order-dependent reduction, so each edge's contribution is nano-quantized
to int64 BEFORE summation — integer sums are exact and associative,
making every iteration (and therefore the fixpoint trajectory) identical
under any partitioning and replayable by any engine from the same
quantization rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize, materialize_observed


def triangle_counts(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Per-node triangle participation counts over an undirected edge
    list (canonical orientation ``id_a < id_b``, no duplicates).

    Each triangle a<b<c is enumerated exactly once by the two-join
    pattern (a,b)⋈(b,c)⋈(a,c); per-node counts then follow from
    exploding each triangle's three corners into one aggregation.
    Triangle density separates clique-like duplicate clusters (high
    support — safe to collapse) from chain-shaped false-positive runs
    (zero support — review before deleting).

    Scale shape: two hash-join shuffles on single node keys plus one
    count aggregate. The id-orientation is the degree-splitting trick's
    simple cousin; for power-law graphs re-orient edges
    low-degree → high-degree first so the join fan-out is bounded by
    arboricity (standard MapReduce triangle counting; our near-dup
    graphs are small-component by construction so id-order suffices)."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct()
    ab = e.select(F.col("a"), F.col("b"))
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    tri = (
        ab.join(bc, on="b")
        .join(
            ac,
            (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
        )
        .select("a", "b", "c")
    )
    corners = (
        tri.select(F.col("a").alias("id"))
        .unionAll(tri.select(F.col("b").alias("id")))
        .unionAll(tri.select(F.col("c").alias("id")))
    )
    return corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank_quantized(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected pair graph, with a
    DETERMINISTIC iteration rule: every edge contribution
    ``r(src)/deg(src)`` is nano-quantized to int64 before the per-node
    sum, so the reduction is an exact integer sum (associative,
    partitioning-independent) and the whole trajectory — not just the
    final ranks — is bitwise-reproducible and replayable in SQL. Ranks
    start at 1.0 (the un-normalized convention: scores sum to ~N);
    ``r' = (1-d) + d·(Σ q(r/deg))/1e9``.

    Scale shape: the degree-annotated edge list is built once and
    materialized (``localCheckpoint`` — it is re-joined every
    iteration, and re-deriving it would replay the full upstream pair
    generation per round); each iteration is one hash join
    (edges ⋈ ranks on src) and one aggregation (sum by dst), both
    shuffling on a single node-id key. Symmetric edges mean no dangling
    nodes. Rank tables are node-sized, far below edge-sized, so at
    100 TB the per-iteration shuffle is the smaller relation."""
    sym = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges = materialize(sym.join(deg, on="src"))
    ranks = deg.select("src", F.lit(1.0).alias("r"))
    for _ in range(iterations):
        contrib = edges.join(ranks, on="src").select(
            F.col("dst"),
            F.floor(
                F.col("r") / F.col("deg") * F.lit(1000000000.0) + F.lit(0.5)
            )
            .cast("long")
            .alias("c_q"),
        )
        ranks = contrib.groupBy("dst").agg(
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * (F.sum("c_q") / F.lit(1000000000.0))
            ).alias("r")
        ).select(F.col("dst").alias("src"), "r")
    return ranks.select(F.col("src").alias("id"), F.col("r").alias("rank"))


def degree_assortativity(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Degree-assortativity coefficient of the undirected pair graph:
    the Pearson correlation between the degrees at the two ends of every
    edge (computed over the symmetrized directed edge list, the standard
    Newman formulation). r > 0 — high-degree nodes attach to each other
    (one tangled boilerplate mass); r < 0 — hubs surrounded by leaves
    (template + one-off echoes), which changes the dedup strategy
    (drop the hub, keep the leaves).

    Float discipline mirrors the regression workload: the five degree
    moments (Σx, Σy, Σx², Σy², Σxy) are exact integer sums, and the
    coefficient is ONE fixed IEEE expression over them, so any engine
    evaluating the same expression text agrees bitwise. Shape: one
    degree aggregate + one edge⋈degree join per endpoint, all keyed on
    node ids; the moment reduction is a single map-combined aggregate.

    Returns one row: (n_edges, r_q) with r nano-quantized."""
    sym = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .unionAll(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()  # duplicate input pairs must not inflate degrees —
        # same multiset tolerance as triangle_counts/pagerank/bfs siblings
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    du = deg.select(F.col("u"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("deg").alias("dy"))
    ends = sym.join(du, "u").join(dv, "v")
    # DECIMAL(38,0) moments: hub-heavy graphs overflow int64 silently
    # (deg ~1e6 squared, summed over 1e9 edges ≈ 1e21 > 2^63), and the
    # n·sxy − sx·sy closing products square the exposure; 38 decimal
    # digits hold deg²·edges up to ~1e38, and the sums stay exact
    # integer arithmetic so the bitwise-parity contract is unchanged
    dec, d19 = "decimal(38,0)", "decimal(19,0)"
    m = ends.groupBy().agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("dx").cast(d19)).cast(dec).alias("sx"),
        F.sum(F.col("dy").cast(d19)).cast(dec).alias("sy"),
        F.sum(F.col("dx").cast(d19) * F.col("dx").cast(d19)).cast(dec).alias("sxx"),
        F.sum(F.col("dy").cast(d19) * F.col("dy").cast(d19)).cast(dec).alias("syy"),
        F.sum(F.col("dx").cast(d19) * F.col("dy").cast(d19)).cast(dec).alias("sxy"),
    )
    # numerator and the two variance terms are exact decimal arithmetic;
    # only the final sqrt/divide are IEEE ops, written once
    num = (
        (F.col("n") * F.col("sxy")).cast(dec)
        - (F.col("sx") * F.col("sy")).cast(dec)
    ).cast("double")
    varx = (
        (F.col("n") * F.col("sxx")).cast(dec)
        - (F.col("sx") * F.col("sx")).cast(dec)
    ).cast("double")
    vary = (
        (F.col("n") * F.col("syy")).cast(dec)
        - (F.col("sy") * F.col("sy")).cast(dec)
    ).cast("double")
    # degenerate graph (all degrees equal, e.g. a perfect matching):
    # variance 0 → division yields NaN/Inf and the quantization cast
    # diverges between engines; define r = 0 there, as both sides must
    r = F.when(varx * vary == 0, F.lit(0.0)).otherwise(
        num / (F.sqrt(varx) * F.sqrt(vary))
    )
    return m.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.floor(r * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("r_q"),
    )


def bfs_distances(
    pairs: DataFrame,
    source_id,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_depth: int = 20,
) -> DataFrame:
    """Unweighted shortest-path distance from ``source_id`` to every
    reachable node of the undirected pair graph — breadth-first frontier
    expansion, the building block behind "how far does this boilerplate
    template propagate" audits.

    Each round expands the CURRENT FRONTIER only (not all visited
    nodes): one hash join frontier⋈edges on the node id plus an
    anti-join against the visited set, both ordinary key shuffles. The
    visited set is localCheckpointed per round — it is re-joined every
    round, and an unbroken lineage would re-expand from round 0 each
    time. Rounds = eccentricity of the source, bounded by ``max_depth``
    (raise if a component is genuinely deeper; near-dup components are
    shallow by construction).

    Returns (id, dist) — BFS layer per reachable node, source at 0.
    Exact by induction (layer d is found at round d and never revisited),
    so a recursive-CTE reachability-with-min-distance oracle agrees."""
    from pyspark.sql import types as T

    sym = materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
    )
    # seed schema DERIVED from the edge columns: hard-coding 'id long'
    # made string-id graphs silently return only the source (the long ==
    # string join cast every id to null) and crashed on string sources
    id_type = sym.schema["src"].dataType
    visited = materialize(
        sym.sparkSession.createDataFrame(
            [(source_id, 0)],
            T.StructType(
                [
                    T.StructField("id", id_type, False),
                    T.StructField("dist", T.IntegerType(), False),
                ]
            ),
        )
    )
    frontier = visited
    for depth in range(1, max_depth + 1):
        # the frontier-emptiness probe rides the checkpoint job — a
        # limit(1).count() would be an extra job barrier per BFS layer
        nxt, n_next = materialize_observed(
            frontier.join(sym, frontier["id"] == sym["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, on="id", how="anti")
            .select("id", F.lit(depth).cast("int").alias("dist")),
            F.count(F.lit(1)),
        )
        if n_next == 0:
            break
        visited = materialize(visited.unionAll(nxt))
        frontier = nxt
    return visited


def kcore_subgraph(
    pairs: DataFrame,
    k: int = 2,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 8,
) -> DataFrame:
    """The k-core of an undirected pair graph: the maximal subgraph in
    which every node has degree >= k — the standard "dense backbone"
    extraction (Seidman 1983). In a near-duplicate graph the 2-core
    separates genuinely clustered templates (cycles/cliques) from
    chain-shaped borderline matches that a single weak edge strings
    together; chains peel away entirely.

    Algorithm: synchronous peeling to fixpoint. Each round computes node
    degrees over the surviving edge set (one hash-agg on the symmetrized
    list) and drops every edge with an endpoint below k (two LEFT SEMI
    joins — broadcast-eligible once the survivor set shrinks). The edge
    set only shrinks, so the fixpoint is the k-core exactly (the peeling
    order never changes the result). Each round localCheckpoints the
    shrunken edges: the set is re-scanned twice per round and an
    unbroken lineage would replay every earlier round's joins.

    Rounds needed = peeling depth (longest chain of cascading removals),
    <= graph diameter; near-dup components are shallow by construction.
    Raises if ``max_rounds`` is hit without convergence rather than
    returning a superset silently. Because extra rounds are no-ops after
    the fixpoint, a fixed-depth unrolled-SQL oracle with >= the true
    depth agrees exactly.

    Returns the surviving canonical edge list (id_a < id_b).
    """
    # edge counts ride the checkpoint jobs instead of a separate
    # .count() job per peeling round
    e, n_edges = materialize_observed(
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b")).distinct(),
        F.count(F.lit(1)),
    )
    for _ in range(max_rounds):
        sym = e.select(F.col("a").alias("node")).unionAll(
            e.select(F.col("b").alias("node"))
        )
        keep = (
            sym.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select("node")
        )
        e2, n2 = materialize_observed(
            e.join(keep.withColumnRenamed("node", "a"), on="a", how="semi")
            .join(keep.withColumnRenamed("node", "b"), on="b", how="semi")
            .select("a", "b"),
            F.count(F.lit(1)),
        )
        if n2 == n_edges:
            return e2.select(F.col("a").alias(id_a), F.col("b").alias(id_b))
        e, n_edges = e2, n2
    raise RuntimeError(
        f"k-core peeling did not converge in {max_rounds} rounds; "
        "raise max_rounds (and widen the oracle unrolling to match)"
    )
