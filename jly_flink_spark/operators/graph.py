"""Graph propagation operators (iterative dataflow, unrolled).

The reference job has no graph surface (it is a CDC archival
pipeline, `StartJob.java`); this module belongs to the SURVEY §2.2
north-star set: corpus-level graph analytics a training-data pipeline
runs over its duplication structure (e.g. centrality of documents in
the near-dup graph when choosing canonical representatives).

Spark-first iteration pattern: a FIXED number of iterations (PageRank
rounds, BFS levels) is unrolled into one declarative plan in which
each step reads only the step before it — a PageRank round is one
(dst, contrib) shuffle with map-side combine, a BFS level one frontier
join plus a min-depth fold — so Catalyst sees the whole pipeline, AQE
sizes every exchange, and the plan grows linearly with the step
count. For variable iteration counts, loop in the driver over the
same step function and a staging cut (io.stage) every few steps to
bound lineage (the connected-components operator in `dedup.py` does
exactly that); the fixed form here is what makes the result
SQL-oracle-checkable.

Cross-engine determinism: ranks live entirely in INTEGER space —
initial mass `quant // n`, per-edge contribution `rank // outdeg`,
damping `(17 * s) // 20` — exact integer division on both engines
(Spark `div`, DuckDB `//`), no floating point anywhere, so the final
ranks are bit-identical by construction. This mirrors how the
quantized-sum pattern makes the dot-product operators engine-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..io import stage

PR_QUANT = 10**12  # integer rank mass: 1.0 == 10^12 micro-units
DAMP_NUM = 17  # damping d = 17/20 = 0.85, kept as an exact ratio
DAMP_DEN = 20


def pagerank_fixed(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    quant: int = PR_QUANT,
) -> DataFrame:
    """Fixed-iteration PageRank over (node) / (src, dst) frames →
    (node, rank_q) with integer micro-unit ranks.

    Simplified recurrence (dangling mass NOT redistributed — nodes
    with no out-edges leak their damped mass, the common simplified
    formulation; isolated nodes keep the base rank):

        r0(v)   = quant // n
        r_t+1(v) = ((den-num)*quant) // (den*n)
                   + (num * Σ_{u→v} (r_t(u) // outdeg(u))) // den

    Only edge sources need a rank inside the loop, so no iteration
    rebuilds the node table: iteration 1 ranks every source
    `quant // n`, iteration t ranks each source from iteration t-1's
    per-destination sums (`edges_deg ⟕ sums` on src), and `nodes` is
    read once, for the final `nodes ⟕ sums`. Per iteration that is
    one slim (dst, contrib) shuffle with map-side partial sums; the
    staged edge list's exchange by src is shared by every iteration.
    Out-degree counts every edge; edges whose source is not a node
    are dropped after counting, so they contribute nothing, as when
    every round joined ranks per node.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    nodes = nodes.select("node")
    # one row; checkpointed so the scalar-N count subtree runs once,
    # not once per crossJoin (iteration 1, every base rank, the end)
    n_df = nodes.agg(F.count("*").alias("_n")).transform(stage)
    # out-degree as a WINDOW count, not a groupBy + self-join: the
    # join form read `edges` from two concurrent subtrees, so an
    # expensive unstaged edge derivation executed twice. The edge
    # list is staged once; every iteration reads the checkpoint.
    # shuffle_hash hints (here and on the sums below) keep the joins
    # on the shuffled data: the window's src partitioning already
    # serves the semi join, and the sums are partitioned by node from
    # their aggregate, so AQE's broadcast conversions would only add
    # a broadcast job per join (20 jobs instead of 16 for the
    # registered query at sf0.01) — and at scale would collect an
    # O(nodes) frame on the driver.
    edges_deg = (
        edges.withColumn("deg", F.count("*").over(Window.partitionBy("src")))
        .join(
            nodes.hint("shuffle_hash"),
            F.col("src") == F.col("node"),
            "left_semi",
        )
        .transform(stage)
    )

    base = F.expr(
        f"CAST({(DAMP_DEN - DAMP_NUM) * quant} AS BIGINT)"
        f" div ({DAMP_DEN} * _n)"
    )
    damped = base + F.expr(
        f"({DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) div {DAMP_DEN}"
    )
    ranked = edges_deg.crossJoin(F.broadcast(n_df)).withColumn(
        "rank_q", F.expr(f"CAST({quant} AS BIGINT) div _n")
    )
    for t in range(iterations):
        if t:
            ranked = (
                edges_deg.join(
                    sums.hint("shuffle_hash"),
                    F.col("src") == F.col("node"),
                    "left",
                )
                .crossJoin(F.broadcast(n_df))
                .withColumn("rank_q", damped)
            )
        sums = ranked.groupBy(F.col("dst").alias("node")).agg(
            F.sum(F.expr("rank_q div deg")).alias("s")
        )
    return (
        nodes.join(sums.hint("shuffle_hash"), "node", "left")
        .crossJoin(F.broadcast(n_df))
        .select("node", damped.alias("rank_q"))
    )


def bfs_fixed(
    seeds: DataFrame, edges: DataFrame, max_hops: int
) -> DataFrame:
    """Multi-source bounded BFS over (src) seeds and (src, dst) edges
    → (seed_id, node, hops): each seed reaches itself at hop 0 and
    every node within ``max_hops`` edges at its shortest hop count.

    One declarative plan, one frontier step per level: the running
    (seed_id, node, depth) frame left-joins the edge list on
    `node = src AND depth = level - 1` (only the last level's
    nodes expand), every joined row explodes into itself plus its
    expansion (dst, level), and `min(depth)` per (seed_id, node)
    folds revisits. Each level reads only the level before it, so
    the plan grows linearly with ``max_hops`` and no subtree is
    duplicated; per level that is one join and one aggregate
    exchange of slim longs, bounded by seeds × nodes. Min-depth
    folding per level equals the recursive-CTE form's per-walk
    levels: a node first reached at level L has shortest distance L,
    and only those nodes can reach new nodes at L + 1.

    The edges are read once per level; stage them first when their
    derivation is expensive. While the edge list is small, AQE
    broadcasts it, and the frontier then stays in the partition the
    seeds arrive in (a few seeds from a sort-limit: one task, no
    per-level exchange) — or, when the seeds' exchange finishes
    before the edges' size is known, keeps one aggregate exchange
    per level (10 or 15 jobs for the registered query at sf0.01).
    Either way AQE sizes the frontier by its bytes, not by the
    out-degree fan-out of the next join, so a larger graph runs each
    level's expansion on one task (sf0.1: 0.9 s for level 3).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    frame = seeds.select(
        F.col("src").alias("seed_id"),
        F.col("src").alias("node"),
        F.lit(0).alias("depth"),
    )
    for level in range(1, max_hops + 1):
        hop = frame.join(
            edges.select("src", "dst"),
            (F.col("node") == F.col("src"))
            & (F.col("depth") == level - 1),
            "left",
        )
        expansion = F.when(
            F.col("dst").isNotNull(),
            F.struct(F.col("dst").alias("node"), F.lit(level).alias("depth")),
        )
        frame = (
            hop.select(
                "seed_id",
                F.inline(
                    F.array_compact(
                        F.array(F.struct("node", "depth"), expansion)
                    )
                ),
            )
            .groupBy("seed_id", "node")
            .agg(F.min("depth").alias("depth"))
        )
    return frame.select(
        "seed_id", "node", F.col("depth").cast("bigint").alias("hops")
    )


def triangle_counts(und: DataFrame) -> DataFrame:
    """(node, n_triangles) per vertex of an undirected graph given as
    canonical (u < v) edge rows — degree-oriented enumeration
    (Schank-Wagner / compact-forward), the shape that makes triangle
    counting feasible at web scale:

    Every edge orients from its lower-(degree, id) endpoint to the
    higher, giving a DAG whose out-degrees are bounded by O(sqrt(m))
    on any graph (a vertex with out-degree d has d neighbors of
    degree >= d, so d(d-1)/2 <= m). Wedges are enumerated by joining
    oriented edges on their source — Σ out_deg² work, O(m^1.5) worst
    case instead of the naive Σ deg² that a hub vertex makes
    quadratic — and a wedge closes into a triangle iff its ordered
    (b, c) pair is itself an oriented edge (each triangle found
    exactly once). All shuffles carry slim (node, node) longs; the
    oriented edge list is staged once and read three
    times (two wedge sides + the closing probe).
    """
    # und is read three times (both degree legs + the orientation
    # join) and deg twice — checkpoint both so an expensive upstream
    # edge derivation runs once (the pagerank_fixed discipline).
    # EAGER (round 14): the consumers are concurrent subtrees of the
    # same join stages, and a lazy cut lets them race the cache
    # population and recompute partitions (the r13 gopher lesson) —
    # measured here as twin edge-build stages in the r14 profile.
    und = stage(und, eager=True)
    deg = stage(
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d")),
        eager=True,
    )
    e = (
        und.join(
            deg.select(
                F.col("node").alias("u"), F.col("d").alias("du")
            ),
            "u",
        )
        .join(
            deg.select(
                F.col("node").alias("v"), F.col("d").alias("dv")
            ),
            "v",
        )
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # eager for the same reason: three concurrent readers (two wedge
    # legs + the closing probe) of one checkpoint
    ori = stage(
        e.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("a"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("b"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("bd"),
        ),
        eager=True,
    )

    o1 = ori.select(
        F.col("a"), F.col("b").alias("y"), F.col("bd").alias("yd")
    )
    o2 = ori.select(
        F.col("a"), F.col("b").alias("z"), F.col("bd").alias("zd")
    )
    wedges = o1.join(o2, "a").filter(
        (F.col("yd") < F.col("zd"))
        | ((F.col("yd") == F.col("zd")) & (F.col("y") < F.col("z")))
    )
    closing = ori.select(
        F.col("a").alias("y"), F.col("b").alias("z")
    )
    tris = wedges.join(closing, ["y", "z"]).select("a", "y", "z")
    corners = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


# Packed-key domain: wedge_pairs(packed=True) packs (x, y) into one
# bigint as x * 2^32 + y. Ids must sit in [0, 2^31): the worst case
# (2^31-1)·2^32 + (2^31-1) = 2^63 - 2^32 + 2^31 - 1 just fits int64,
# while a 2^32-1 id would overflow. The guard checks the sorted
# list's endpoints, which bounds every element.
WEDGE_PACK_BASE = 1 << 32
WEDGE_PACK_MAX_ID = 1 << 31


def wedge_unpack(packed_col: str):
    """(x, y) column pair recovered from a wedge_pairs(packed=True)
    key — exact integer div/mod (both operands nonnegative)."""
    x = F.expr(f"{packed_col} div {WEDGE_PACK_BASE}")
    y = F.expr(f"{packed_col} % {WEDGE_PACK_BASE}")
    return x, y


def wedge_pairs(
    adj: DataFrame,
    max_degree: int | None = None,
    packed: bool = False,
    cluster: bool = False,
) -> DataFrame:
    """(x, y, d) wedge enumeration of an adjacency list (node, nbr):
    one output row per wedge x—node—y with x < y, carrying the wedge
    CENTER's degree d — the candidate generator shared by the
    link-prediction family (common-neighbors / Adamic–Adar /
    neighborhood-Jaccard score the groupBy(x, y) of these rows).

    ``max_degree``: loud runtime guard (round-9 verdict task 6) — any
    node whose neighbor list exceeds the bound raises at execution
    time instead of silently exploding the Σ deg² wedge count (the
    winnowing token-cap discipline, `dedup.py` WINNOW_POS). Callers
    that df-cap their graph should pass the bound that cap implies.

    ``packed=True``: emit (xy, d) with xy = x·2³² + y instead of
    (x, y, d) — one 8-byte grouping key instead of two, which shrinks
    the groupBy(x, y) shuffle the callers all perform (round-9 probe:
    1.22 GB shuffle write on graph_adamic_adar_topk) by ~a third and
    makes the aggregate hash one long. Requires node ids in
    [0, 2^32) — guarded loudly; recover columns with `wedge_unpack`.

    ``cluster=True``: re-shuffle the COLLECTED neighbor lists (slim:
    ~33 MB at the ×10 probe corpus, vs the wedge stream's ~880 MB)
    by each center's minimum neighbor before the explode, so a
    pair's multiple wedge rows land in the SAME map partition and
    the downstream partial aggregation merges them pre-exchange.
    Measured at ×10 (round 12): −5% shuffle bytes (884 → 838 MB)
    at +3 s wall and 1.4× task skew — OFF in every caller; kept as
    a documented mechanism because its value grows with wedge
    multiplicity (this corpus's is only ~2). Exact — any
    node-functional partitioning satisfies the enumeration.

    Shape: ONE groupBy(node) exchange builds each node's sorted
    neighbor list, then the i < j combinations explode map-side —
    each wedge is emitted exactly once from one pass over one
    shuffle. The previous adj ⋈ adj self-join shuffled the adjacency
    twice (two exchange branches into a SortMergeJoin) and re-sorted
    both sides; at 12.3 s it was 13% of the whole bench (round-8
    verdict). Values are identical: the join emitted one row per
    (center, x, y) with x < y, and so does the combination explode.

    Memory discipline: the explode goes through an intermediate
    (head index i, tail slice) row so per-row state is O(d), never
    the O(d²) a single flattened combination array would pin. The
    neighbor list itself is bounded by construction in every caller
    (the dup-chunk graph df-caps chunk buckets, so deg ≤
    n_chunks·(max_df−1)); on an uncapped power-law graph a hub makes
    ANY wedge enumerator Σ deg² — cap or orient (see
    `triangle_counts`) before calling.

    Requires (node, nbr) rows to be unique (callers build adj from a
    DISTINCT undirected edge list); duplicate rows would double-count
    wedges, exactly as they would in the self-join form.
    """
    # Explicit repartition (NOT the groupBy's implicit exchange): the
    # adjacency is tiny in bytes but each row fans out to O(d) wedge
    # rows, so AQE's byte-based coalescing would collapse the
    # expansion + partial-agg stage to one task (measured: 7.5 s vs
    # 0.9 s on the sf0.1 dup-chunk graph's 13M wedges). A fixed
    # user partition count is exempt from coalescing and satisfies
    # the groupBy's distribution, so no second exchange appears.
    from .ranking import resolve_shards

    nbrs = (
        adj.repartition(resolve_shards(adj, None), "node")
        .groupBy("node")
        .agg(F.sort_array(F.collect_list("nbr")).alias("ns"))
        .select("node", F.size("ns").alias("d"), "ns")
        .filter(F.col("d") >= 2)
    )
    # raise_error branches must type-match ns exactly
    ns_type = f"array<{adj.schema['nbr'].dataType.simpleString()}>"
    # Loud degree guard: the when/otherwise keeps raise_error out of
    # the evaluated path for every compliant row (winnow discipline).
    if max_degree is not None:
        nbrs = nbrs.withColumn(
            "ns",
            F.when(F.col("d") <= F.lit(max_degree), F.col("ns")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("wedge_pairs: node "),
                        F.col("node").cast("string"),
                        F.lit(" has degree "),
                        F.col("d").cast("string"),
                        F.lit(
                            f" > max_degree={max_degree}; a hub makes the"
                            " wedge count Σ deg² — df-cap or orient the"
                            " graph (see triangle_counts) before calling"
                        ),
                    )
                ).cast(ns_type)
            ),
        )
    if packed:
        # Id-domain guard on the sorted list's endpoints: first ≥ 0
        # and last < 2^31 imply every element packs without overflow.
        nbrs = nbrs.withColumn(
            "ns",
            F.when(
                (F.element_at("ns", 1) >= 0)
                & (F.element_at("ns", -1) < F.lit(WEDGE_PACK_MAX_ID)),
                F.col("ns"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("wedge_pairs(packed=True): node "),
                        F.col("node").cast("string"),
                        F.lit(
                            " has a neighbor id outside [0, 2^31) — "
                            "packed keys need 31-bit ids; call with "
                            "packed=False"
                        ),
                    )
                ).cast(ns_type)
            ),
        )
    nbrs = nbrs.drop("node")
    if cluster:
        nbrs = nbrs.repartition(
            resolve_shards(adj, None), F.element_at("ns", 1)
        )
    heads = nbrs.select(
        "d",
        "ns",
        F.explode(F.sequence(F.lit(1), F.col("d") - 1)).alias("i"),
    )
    # Resolve the head element and its tail slice BEFORE the big
    # explode: Generate copies every retained column onto every
    # output row, so exploding with `ns` still in scope would copy
    # the full neighbor array onto all Σ d²/2 wedge rows (measured
    # 30% slower than the self-join it replaces); retaining only the
    # 8-byte head keeps the wedge rows slim.
    tails = heads.select(
        F.element_at("ns", F.col("i")).alias("x"),
        F.slice("ns", F.col("i") + 1, F.col("d") - F.col("i")).alias(
            "tail"
        ),
        F.col("d").cast("bigint").alias("d"),
    )
    wedges = tails.select("x", F.explode("tail").alias("y"), "d")
    if packed:
        return wedges.select(
            (
                F.col("x").cast("bigint") * F.lit(WEDGE_PACK_BASE)
                + F.col("y").cast("bigint")
            ).alias("xy"),
            "d",
        )
    return wedges.select("x", "y", "d")
