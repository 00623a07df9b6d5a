"""Link-graph analytics — PageRank (Page & Brin 1998; the canonical
web-graph workload of a Common-Crawl-scale engine: domain authority for
crawl prioritization and quality weighting).

Formulation: the classic simplified power iteration (the one in Spark's
own published examples — public knowledge): every node starts at 1.0 and

    rank'(v) = (1 - d) + d * sum over in-edges (u,v) of rank(u)/outdeg(u)

Dangling nodes (no out-edges) contribute nothing; ranks are therefore
unnormalized (they do not sum to 1) but the ORDERING equals the
normalized variant's. A fixed iteration count keeps the operator
deterministic and lets the DuckDB oracle replay it as unrolled CTE
aggregates (aggregation is not allowed in a recursive term).

Spark-first: the edge table is hash-partitioned by src ONCE and persisted
with its out-degree attached — every iteration's contribution join then
reuses the same co-located edges; each iteration is one join + one
aggregate, all 10 iterations composing into a single lazy plan executed
in one job. ``checkpoint_interval`` truncates lineage for long power
iterations (localCheckpoint, eager) — at 10 iterations the plan is fine
without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core.frames import local_frame


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_iters: int = 10, damping: float = 0.85,
    checkpoint_interval: int | None = None,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank) after ``n_iters`` power iterations. Multi-edges count
    once per row (pre-distinct the input for simple-graph semantics).

    Driver-local small-graph guard (same discipline as hits/bfs_hops:
    iterative rounds over a tiny graph are ~90% job-launch overhead —
    the hits row went 81s -> ~1s with this): one take(k+1) doubles as
    the collect; pass local_threshold=0 to force the distributed path,
    as the tests do. Both paths run the identical formulation; ranks
    agree to float-sum reassociation (callers round, as the oracle
    does)."""
    if local_threshold:
        rows = edges.select(src, dst).take(local_threshold + 1)
        if len(rows) <= local_threshold:
            return _pagerank_local(
                edges.sparkSession, rows, src, dst, n_iters, damping,
                edges.select(src).schema[0].dataType,
            )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    e = (
        edges.select(src, dst)
        .join(out_deg, src)
        .repartition(F.col(src))
        .persist()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for i in range(n_iters):
        contribs = (
            e.join(ranks, e[src] == ranks["node"])
            .select(
                F.col(dst).alias("node"),
                (F.col("rank") / F.col("_deg")).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def _rank_schema(node_type):
    """(node: <input type>, rank: double) — the node column keeps the
    INPUT's type so int-keyed graphs work through the local guards and an
    empty result matches the distributed path's schema."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType([
        StructField("node", node_type), StructField("rank", DoubleType()),
    ])


def _pagerank_local(spark, edge_rows, src, dst, n_iters: int, damping: float,
                    node_type) -> DataFrame:
    """Driver-local replay of exactly the distributed iterations."""
    import numpy as np

    if not edge_rows:
        return local_frame(spark, [], _rank_schema(node_type))
    srcs = [r[src] for r in edge_rows]
    dsts = [r[dst] for r in edge_rows]
    nodes = sorted(set(srcs) | set(dsts))
    idx = {n: i for i, n in enumerate(nodes)}
    si = np.array([idx[s] for s in srcs])
    di = np.array([idx[d] for d in dsts])
    deg = np.bincount(si, minlength=len(nodes)).astype(float)
    rank = np.ones(len(nodes))
    for _ in range(n_iters):
        s = np.bincount(di, weights=rank[si] / deg[si], minlength=len(nodes))
        rank = (1.0 - damping) + damping * s
    return local_frame(
        spark, [(n, float(rank[idx[n]])) for n in nodes], _rank_schema(node_type)
    )


def hits(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    n_iters: int = 8, checkpoint_interval: int | None = 1,
    local_threshold: int = 100_000,
) -> DataFrame:
    """(node, hub, auth) after ``n_iters`` of MAX-normalized HITS
    (Kleinberg 1999): auth'(v) = sum of hub over in-edges, hub'(u) = sum
    of auth over out-edges, each vector divided by its max after every
    half-step.

    Max normalization instead of the textbook L2: the fixed point is the
    same up to scale (both are scalar renormalizations of the same linear
    map), and max — unlike a sum of squares — is an order-independent
    aggregate, so the unrolled-SQL oracle replay stays exact to round-6
    with no float-association drift. Nodes with no in-edges get auth 0,
    no out-edges hub 0; multi-edges count once per input row.

    Spark-first: the edge table is hash-partitioned ONCE and persisted;
    every iteration is two join+aggregate pairs over the same co-located
    edges. The per-half-step max rides a broadcast 1-row cross join (a
    scalar, never a shuffle of the scores). Unlike pagerank, the score
    vector is referenced TWICE per half-step (values + its max) — a fully
    lazy plan would duplicate the prior iteration's subtree per reference
    (~4^n_iters blowup; Catalyst never dedups common subtrees), so
    lineage is truncated by an eager localCheckpoint every
    ``checkpoint_interval`` iterations (default every iteration — the
    standard Pregel-style iterate-and-checkpoint shape; the oracle's
    MATERIALIZED CTE chain is the same idea in SQL).

    Small-graph guard (the repo's kmeans/union-find discipline): when the
    edge list fits comfortably on the driver (<= ``local_threshold``
    rows), the 2*n_iters distributed half-steps are ~all job-launch
    overhead — collect once and run the same iterations in numpy sparse
    ops instead (identical semantics to round-6; pinned equal to the
    distributed path by test). Pass local_threshold=0 to force the
    distributed path.
    """
    e = edges.select(src, dst).persist()
    if local_threshold:
        # ONE bounded action: take(k+1) both answers "small enough?" and,
        # when yes, IS the collected edge list
        rows = e.take(local_threshold + 1)
        if len(rows) <= local_threshold:
            return _hits_local(e.sparkSession, rows, src, dst, n_iters)
    nodes = (
        e.select(F.col(src).alias("node"))
        .unionByName(e.select(F.col(dst).alias("node")))
        .distinct()
    ).localCheckpoint(eager=True)
    scores = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for i in range(n_iters):
        a_raw = (
            e.join(scores, e[src] == scores["node"])
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum("hub").alias("_a"))
        )
        auth = nodes.join(a_raw, "node", "left").select(
            "node", F.coalesce("_a", F.lit(0.0)).alias("_a")
        )
        amax = auth.agg(F.max("_a").alias("_amax"))
        auth = auth.crossJoin(F.broadcast(amax)).select(
            "node", (F.col("_a") / F.col("_amax")).alias("auth")
        )
        h_raw = (
            e.join(auth, e[dst] == auth["node"])
            .groupBy(F.col(src).alias("node"))
            .agg(F.sum("auth").alias("_h"))
        )
        hub = nodes.join(h_raw, "node", "left").select(
            "node", F.coalesce("_h", F.lit(0.0)).alias("_h")
        )
        hmax = hub.agg(F.max("_h").alias("_hmax"))
        hub = hub.crossJoin(F.broadcast(hmax)).select(
            "node", (F.col("_h") / F.col("_hmax")).alias("hub")
        )
        scores = hub.join(auth, "node").select("node", "hub", "auth")
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            scores = scores.localCheckpoint(eager=True)
    return scores


def bfs_hops(
    edges: DataFrame, seeds: DataFrame, src: str = "src", dst: str = "dst",
    node: str = "node", max_hops: int = 6,
    checkpoint_interval: int | None = 2, local_threshold: int = 100_000,
) -> DataFrame:
    """(node, hops): minimum directed hop count from ANY seed node, for
    every node reachable within ``max_hops`` (seeds themselves at 0) —
    multi-source BFS, the crawl-frontier / link-distance primitive.

    Spark-first frontier expansion: the frontier (newly reached nodes
    only) joins the src-partitioned edge table once per hop; visited is
    the growing union, and the next frontier is an anti-join against it —
    each hop is one equi-join + one distinct, never a full-graph pass
    over already-settled nodes. Lineage is truncated every
    ``checkpoint_interval`` hops (the visited union otherwise deepens the
    plan linearly and re-executes per reference). Same driver-local
    small-graph guard as hits(): one take(k+1) action doubles as the
    collect.
    """
    e = edges.select(src, dst).persist()
    if local_threshold:
        rows = e.take(local_threshold + 1)
        if len(rows) <= local_threshold:
            seed_vals = [r[node] for r in seeds.select(node).collect()]
            return _bfs_local(e.sparkSession, rows, src, dst, seed_vals, max_hops)
    visited = seeds.select(F.col(node).alias("node"), F.lit(0).alias("hops"))
    frontier = visited.select("node")
    for h in range(1, max_hops + 1):
        nxt = (
            e.join(frontier, e[src] == frontier["node"])
            .select(F.col(dst).alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
        )
        nxt = nxt.localCheckpoint(eager=True)  # branches below reuse it
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.select("node", F.lit(h).alias("hops"))
        )
        if checkpoint_interval and h % checkpoint_interval == 0:
            visited = visited.localCheckpoint(eager=True)
        frontier = nxt
    return visited.select("node", F.col("hops").cast("long").alias("hops"))


def _bfs_local(spark, edge_rows, src, dst, seed_vals, max_hops: int) -> DataFrame:
    """Driver-local replay of the identical frontier expansion."""
    adj: dict = {}
    for r in edge_rows:
        adj.setdefault(r[src], set()).add(r[dst])
    hops = {s: 0 for s in seed_vals}
    frontier = set(seed_vals)
    for h in range(1, max_hops + 1):
        nxt = set()
        for u in frontier:
            nxt |= adj.get(u, set())
        nxt -= hops.keys()
        if not nxt:
            break
        for v in nxt:
            hops[v] = h
        frontier = nxt
    return local_frame(
        spark, [(n, h) for n, h in sorted(hops.items())], "node string, hops long"
    )


def _hits_local(spark, edge_rows, src: str, dst: str, n_iters: int) -> DataFrame:
    """Driver-local replay of exactly the distributed iterations (dedup'd
    edges? no — multi-edges count once per input row, same as the join)."""
    import numpy as np

    if not edge_rows:
        return local_frame(spark, [], "node string, hub double, auth double")
    srcs = [r[src] for r in edge_rows]
    dsts = [r[dst] for r in edge_rows]
    nodes = sorted(set(srcs) | set(dsts))
    idx = {n: i for i, n in enumerate(nodes)}
    si = np.array([idx[s] for s in srcs])
    di = np.array([idx[d] for d in dsts])
    hub = np.ones(len(nodes))
    auth = np.ones(len(nodes))
    for _ in range(n_iters):
        auth = np.bincount(di, weights=hub[si], minlength=len(nodes))
        auth = auth / auth.max()
        hub = np.bincount(si, weights=auth[di], minlength=len(nodes))
        hub = hub / hub.max()
    return local_frame(
        spark, [(n, float(hub[idx[n]]), float(auth[idx[n]])) for n in nodes],
        "node string, hub double, auth double",
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """(node, n_triangles): how many triangles each node participates in,
    over the undirected simple graph induced by ``edges`` (self-loops
    dropped, direction and multiplicity ignored). The clustering /
    spam-farm signal of web-graph analysis (link farms are near-cliques).

    Spark-first, skew-proof shape (Suri & Vassilvitskii 2011, "Counting
    triangles and the curse of the last reducer" — public MapReduce
    formulation): orient every undirected edge from its lower-degree
    endpoint to its higher-degree endpoint (ties broken by node id).
    Wedge generation then pairs only the DEGREE-ORDERED out-neighbors of
    each node, so a celebrity node of degree d contributes O(sum of its
    low-degree neighbors' choices) instead of O(d^2) — total wedge count
    is O(m^{3/2}) regardless of skew. Each wedge (u, v, w) closes iff the
    oriented edge (v, w) exists: one semi-ish inner join against the
    oriented edge set. Every triangle is found exactly once (at its
    lowest-order corner), then exploded to its three corners for the
    per-node rollup. Three shuffles total (degree agg, wedge join,
    closing join), all on node keys.
    """
    und, deg = _undirected_and_deg(edges, src, dst)
    return _triangles_from(und, deg)


def _undirected_and_deg(edges: DataFrame, src: str, dst: str):
    """(und, deg): the deduped undirected simple edge set (a < b) and the
    per-node degree aggregate — shared by triangle_count and
    clustering_coefficient so the coefficient pays for them ONCE."""
    und = (
        edges.select(F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    return und, deg


def _triangles_from(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Degree-ordered wedge triangle count over a prebuilt (und, deg)."""
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_degb"))
    ranked = und.join(da, "a").join(db, "b")
    a_first = (F.col("_dega") < F.col("_degb")) | (
        (F.col("_dega") == F.col("_degb")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.struct(F.col("_degb").alias("_dega"), F.col("b").alias("n")))
        .otherwise(F.struct("_dega", F.col("a").alias("n")))
        .alias("_hi"),
    )
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("_hi").alias("_k1"))
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("_hi").alias("_k2")
    )
    wedges = e1.join(e2, (e1["u"] == e2["u2"]) & (e1["_k1"] < e2["_k2"])).select(
        "u", "v1", "v2"
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tris = wedges.join(closing, ["v1", "v2"])
    corners = tris.select(
        F.explode(F.array("u", "v1", "v2")).alias("node")
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def shortest_paths(
    edges: DataFrame, seeds: DataFrame, src: str = "src", dst: str = "dst",
    weight: str = "w", node: str = "node", max_hops: int = 6,
    checkpoint_interval: int | None = 2, local_threshold: int = 100_000,
) -> DataFrame:
    """(node, cost): minimum total edge weight over directed paths of at
    most ``max_hops`` edges from ANY seed (seeds at 0.0) — hop-bounded
    single/multi-source shortest paths (Bellman-Ford), the weighted
    sibling of :func:`bfs_hops` (crawl distance where links carry a
    latency/penalty weight).

    Frontier-style relaxation, not whole-graph rounds: each hop joins
    ONLY the nodes whose tentative cost improved last round against the
    src-partitioned edges, min-aggregates the candidates, and an
    improvement join against the settled table keeps strictly-better
    entries; converged graphs exit before max_hops. Parallel edges must
    be pre-collapsed to MIN(w) by the caller (oracle does the same).
    Path costs accumulate incrementally (same association order as the
    oracle's recursive CTE), so float parity is exact for exact-sum
    weights. Lineage truncated every ``checkpoint_interval`` hops; same
    driver-local small-graph guard discipline as bfs_hops (one
    take(k+1) doubles as the collect; pass local_threshold=0 to force
    the distributed path, as the tests do)."""
    e = edges.select(src, dst, weight).persist()
    if local_threshold:
        rows = e.take(local_threshold + 1)
        if len(rows) <= local_threshold:
            seed_vals = [r[node] for r in seeds.select(node).collect()]
            return _sssp_local(e.sparkSession, rows, src, dst, weight, seed_vals, max_hops)
    dist = seeds.select(F.col(node).alias("node"), F.lit(0.0).alias("cost"))
    frontier = dist
    for h in range(1, max_hops + 1):
        cand = (
            e.join(frontier, e[src] == frontier["node"])
            .select(F.col(dst).alias("node"), (F.col("cost") + F.col(weight)).alias("cost"))
            .groupBy("node")
            .agg(F.min("cost").alias("cost"))
        )
        improved = (
            cand.join(dist.withColumnRenamed("cost", "_old"), "node", "left")
            .where(F.col("_old").isNull() | (F.col("cost") < F.col("_old")))
            .select("node", "cost")
        )
        improved = improved.localCheckpoint(eager=True)
        if improved.isEmpty():
            break
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
        )
        if checkpoint_interval and h % checkpoint_interval == 0:
            dist = dist.localCheckpoint(eager=True)
        frontier = improved
    return dist


def _sssp_local(spark, edge_rows, src, dst, weight, seed_vals, max_hops: int) -> DataFrame:
    """Driver-local replay of the identical hop-bounded relaxation."""
    adj: dict = {}
    for r in edge_rows:
        adj.setdefault(r[src], []).append((r[dst], float(r[weight])))
    dist = {v: 0.0 for v in seed_vals}
    frontier = dict(dist)
    for _ in range(max_hops):
        cand: dict = {}
        for n, c in frontier.items():
            for d, w in adj.get(n, ()):
                nc = c + w
                if d not in cand or nc < cand[d]:
                    cand[d] = nc
        improved = {
            n: c for n, c in cand.items() if n not in dist or c < dist[n]
        }
        if not improved:
            break
        dist.update(improved)
        frontier = improved
    return local_frame(
        spark, [(n, c) for n, c in dist.items()], "node string, cost double"
    )


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_iters: int = 4,
    checkpoint_interval: int = 2, local_threshold: int = 100_000,
) -> DataFrame:
    """(node, label): synchronous label-propagation communities
    (Raghavan 2007, the deterministic synchronous variant): every node
    starts labeled with its own id; each round ALL nodes simultaneously
    adopt the most frequent label among their in-neighbors (ties -> the
    smallest label, plain binary string order), for exactly ``n_iters``
    rounds. Community detection over the domain link graph — the
    webgraph sibling of pagerank/HITS. Callers wanting the classic
    undirected semantics pass symmetrized edges.

    Determinism: the synchronous update + total tie order makes the
    fixpoint schedule-free (unlike the async variant), so the result is
    oracle-able. Shapes: per round ONE src-keyed hash join (edges are
    hash-partitioned on src once, reused every round) + two partial/final
    hash aggregates; the argmax is min_by over the (-count, label)
    struct — no per-node window. Nodes with no in-neighbors keep their
    label (left join + coalesce). Lineage truncated every
    ``checkpoint_interval`` rounds. Same driver-local small-graph guard
    discipline as bfs_hops (one take(k+1) doubles as the collect; pass
    local_threshold=0 to force the distributed path, as tests do)."""
    e = edges.select(src, dst).repartition(F.col(src))
    if local_threshold:
        rows = e.take(local_threshold + 1)
        if len(rows) <= local_threshold:
            return _lpa_local(
                e.sparkSession, rows, src, dst, n_iters,
                edges.select(src).schema[0].dataType,
            )
    e = e.persist()  # below the guard: the local path must not leak cache
    nodes = (
        e.select(F.col(src).alias("node"))
        .unionByName(e.select(F.col(dst).alias("node")))
        .distinct()
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    for it in range(1, n_iters + 1):
        cnt = (
            e.join(labels, e[src] == labels["node"])
            .groupBy(F.col(dst).alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        best = cnt.groupBy("node").agg(
            F.min_by("label", F.struct((-F.col("_c")).alias("nc"), F.col("label"))).alias("_new")
        )
        labels = (
            labels.join(best, "node", "left")
            .select("node", F.coalesce(F.col("_new"), F.col("label")).alias("label"))
        )
        if checkpoint_interval and it % checkpoint_interval == 0:
            labels = labels.localCheckpoint(eager=True)
    # truncate lineage off the cache, then release it (k_core discipline)
    labels = labels.localCheckpoint(eager=True)
    e.unpersist()
    return labels


def _lpa_local(spark, edge_rows, src, dst, n_iters: int, node_type) -> DataFrame:
    """Driver-local replay of the identical synchronous update.
    ``node_type`` threads the input node type like _k_core_local — an
    int-keyed graph must not come back as strings."""
    from collections import Counter, defaultdict

    from pyspark.sql.types import StructField, StructType

    in_nbrs: dict = defaultdict(list)
    nodes = set()
    for r in edge_rows:
        in_nbrs[r[dst]].append(r[src])
        nodes.add(r[src]); nodes.add(r[dst])
    labels = {n: n for n in nodes}
    for _ in range(n_iters):
        nxt = {}
        for n in nodes:
            nb = in_nbrs.get(n)
            if not nb:
                nxt[n] = labels[n]
                continue
            counts = Counter(labels[m] for m in nb)
            # most frequent, ties -> smallest label
            nxt[n] = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        labels = nxt
    return local_frame(
        spark, sorted(labels.items()),
        StructType([
            StructField("node", node_type), StructField("label", node_type)
        ]),
    )


def k_core(
    edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
    max_rounds: int = 50, local_threshold: int = 100_000,
) -> DataFrame:
    """(node, core_deg): the k-core — the maximal subgraph where every
    node keeps degree >= k after iteratively peeling lower-degree nodes
    (Seidman 1983; dense-community extraction on the link graph — e.g.
    template/spam farms in a near-dup pair graph survive, tendrils peel).
    Input is the symmetrized simple edge list (pass both directions, no
    self-loops); ``core_deg`` is each survivor's degree INSIDE the core.

    Distributed shape: per peel round ONE semi-join of the edge list
    against the live-node set (hash-partitioned by src once, reused) +
    one partial/final degree aggregate; the live set shrinks
    monotonically, so every round's exchange is no larger than the last.
    Convergence needs one eager count per round (like the BFS frontier
    loop) with lineage truncated by localCheckpoint; rounds are bounded
    by the peel depth (the graph's degeneracy ordering length, which is
    O(n) in the worst case — a long path at k=2 peels from both ends).
    If the peel has NOT converged within ``max_rounds`` the call raises
    rather than returning the unconverged live set (a silently-wrong
    near-core is worse than asking the caller to raise the bound). Same
    driver-local small-graph guard discipline as bfs_hops/
    label_propagation (one take(k+1) doubles as the collect;
    local_threshold=0 forces the distributed path, as the tests do)."""
    e = edges.select(src, dst).where(F.col(src) != F.col(dst))
    node_type = e.schema[0].dataType
    if local_threshold:
        rows = e.take(local_threshold + 1)
        if len(rows) <= local_threshold:
            return _k_core_local(e.sparkSession, rows, src, dst, k, node_type)
    e = e.repartition(F.col(src)).persist()
    live = (
        e.select(F.col(src).alias("node"))
        .unionByName(e.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_live = live.count()
    nxt = live.select("node", F.lit(0).cast("long").alias("core_deg")).limit(0)
    converged = n_live == 0
    for _ in range(max_rounds):
        if n_live == 0:
            converged = True
            break
        deg = (
            e.join(live.withColumnRenamed("node", src), src, "left_semi")
            .join(live.withColumnRenamed("node", dst), dst, "left_semi")
            .groupBy(F.col(src).alias("node"))
            .agg(F.count(F.lit(1)).alias("core_deg"))
        )
        nxt = deg.where(F.col("core_deg") >= k).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_live:
            converged = True
            break
        live, n_live = nxt.select("node"), n_nxt
    e.unpersist()
    if not converged:
        raise RuntimeError(
            f"k_core did not converge within max_rounds={max_rounds} "
            f"({n_live} nodes still live) — raise max_rounds; returning the "
            "unconverged live set would silently overstate the core"
        )
    return nxt


def _k_core_local(spark, edge_rows, src, dst, k: int, node_type) -> DataFrame:
    """Driver-local replay of the identical peel. ``node_type`` comes from
    the input schema so an EMPTY result keeps the node column's type (an
    inferred-from-rows schema would default to long and diverge from the
    distributed path on string-keyed graphs)."""
    from pyspark.sql.types import LongType, StructField, StructType

    edges = {(r[src], r[dst]) for r in edge_rows if r[src] != r[dst]}
    live = {n for e2 in edges for n in e2}
    deg: dict = {}
    while live:
        deg = {}
        for s, d in edges:
            if s in live and d in live:
                deg[s] = deg.get(s, 0) + 1
        drop = {n for n in live if deg.get(n, 0) < k}
        if not drop:
            break
        live -= drop
    rows = sorted((n, deg[n]) for n in live)
    schema = StructType([
        StructField("node", node_type), StructField("core_deg", LongType()),
    ])
    return local_frame(spark, rows, schema)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, deg, n_triangles, clustering): Watts-Strogatz local
    clustering coefficient c(v) = 2*T(v) / (deg(v) * (deg(v) - 1)) over
    the undirected simple graph — the per-node link-farm density score on
    top of :func:`triangle_count` (near-cliques score ~1, trees 0).
    Degree-<2 nodes get 0.0 (no wedge exists — the usual convention).
    One extra node-keyed left join beyond the triangle pass; the deduped
    edge set and degree aggregate are built ONCE and shared with the
    triangle stage (_undirected_and_deg)."""
    und, deg = _undirected_and_deg(edges, src, dst)
    deg = deg.select("node", F.col("deg").cast("long").alias("deg"))
    tri = _triangles_from(und, deg)
    t = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    c = F.when(
        F.col("deg") >= 2,
        2.0 * t.cast("double") / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
    ).otherwise(F.lit(0.0))
    return deg.join(tri, "node", "left").select(
        "node", "deg", t.alias("n_triangles"), c.alias("clustering")
    )


def personalized_pagerank(
    edges: DataFrame, seeds: list, src: str = "src", dst: str = "dst",
    n_iters: int = 10, damping: float = 0.85,
    checkpoint_interval: int | None = None, local_threshold: int = 100_000,
) -> DataFrame:
    """(node, rank): PageRank with the restart mass concentrated on
    ``seeds`` (equal shares) instead of spread uniformly — random walk
    with restart (Haveliwala 2002, topic-sensitive pagerank): proximity
    scores to the seed set, the graph-retrieval primitive behind related-
    domain lookup and seed-set expansion. rank_0 = seed vector;
    rank'(v) = (1-d)*seed(v) + d * sum over in-edges rank(u)/outdeg(u);
    dangling mass is dropped (same convention as :func:`pagerank`, whose
    plan shape — edges partitioned by src once, one join + one aggregate
    per iteration — this reuses verbatim). Same driver-local small-graph
    guard; local_threshold=0 forces the distributed path (tests do).

    Seeds absent from the graph carry their restart mass nowhere: if NO
    seed appears in the edge set, every rank is 0.0 (the mathematically
    consistent answer, not an error — checking would cost an extra
    action; callers wanting a guard can assert max(rank) > 0)."""
    if not seeds:
        raise ValueError("personalized_pagerank needs a non-empty seed set")
    mass = 1.0 / len(seeds)
    if local_threshold:
        rows = edges.select(src, dst).take(local_threshold + 1)
        if len(rows) <= local_threshold:
            return _ppr_local(
                edges.sparkSession, rows, src, dst, list(seeds), mass,
                n_iters, damping, edges.select(src).schema[0].dataType,
            )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    seed_col = F.when(F.col("node").isin(list(seeds)), F.lit(mass)).otherwise(F.lit(0.0))
    out_deg = edges.groupBy(src).agg(F.count(F.lit(1)).cast("long").alias("_deg"))
    e = edges.select(src, dst).join(out_deg, src).repartition(F.col(src)).persist()
    ranks = nodes.select("node", seed_col.alias("rank"))
    for i in range(n_iters):
        contribs = (
            e.join(ranks, e[src] == ranks["node"])
            .select(F.col(dst).alias("node"), (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("node")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * seed_col
                + F.lit(damping) * F.coalesce(F.col("_s"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_interval and (i + 1) % checkpoint_interval == 0:
            ranks = ranks.localCheckpoint(eager=True)
    # truncate lineage off the cache, then release it (k_core discipline)
    ranks = ranks.localCheckpoint(eager=True)
    e.unpersist()
    return ranks


def _ppr_local(spark, edge_rows, src, dst, seeds, mass, n_iters, damping,
               node_type) -> DataFrame:
    """Driver-local numpy replay of the identical restart iterations."""
    import numpy as np

    if not edge_rows:
        return local_frame(spark, [], _rank_schema(node_type))
    srcs = [r[src] for r in edge_rows]
    dsts = [r[dst] for r in edge_rows]
    nodes = sorted(set(srcs) | set(dsts))
    idx = {n: i for i, n in enumerate(nodes)}
    si = np.array([idx[s] for s in srcs])
    di = np.array([idx[d] for d in dsts])
    deg = np.bincount(si, minlength=len(nodes)).astype(float)
    seed = np.zeros(len(nodes))
    for s in seeds:
        if s in idx:
            seed[idx[s]] = mass
    rank = seed.copy()
    for _ in range(n_iters):
        s = np.bincount(di, weights=rank[si] / deg[si], minlength=len(nodes))
        rank = (1.0 - damping) * seed + damping * s
    return local_frame(
        spark, [(n, float(rank[idx[n]])) for n in nodes], _rank_schema(node_type)
    )
