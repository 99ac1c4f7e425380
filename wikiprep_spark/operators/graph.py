"""Graph operators over DataFrame edge lists: transitive closure,
connected components, PageRank and triangle counts.  No GraphFrames
dependency.

The north rule requires canonicalization beyond the reference's 1-hop
redirect semantics: a full redirect transitive closure (exposed as a
separate canonical_map — the P/R-gated edges keep the reference's 1-hop +
drop-double rule) and connected components over title-equivalence edges.

- ``transitive_closure_roots`` and ``connected_components`` are
  driver-side loops with pointer jumping (path halving), so the number of
  shuffle rounds is O(log diameter), with ``localCheckpoint`` per round to
  cut lineage growth.  Each has ONE convergence probe that rides the
  round's checkpoint job as an ``Observation``: the closure sums depths,
  the components loop asks whether any row's label changed (exact for
  any orderable label type — long ids and title strings alike).  The
  components labels start from each node's neighborhood minimum, so a
  star-shaped component (a near-dup pair or cluster) ends after one round.
  ``component_representatives`` turns a pair graph into the min-id
  representative decision both near-dup operators return.
- ``pagerank`` runs a fixed number of iterations, no probe; its node
  count and per-iteration dangling mass are Observations on the
  checkpoint jobs.
- ``triangle_counts`` is one pass: degree-ordered orientation, wedges,
  and a closing semi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F, types as T


def transitive_closure_roots(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """For a functional graph (each node has at most one out-edge), return
    (node, root, depth): the terminal node reached by following edges, and
    the hop count.  Cycles are cut by the iteration cap.

    Pointer jumping: each round replaces (node -> next) with
    (node -> next's next), doubling the followed distance, so a chain of
    length L resolves in ceil(log2 L) shuffle rounds — the scalable
    replacement for row-at-a-time chain walking.
    """
    # ONE frame suffices: the frontier (node -> current endpoint, depth)
    # and the jump table are identical by induction — both start as the
    # edge list and both square each round — so the loop maintains only
    # the jump table and renames it at the end.  (Carrying both plus a
    # separate probe job that re-executed the join cost 3 jobs per round
    # instead of 2, measured ~2x slower.)
    def jump_once(j):
        return (
            j.alias("a")
            .join(
                j.select(
                    F.col("node").alias("ptr"),
                    F.col("ptr").alias("ptr2"),
                    F.col("depth").alias("d2"),
                ),
                "ptr",
                "left",
            )
            .select(
                "node",
                F.coalesce("ptr2", "ptr").alias("ptr"),
                (F.col("depth") + F.coalesce("d2", F.lit(0))).alias("depth"),
            )
        )

    jump = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("ptr"),
        F.lit(1).cast("long").alias("depth"),
    ).localCheckpoint()
    prev_sum = None
    # TWO jumps per materialized round: the squaring operator composes, so
    # pairing jumps halves the checkpoint/probe rounds while executing the
    # SAME total jump sequence — outputs are identical at every total jump
    # count, including the cycle-cutting cap (an odd cap ends with one
    # single jump below), and the convergence probe merely fires at most
    # one fused round later.
    for _ in range(max_iterations // 2):
        # the probe RIDES the checkpoint job via the Observation API (one
        # job per round): depth strictly increases while any pointer still
        # progresses, so an unchanged sum means fixpoint (decimal(38,0):
        # cannot overflow at any scale)
        obs = Observation()
        jump = (
            jump_once(jump_once(jump))
            .observe(obs, F.sum(F.col("depth").cast("decimal(38,0)"))
                     .alias("s"))
            .localCheckpoint()
        )
        new_sum = obs.get["s"]
        if new_sum == prev_sum:  # None == None on round 1 <=> empty input
            break
        prev_sum = new_sum
    if max_iterations % 2:
        # identity once converged; otherwise the cap's last jump
        jump = jump_once(jump)
    return jump.select("node", F.col("ptr").alias("root"), "depth")


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_iterations: int = 30,
) -> DataFrame:
    """Undirected connected components by min-label propagation with path
    compression. Returns (node, component) where component is the smallest
    node id in the component.

    Labels are seeded with each node's minimum over itself and its
    neighbors (one ``groupBy`` over the symmetric edges), not with the
    node's own id.  Each round: every node adopts the minimum label among
    itself and its neighbors' labels, then labels are compressed by
    pointing at the label's own label.  Converges in O(log diameter)
    rounds on most graphs; the loop stops after the first round in which
    no label changed, so node ids of any orderable type (long ids, title
    strings) share one probe.  A component shaped as a star around its
    minimum (every near-dup pair, every planted cluster) is final after
    the seed, so its loop ends after one round.
    """
    sym = (
        # both orientations from ONE pass over the edge producer: the
        # union-of-two-selects form evaluates the caller's edge subtree
        # once per branch — for an expensive producer (the LSH verified
        # pair join feeding near-dup-groups) that is a whole duplicated
        # candidate+verify pass before the loop even starts
        edges.select(
            F.explode(F.array(
                F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
            )).alias("_e")
        )
        .select("_e.a", "_e.b")
        .distinct()
        # materialize ONCE: sym is joined in every propagation round, and
        # Spark re-executes the whole upstream per consuming job
        .localCheckpoint()
    )
    # seed: each node's minimum over itself and its neighbors — in its
    # component and no larger than the node, which is all the min-label
    # fixpoint needs; a star around its minimum is final here, so round 1
    # only confirms it
    labels = sym.groupBy("a").agg(
        F.least(F.col("a"), F.min("b")).alias("component")
    ).withColumnRenamed("a", "node")
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.b == labels.node)
            .groupBy("a")
            .agg(F.min("component").alias("nmin"))
            .withColumnRenamed("a", "node")
        )
        # labels only ever decrease (least), so a row changed iff it took
        # a smaller neighbor label here or a smaller label-of-label below
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nmin", F.col("component"))
                ).alias("component"),
                F.coalesce(F.col("nmin") < F.col("component"), F.lit(False))
                .alias("changed"),
            )
        )
        # path compression: component <- label(component)
        compressed = (
            new_labels.alias("x")
            .join(
                new_labels.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("cc2"),
                ),
                "component",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("cc2", F.col("component"))
                ).alias("component"),
                (F.col("changed") | F.coalesce(
                    F.col("cc2") < F.col("component"), F.lit(False)))
                .alias("changed"),
            )
        )
        # the convergence probe RIDES the checkpoint job (one job per
        # round): stop once no row changed — max() is NULL on an empty
        # edge set, where there is nothing to propagate either
        obs = Observation()
        labels = (
            compressed.observe(obs, F.max("changed").alias("changed"))
            .localCheckpoint()
            .select("node", "component")
        )
        if not obs.get["changed"]:
            break
    return labels


def component_representatives(ids: DataFrame, pairs: DataFrame) -> DataFrame:
    """The near-dup DECISION tail: for every id of the one-column ``ids``
    frame, (id, representative_id, is_duplicate), where the representative
    is the minimum id of its connected component in the undirected graph
    of ``pairs`` (its first two columns), or the id itself when unpaired.
    The component map is joined back to ``ids`` (broadcast when small)."""
    (key,) = ids.columns
    src, dst = pairs.columns[:2]
    cc = connected_components(pairs, src, dst)
    rep = F.coalesce("component", F.col(key))
    return (
        ids.join(cc.withColumnRenamed("node", key), key, "left")
        .select(key, rep.alias("representative_id"),
                (rep != F.col(key)).alias("is_duplicate"))
    )


def pagerank(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    damping: float = 0.85, iterations: int = 5, round_to: int = 6,
) -> DataFrame:
    """Fixed-iteration PageRank with uniform dangling-mass redistribution
    over a directed edge set (pairs must be distinct — parallel edges
    would double-count contributions).  Returns (node, rank) with rank
    rounded to ``round_to`` decimals; per-iteration ranks are unrounded
    doubles, and total mass is exactly 1 per iteration up to float error
    (the dangling term re-injects the rank of out-degree-0 nodes).

    Scale shape: the edge list is joined with its out-degree table ONCE
    outside the loop and checkpointed, so each iteration is one
    src-keyed broadcast-or-shuffle join plus one dst-keyed aggregation —
    the same two-exchange round as connected_components — with
    ``localCheckpoint`` per round to cut lineage.  The node frame carries
    an ``is_dangling`` flag (the node never appears as a source), and
    every scalar the loop needs rides a checkpoint job as an
    ``Observation``: the node and dangling counts on the node frame's,
    each iteration's dangling mass on the previous ranks'.  So no job runs
    for a count or a per-iteration driver pull.  Fixed iteration count (no
    convergence probe) keeps the computation a closed deterministic
    function of the edge set, so an unrolled relational twin can gate it
    exactly.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # one aggregation over both endpoints: a node is dangling iff every
    # appearance is as a destination
    obs = Observation()
    nodes = (
        e.select(F.explode(F.array(
            F.struct(F.col("src").alias("node"), F.lit(False).alias("d")),
            F.struct(F.col("dst").alias("node"), F.lit(True).alias("d")),
        )).alias("_n"))
        .groupBy("_n.node")
        .agg(F.bool_and("_n.d").alias("is_dangling"))
        .observe(obs, F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("is_dangling").cast("long")).alias("nd"))
        .localCheckpoint()
    )
    n_nodes = obs.get["n"]
    if n_nodes == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    outdeg = e.groupBy("src").agg(
        F.count("*").cast("double").alias("deg"))
    # (src, dst, deg): the loop-invariant join, materialized once
    ew = e.join(outdeg, "src").localCheckpoint()
    inv_n = 1.0 / n_nodes
    ranks = nodes.withColumn("rank", F.lit(inv_n))
    dm = obs.get["nd"] * inv_n
    for _ in range(iterations):
        contrib = (
            ew.join(ranks.select(F.col("node").alias("src"), "rank"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
            .withColumnRenamed("dst", "node")
        )
        obs = Observation()
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node", "is_dangling",
                (
                    F.lit((1.0 - damping) * inv_n)
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0))
                       + F.lit(dm * inv_n))
                ).alias("rank"),
            )
            .observe(obs, F.sum(F.when(F.col("is_dangling"), F.col("rank")))
                     .alias("dm"))
            .localCheckpoint()
        )
        dm = obs.get["dm"] or 0.0
    return ranks.select("node", F.round("rank", round_to).alias("rank"))


def redirect_canonical_map(redirects: DataFrame) -> DataFrame:
    """Full redirect closure (north-rule canonicalization): follow redirect
    chains of any length to their terminal title.  Input: the raw
    (from_title, to_title) redirect map; output (from_title,
    canonical_title, hops)."""
    return transitive_closure_roots(
        redirects, src="from_title", dst="to_title"
    ).select(
        F.col("node").alias("from_title"),
        F.col("root").alias("canonical_title"),
        F.col("depth").alias("hops"),
    )


# closing-edge broadcast bound for triangle_counts: 8M canonical edges of
# two integral ids (~a few hundred MB as a built hash relation) —
# comfortably inside executor memory and the 8 GB broadcast cap; larger
# graphs, and ids of any other type (title strings have no fixed width),
# keep the shuffle semi-join
TRIANGLE_BROADCAST_MAX_EDGES = 8_000_000


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """Per-node triangle participation and local clustering coefficient
    over the undirected simple graph induced by ``edges``.

    Algorithm: degree-ordered edge orientation (the classic distributed
    triangle count — Suri & Vassilvitskii, WWW'11 "Counting Triangles and
    the Curse of the Last Reducer"): orient every canonical edge from the
    lower-(degree, id) endpoint to the higher, build wedges only at each
    triangle's LOWEST vertex, and close them with one semi-join against
    the oriented edge list.  Orientation bounds every join key's fanout
    by sqrt(|E|)-ish instead of the max degree, which is exactly what
    keeps the wedge join alive when the graph has hubs (the "last
    reducer" of the paper's title).  The relational oracle enumerates
    triangles by plain id-ordering instead — same triangle set, no
    orientation — so the skew trick itself is what gets gated.

    Output: (node, degree, n_triangles, clustering) for every node with
    degree >= 1, clustering = 2T / (d(d-1)) rounded 6 (0.0 when d < 2).
    """
    a, b = F.least(src, dst).alias("a"), F.greatest(src, dst).alias("b")
    e = (
        edges.where(F.col(src) != F.col(dst))
        .select(a, b).distinct()
        # canonical edges feed TWO consumers (the degree agg and the
        # orientation join) — materialize once instead of re-running the
        # caller's whole edge-generation subtree per consumer
        .localCheckpoint()
    )
    # edge count for the closing-join strategy pick below; cheap on the
    # just-checkpointed frame
    n_edges = e.count()
    # degree table feeds three consumers (both orientation joins + the
    # final output join): materialize it once, like pagerank's
    # loop-invariant edge⋈outdeg, instead of replicating its agg subtree
    deg = (
        e.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node").agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint()
    )
    ra = deg.select(F.col("node").alias("a"),
                    F.col("degree").alias("da"))
    rb = deg.select(F.col("node").alias("b"),
                    F.col("degree").alias("db"))
    # orient low (degree, id) -> high (degree, id)
    keyed = e.join(ra, "a").join(rb, "b")
    lo_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    oriented = keyed.select(
        F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lo_first,
               F.struct(F.col("db").alias("d"), F.col("b").alias("n")))
         .otherwise(
               F.struct(F.col("da").alias("d"), F.col("a").alias("n")))
         .alias("vk"),
    ).select("u", F.col("vk.n").alias("v"), F.col("vk").alias("vkey"))
    # the oriented edge list also feeds three consumers (wedge left,
    # wedge right, closing semi-join); without a checkpoint the whole
    # distinct+double-join orientation subtree is planned — and executed —
    # three times
    oriented = oriented.localCheckpoint()
    l = oriented.select("u", F.col("v").alias("v1"),
                        F.col("vkey").alias("k1"))
    r = oriented.select("u", F.col("v").alias("v2"),
                        F.col("vkey").alias("k2"))
    wedges = (
        l.join(r, "u")
        .where(F.col("k1") < F.col("k2"))
        .select("u", "v1", "v2")
    )
    closing = oriented.select(F.col("u").alias("v1"),
                              F.col("v").alias("v2"))
    # the wedge stream is O(sum of oriented-outdeg^2) — far larger than
    # the edge list it closes against.  When the edge list fits a
    # broadcast, probe it map-side so the wedge stream never crosses an
    # exchange (guide §3.1: broadcast replaces the shuffle of the BIG
    # side); past the bound, fall back to the shuffle semi-join.  The
    # checkpointed leaf defeats size estimation, hence the explicit
    # count-guarded hint — a row count bounds bytes only for fixed-width
    # integral ids.
    integral = all(isinstance(edges.schema[c].dataType, T.IntegralType)
                   for c in (src, dst))
    if integral and n_edges <= TRIANGLE_BROADCAST_MAX_EDGES:
        closing = F.broadcast(closing)
    tris = wedges.join(closing, ["v1", "v2"], "left_semi")
    per_node = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node", "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long")
              .alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce("n_triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)), 6,
            ).alias("clustering"),
        )
    )
