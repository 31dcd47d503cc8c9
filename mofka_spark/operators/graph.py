"""Distributed connected components for dedup keeper assignment.

minhash_lsh_dedup's default single-hop keeper (keeper = min neighbor)
misses transitive chains A~B~C where A-C is not itself an edge. This
module provides the full iterative pass: min-label propagation to a
fixed point, the standard Spark formulation (each round is one shuffle
on node id; lineage is cut per round with localCheckpoint so plans stay
flat). Rounds needed = graph diameter — near-dup graphs are
shallow (clusters of near-identical docs), so this converges in 2-3
rounds in practice.

Reference has no graph ops; this extends SURVEY.md §2.7's dedup
pipeline to exact cluster semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    method: str = "propagation",
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns (id, component) where component = min node id reachable.
    Converges when no label changes; raises if max_iter is exhausted
    (pathological diameter — raise max_iter or densify edges first).

    ``method`` picks the iteration scheme:

    - ``"propagation"`` (default): min-label propagation, one shuffle
      per round, rounds = graph DIAMETER. Right for near-dup graphs
      (clusters of near-identical docs are shallow — 2-3 rounds).
    - ``"alternating"``: large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14),
      rounds = O(log n) INDEPENDENT of diameter. Right for crawl/web
      graphs, whose link chains run to diameters in the tens or
      hundreds — diameter-bound propagation is the one 100×-unsafe
      plan on that path.
    """
    if method == "alternating":
        return connected_components_alternating(
            edges, src_col, dst_col, max_iter
        )
    if method != "propagation":
        raise ValueError(f"unknown connected_components method {method!r}")
    # materialize the symmetrized edge list ONCE: it is joined in every
    # propagation round, and without a lineage cut each round would
    # re-run the (potentially expensive) upstream pipeline that
    # produced the edges — e.g. the full LSH candidate + verify plan.
    # LAZY checkpoint: the seed-label _label_sum action below
    # materializes sym and labels in ONE job instead of three (eager
    # checkpoints are each their own driver-synchronized job; the
    # blocks land identically either way)
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # seed labels with round 1's result directly: min over (self,
    # neighbors) is one aggregation — same shuffle the plain
    # distinct-ids init would cost, but it saves a full propagation
    # round (each round = a join + agg + materialization job)
    labels = (
        sym.groupBy(F.col("src").alias("id"))
        .agg(F.min(F.least("src", "dst")).alias("component"))
        .localCheckpoint(eager=False)
    )
    from mofka_spark.session import release_local_checkpoint

    def _label_sum(frame):
        # convergence witness: per-node labels are monotone
        # NON-INCREASING (each round takes min over own + neighbor
        # labels) and the id set is fixed, so the label sum strictly
        # decreases iff ANY label changed. decimal(38,0) keeps the sum
        # exact at any scale (1e12 nodes x 64-bit ids < 1e38), where a
        # long sum could wrap. One map-side-partial aggregate over the
        # checkpointed frame — the old test joined the full new and
        # old label frames every round, a per-round label-sized
        # shuffle that existed only to detect the fixed point.
        return frame.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        # candidate label per node: min over (own, neighbors' labels)
        neighbor = (
            sym.join(labels, sym.dst == labels.id)
            .select(F.col("src").alias("id"), F.col("component"))
        )
        # lazy checkpoint + the convergence aggregate as the ONE action
        # per round: _label_sum materializes the checkpoint blocks as a
        # side effect of computing the sum (eager=True would spend a
        # separate job on materialization and then a second on the sum)
        new_labels = (
            labels.select("id", "component")
            .union(neighbor)
            .groupBy("id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=False)
        )
        new_sum = _label_sum(new_labels)
        # the old round's checkpoint is dead once the new one is
        # materialized — release deterministically (GC-based release
        # is environment-dependent; long-lived sessions accumulate one
        # persisted RDD per round otherwise)
        release_local_checkpoint(labels)
        labels = new_labels
        if new_sum == prev_sum:
            release_local_checkpoint(sym)
            return labels
        prev_sum = new_sum
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def connected_components_alternating(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14 "Connected Components in MapReduce and Beyond", Alg. 2).

    Returns (id, component) where component = min node id reachable —
    identical output contract to :func:`connected_components`, but
    round count is O(log n) in the component size instead of O(graph
    diameter): each large-star hangs every higher neighbor off its
    local minimum (halving star depth), each small-star contracts the
    low side. A 100-TB crawl graph with link chains hundreds deep
    converges in ~10 rounds where propagation needs hundreds.

    Per round: two grouped aggregations + joins, all keyed on node id
    — no all-pairs stage, shuffle volume bounded by the (shrinking)
    edge set. Lineage is cut per round with localCheckpoint and the
    previous round's blocks are released deterministically.
    """
    from mofka_spark.session import release_local_checkpoint

    # orient (hi, lo), drop self-loops — the star edges stay oriented
    # child > parent throughout, so termination checks are exact.
    # LAZY checkpoints throughout: the per-round signature aggregate is
    # the round's ONE action and materializes the checkpoint blocks as
    # it runs (eager=True paid a separate materialization job per
    # round — one extra driver sync, measurable at the local
    # scheduler floor and pure overhead at cluster scale)
    cur = (
        edges.select(
            F.greatest(F.col(src_col), F.col(dst_col)).alias("u"),
            F.least(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _sig(frame) -> tuple:
        # exact-set signature: row count + order-free xor of row hashes
        # (xor never overflows; ANSI-safe)
        r = frame.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        return (r["n"], r["x"])

    sig = _sig(cur)
    if sig[0] == 0:
        return cur.select(
            F.col("u").alias("id"), F.col("v").alias("component")
        )
    for _ in range(max_iter):
        # large-star: every neighbor ABOVE u re-hangs onto u's local min
        sym = cur.union(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m"))
        )
        # no distinct here: each sym row emits at most one pair, so the
        # frame is bounded by 2|E| rows — the round's single dedup
        # happens once at the end (small's distinct), saving one full
        # shuffle per round
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star: u and its below-u neighbors contract onto their min
        mins_s = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins_s, "u")
            .select(
                F.explode(F.array(F.col("u"), F.col("v"))).alias("n"),
                F.col("m"),
            )
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_sig = _sig(small)
        release_local_checkpoint(cur)
        cur = small
        if new_sig == sig:
            # fixed point: disjoint stars (child -> component root)
            children = cur.select(
                F.col("u").alias("id"), F.col("v").alias("component")
            )
            roots = (
                cur.select(F.col("v").alias("id"))
                .distinct()
                .select("id", F.col("id").alias("component"))
            )
            out = (
                children.union(roots)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
            return out
        sig = new_sig
    raise RuntimeError(
        f"connected_components_alternating did not converge in "
        f"{max_iter} rounds"
    )


def assign_keepers(
    df: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    method: str = "propagation",
) -> DataFrame:
    """Transitive keeper assignment: every doc in a connected duplicate
    cluster maps to the cluster's min id. Returns
    (id, keeper_id, is_duplicate) over ALL docs in ``df``. ``method``
    as in :func:`connected_components`."""
    comp = connected_components(edges, src_col, dst_col, method=method)
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("component", "id").alias("keeper_id"),
            (F.col("component").isNotNull() & (F.col("component") != F.col("id"))).alias(
                "is_duplicate"
            ),
        )
    )


def triangle_count(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts and local clustering coefficient over
    an undirected simple graph — the cohesion diagnostic for near-dup
    graphs (a clique of k near-identical docs shows up as nodes with
    clustering 1.0 and C(k-1,2) triangles; a star of borderline pairs
    shows clustering 0).

    Returns (id, degree, triangles, clustering) for every node with
    degree >= 1, clustering = 2*triangles / (degree*(degree-1)) rounded
    to 6dp (0.0 for degree 1).

    Scale shape: the classic degree-ordered node-iterator — every edge
    is oriented from its lower-(degree, id) endpoint to the higher, so
    wedge enumeration fans out from LOW-degree vertices only: a
    k-degree hub contributes C(k,2) wedges in the naive id-ordering but
    nearly none here, which is what keeps the wedge join alive on
    power-law graphs. Cost = one degree aggregate, one self-join of the
    oriented adjacency on its source (wedges), one semi-join back onto
    oriented edges (closure test), one explode + count per node — every
    shuffle is keyed on node ids or (lo, hi) pairs, no all-pairs stage.
    Triangle counts are orientation-invariant, so an oracle using plain
    id-ordering agrees exactly.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym = e.select(F.col("a").alias("id"), F.col("b").alias("nb")).unionByName(
        e.select(F.col("b").alias("id"), F.col("a").alias("nb"))
    )
    deg = sym.groupBy("id").agg(F.count("*").cast("long").alias("degree"))
    # orientation key: (degree, id) — total order, hubs become sinks
    keyed = (
        e.join(deg.select(F.col("id").alias("a"), F.col("degree").alias("da")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("degree").alias("db")), "b")
        .select(
            "a",
            "b",
            F.struct(F.col("da").alias("d"), F.col("a").alias("n")).alias("ka"),
            F.struct(F.col("db").alias("d"), F.col("b").alias("n")).alias("kb"),
        )
    )
    oriented = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).localCheckpoint(eager=True)
    x, y = oriented.alias("x"), oriented.alias("y")
    wedges = x.join(y, F.col("x.src") == F.col("y.src")).filter(
        F.col("x.kdst") < F.col("y.kdst")
    ).select(
        F.col("x.src").alias("u"),
        F.col("x.dst").alias("v"),
        F.col("y.dst").alias("w"),
    )
    tris = wedges.join(
        oriented.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1)),
                    6,
                )
            )
            .alias("clustering"),
        )
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    damping: float = 0.85,
    iters: int = 5,
) -> DataFrame:
    """Power-iteration PageRank over an undirected graph — the
    link-analysis centrality used as a document-quality signal in web
    corpus curation (a page referenced by many near-duplicates /
    similar pages concentrates rank). Simplified variant: dangling
    (edge-less) nodes keep only the teleport term, with no dangling-
    mass redistribution — the ordering signal quality scoring needs,
    with fixed ``iters`` so the result is a deterministic closed form
    an oracle can replay exactly.

    r_0 = 1/N; r_{k+1}(v) = (1-d)/N + d * sum_{u~v} r_k(u)/deg(u).

    Scale shape: each iteration is ONE shuffle — contributions project
    scan-local (rank/deg along the symmetrized edge list) and reduce
    on the destination id. ``iters`` is small and fixed, so the rounds
    compose into ONE static plan over the once-checkpointed edge frame
    (the HITS discipline): no per-round driver job, no per-round
    checkpoint materialization — measured 30-32% faster at sf0.1 AND
    at 10x scale with bit-identical output (the per-round eager
    checkpoints were pure driver synchronization; plan depth at
    iters<=5 is well inside planner budgets).
    Returns (id, rank) with rank rounded to 6dp. The checkpointed edge
    frame stays referenced by the returned plan (read once per
    iteration), so its blocks live until the session ends.
    """
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    n = ids.count()
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    base = F.lit((1.0 - damping) / n)
    rank = ids.select("id", F.lit(1.0 / n).alias("r"))
    for _ in range(iters):
        contrib = (
            sym.join(rank, sym.src == rank.id)
            .join(deg, "src")
            .select(F.col("dst").alias("id"), (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        rank = (
            ids.join(contrib, "id", "left")
            .select(
                "id",
                (
                    base
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return rank.select("id", F.round("r", 6).alias("rank"))


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    release: list | None = None,
) -> DataFrame:
    """HITS hubs/authorities over a DIRECTED graph — pagerank's
    complement for crawl curation: authorities are pages many hubs
    point AT (content worth keeping), hubs are pages pointing at many
    authorities (link directories / navigation — often boilerplate to
    down-weight). L1-normalized variant with fixed ``iters`` so the
    result is a deterministic closed form an oracle can replay:

      h_0 = 1;  a_k(v) = sum_{u->v} h_{k-1}(u);
      h_k(u) = sum_{u->v} a_k(v);  normalize ONCE at the end.

    Scaling commutes through the linear iteration, so end-only L1
    normalization yields the SAME final normalized vectors as
    per-round normalization — and saves 2 driver round-trips and 2
    checkpoints per round (``iters`` is small and fixed, so doubles
    stay far from overflow: values grow at most like max_degree^(2k)).

    Returns (id, hub, authority) rounded to 6dp; edge-less nodes carry
    0 on both sides.

    Scale shape: each half-round is ONE shuffle — a join of the score
    frame onto the edge list reduced on the other endpoint; ``iters``
    is small and fixed, so the rounds compose into one static plan
    (no checkpoints needed — plan depth is 2*iters joins over the
    one materialized edge frame); the two L1 norms are window-free
    total aggregates computed in the same final job.

    ``iters`` must be in [1, 12]: iters=0 has no defined authority
    vector, and unnormalized doubles grow like max_degree^(2*iters) —
    at iters=12 even a degree-10^6 hub stays ~1e144, far inside double
    range, while unbounded iters on a power-law crawl graph would
    silently reach inf and normalize to NaN. Users needing deeper
    power iteration should normalize per round (the equivalence in the
    docstring makes that a drop-in loop around this function).

    ``release``: when given, the internally checkpointed edge frame is
    appended so a long-lived caller can free its blocks
    deterministically — pass each appended frame to
    ``session.release_local_checkpoint`` AFTER materializing the
    result (plain ``unpersist`` never touches localCheckpoint
    blocks). Without it the blocks are reclaimed only by GC +
    ContextCleaner, which a repeatedly-calling library session should
    not rely on."""
    if not 1 <= iters <= 12:
        raise ValueError(
            f"hits: iters must be in [1, 12], got {iters} (see "
            "docstring: 0 is undefined, >12 risks float overflow on "
            "high-degree graphs; normalize per round for deeper runs)"
        )
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    if release is not None:
        release.append(e)
    ids = nodes.select(F.col(id_col).alias("id")).distinct()
    h = ids.select("id", F.lit(1.0).alias("h"))
    a = None
    for _ in range(iters):
        a = (
            e.join(h, e.src == h.id)
            .groupBy("dst")
            .agg(F.sum("h").alias("a"))
            .select(F.col("dst").alias("id"), "a")
        )
        h = (
            e.join(a, e.dst == a.id)
            .groupBy("src")
            .agg(F.sum("a").alias("h"))
            .select(F.col("src").alias("id"), "h")
        )
    scored = (
        ids.join(h, "id", "left")
        .join(a, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("h"), F.lit(0.0)).alias("h"),
            F.coalesce(F.col("a"), F.lit(0.0)).alias("a"),
        )
    )
    # end-only L1 norms: a 1-row total aggregate broadcast back onto
    # the score frame (a global window would funnel every node through
    # ONE partition — this stays a map-side division at any scale)
    norms = scored.agg(
        F.sum("h").alias("_hs"), F.sum("a").alias("_as")
    )
    hs = F.when(F.col("_hs") == 0, F.lit(1.0)).otherwise(F.col("_hs"))
    as_ = F.when(F.col("_as") == 0, F.lit(1.0)).otherwise(F.col("_as"))
    out = scored.crossJoin(F.broadcast(norms)).select(
        "id",
        F.round(F.col("h") / hs, 6).alias("hub"),
        F.round(F.col("a") / as_, 6).alias("authority"),
    )
    # e's checkpoint stays referenced by the returned plan (read
    # 2*iters times); callers that outlive the result free it via the
    # ``release`` list + release_local_checkpoint. Nothing else
    # persists.
    return out
