"""Fixed-iteration weighted PageRank over an edge DataFrame.

Iterative graph algorithm beyond the reference surface (SURVEY §2b ★),
companion to the pointer-jumping connected components in cluster.py.
A FIXED iteration count (no convergence test) keeps the computation a
pure deterministic dataflow, so the whole thing hash-checks against a
DuckDB recursive-CTE oracle — the same strategy that made the CC
clusters oracle-checkable.

rank_{k+1}(v) = (1-d)/N + d * Σ_{u→v} rank_k(u) · w(u,v) / outw(u)

Dangling mass is NOT redistributed (ranks sum to < 1 when sinks exist)
— both engines implement the same recurrence, which is what the oracle
checks; normalize downstream if proper probability mass is needed.

Scale design (100 TB edges): each iteration is one join of the rank
vector (|V| rows) to the out-weight-normalized edge list plus one
target-keyed aggregation — both hash-partitioned on vertex id with
map-side combine; the edge list is normalized ONCE before the loop.
The rank vector is re-used every iteration: by default each round is
eagerly localCheckpointed (checkpoint_interval=1, superseded blocks
unpersisted) so every round analyzes a constant-size plan and the
shared verts/trans subtrees execute once — the CC lesson
(cluster.py); checkpoint_interval=None restores the fully lazy
single-plan form.  A hub vertex (millions of
in-edges) skews only the Σ aggregation, which partial combine absorbs
map-side.  Zero Python UDFs; N is derived from the edge list with one
lazy 1-row broadcast (no driver action).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def pagerank(edges: DataFrame, src_col: str, dst_col: str,
             weight_col: str | None = None, damping: float = 0.85,
             iterations: int = 10,
             checkpoint_interval: int | None = 1) -> DataFrame:
    """(vertex, rank) after ``iterations`` synchronous updates from a
    uniform 1/N start.  Vertices = distinct union of sources and
    targets.  ``weight_col=None`` means unit weights.

    ``checkpoint_interval`` (r14): eagerly localCheckpoint the rank
    vector every k iterations, with ``trans``/``verts`` checkpointed
    once before the loop — the connected-components lesson
    (cluster.py): a purely lazy loop re-analyzes and RE-EXECUTES the
    shared subtrees per reference (``verts``'s distinct-union shuffle
    ran 11x, the normalize join 10x) and hands Catalyst one
    30-join mega-plan whose analysis cost alone dominated the nations
    fixture.  Superseded rank checkpoints are unpersisted as each
    successor materializes, so peak extra storage is one |V|-row
    block-set.  ``None`` restores the lazy single-plan behavior."""
    from .cluster import _checkpoint_rdd
    from .dedup import register_ckpt

    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        w.cast("double").alias("w"),
    )
    verts = (
        e.select(F.col("src").alias("vertex"))
        .unionByName(e.select(F.col("dst").alias("vertex")))
        .distinct()
    )
    # verts/trans (and the final surviving rank checkpoint below) are
    # registered in the session-cache ledger (ADVICE r14 #2): a bare
    # localCheckpoint would strand three persisted block-sets per call
    # to the async ContextCleaner — the caller's scoped release
    # (release_entries) or clear_band_cache frees them. Release is
    # one-way (register_ckpt doc); pagerank callers are
    # EAGER-construction lines, whose re-run rebuilds the plan.
    if checkpoint_interval is not None:
        verts = register_ckpt(verts.localCheckpoint())
    n = F.broadcast(verts.agg(F.count(F.lit(1)).alias("__n")))
    # normalize once: transition weight out of each source sums to 1
    outw = e.groupBy("src").agg(F.sum("w").alias("__ow"))
    trans = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("__ow")).alias("p")
    )
    if checkpoint_interval is not None:
        trans = register_ckpt(trans.localCheckpoint())
    rank = verts.crossJoin(n).select(
        "vertex", (F.lit(1.0) / F.col("__n")).alias("rank")
    )
    prev_ckpt = None
    last_ckpt_df = None
    for it in range(iterations):
        contrib = (
            trans.join(rank, trans["src"] == rank["vertex"])
            .select(F.col("dst").alias("vertex"),
                    (F.col("p") * F.col("rank")).alias("__c"))
            .groupBy("vertex")
            .agg(F.sum("__c").alias("__in"))
        )
        rank = (
            verts.join(contrib, "vertex", "left")
            .crossJoin(n)
            .select(
                "vertex",
                (
                    (1.0 - damping) / F.col("__n")
                    + damping * F.coalesce(F.col("__in"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        if (
            checkpoint_interval is not None
            and (it + 1) % checkpoint_interval == 0
            and it + 1 < iterations
        ):
            rank = rank.localCheckpoint()
            if prev_ckpt is not None:
                try:
                    prev_ckpt.unpersist(False)
                except Exception:
                    pass
            prev_ckpt = _checkpoint_rdd(rank)
            last_ckpt_df = rank
    if checkpoint_interval is not None and prev_ckpt is not None:
        # the final surviving rank checkpoint feeds the returned plan;
        # hand its lifetime to the ledger instead of stranding it
        register_ckpt(last_ckpt_df)
    return rank


def _canonical_edges(edges: DataFrame, src_col: str, dst_col: str,
                     assume_canonical: bool) -> DataFrame:
    """Undirected simple-graph canonical form (u < v, no self-loops,
    no duplicates, no NULLs). ``assume_canonical=True`` is the
    family-cache contract (queries._copurchase_family): the caller
    passes an ALREADY canonical, already-materialized edge table, so
    the least/greatest + distinct shuffle — and the operator's own
    eager checkpoint of it — are skipped."""
    if assume_canonical:
        return edges.select(
            F.col(src_col).alias("u"), F.col(dst_col).alias("v")
        )
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .where(F.col("u").isNotNull() & F.col("v").isNotNull())
        .distinct()
    )


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst",
    assume_canonical: bool = False,
) -> DataFrame:
    """One-row graph summary: (n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering) over an undirected simple graph (input edges are
    canonicalized: self-loops dropped, (u,v)/(v,u)/duplicates folded).

    Algorithm: degree-ordered compact-forward — rank every node by
    (degree, id), orient each edge from lower to higher rank, and join
    oriented wedges ``a→b, a→c (rank b < rank c)`` against the oriented
    edge set.  Orientation bounds every node's out-degree by O(√|E|)
    on skewed (power-law) graphs, so the wedge explosion a hub would
    cause under naive ``a<b<c`` id-ordering cannot happen — the classic
    trick that makes triangle counting feasible at billions of edges.
    Global clustering = 3·triangles / wedges (wedges = Σ C(deg, 2)).
    All joins are equi-joins on node ids; no Python."""
    e = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    deg = (
        e.select(F.col("u").alias("n")).unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # rank = (degree, id) total order; orient low rank -> high rank
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ranked = e.join(du, "u").join(dv, "v")
    fwd = ranked.select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
        )
        .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
        .alias("s")
    ).select("s.a", "s.b")
    # adjacency-intersection form of compact-forward (r15): per
    # oriented edge u→v, the closing vertices are exactly the common
    # out-neighbors |N⁺(u) ∩ N⁺(v)| — each triangle {a,b,c} with rank
    # a < b < c is counted once, at its lowest-rank EDGE (a,b), since
    # c ∈ N⁺(a) ∩ N⁺(b) while b ∉ N⁺(c) (no double count). Same count
    # as materializing the oriented wedge rows and equi-joining the
    # closing edge, but the O(Σ C(outdeg,2)) wedge table (35M rows on
    # the sf0.1 co-purchase graph vs 1.2M edges) never shuffles: the
    # intersection folds per edge row in codegen against two |V|-sized
    # adjacency relations. Orientation still bounds every out-list at
    # O(√E), so array payloads stay small on skewed graphs.
    adj = fwd.groupBy("a").agg(F.collect_list("b").alias("nbrs"))
    tris_per_edge = (
        fwd.join(adj.select(F.col("a"), F.col("nbrs").alias("__na")), "a")
        .join(
            adj.select(F.col("a").alias("b"), F.col("nbrs").alias("__nb")),
            "b",
        )
        .select(
            F.size(F.array_intersect("__na", "__nb")).alias("__t")
        )
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.coalesce(
            (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long"), F.lit(0)
        ).alias("n_wedges"),
    )
    ecount = e.agg(F.count(F.lit(1)).alias("n_edges"))
    tcount = tris_per_edge.agg(
        F.coalesce(F.sum("__t"), F.lit(0))
        .cast("long")
        .alias("n_triangles")
    )
    return (
        stats.crossJoin(ecount)
        .crossJoin(tcount)
        .select(
            "n_nodes", "n_edges", "n_wedges", "n_triangles",
            F.round(
                3.0 * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1)),
                6,
            ).alias("global_clustering"),
        )
    )


def kcore(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    k: int = 2,
    rounds: int = 10,
    checkpoint: bool = True,
    checkpoint_every: int = 1,
    early_stop: bool = True,
    round_timings: list | None = None,
    assume_canonical: bool = False,
) -> DataFrame:
    """Bounded-round k-core peel: repeatedly drop vertices of degree
    < k (and their edges) for ``rounds`` synchronous rounds; return the
    surviving vertices with their within-subgraph degree.

    The k-core (Seidman 1983) is the maximal subgraph where every
    vertex keeps degree >= k — the standard dense-region extractor
    (spam/bot rings, community nuclei). Full convergence can need up to
    |V| rounds on pathological paths; the fixed-round variant is the
    distributed-friendly form (same shape as the fixed-iteration
    pagerank above) and IS the k-core whenever a round removes nothing.
    Peeling is idempotent after convergence, so early rounds to spare
    are harmless.

    DELTA PEELING (round 12, VERDICT r11 #3): the edge set is
    materialized ONCE; per-round state is the per-vertex DEGREE table
    (|V| rows — 54x smaller than the sf0.1 edge set). A round drops
    the vertices whose maintained degree fell below ``k`` and
    decrements each surviving neighbor once per edge into the dropped
    set — arithmetically identical to recomputing degrees on the
    filtered subgraph (edges are distinct; an edge whose other
    endpoint died earlier targets a vertex already absent from the
    degree table, a no-op), so the round-for-round trajectory is
    BIT-IDENTICAL to the rebuild-the-edges formulation the oracle
    replays. The previous shape re-filtered and re-checkpointed the
    full edge set every round (SHUFFLE_AUDIT r11: 2.5 GB input for a
    54 MB edge set); now each round scans the one materialized edge
    table once (two broadcast-sized left joins against the newly-dead
    set under AQE) and checkpoints only the degree table.

    Scale shape: per round, one scan of the static edge table, one
    map-side-combined decrement count (only edges incident to newly
    dead vertices shuffle), one |V|-row degree update. Early rounds on
    a 100 TB graph can drop large vertex sets — the dead-set joins are
    plain equi-joins, so AQE picks broadcast only when the delta
    actually fits.

    Pass a list as ``round_timings`` to receive per-round wall seconds
    (VERDICT r8 #7 — each round ends at an eager checkpoint, so the
    wall is the round's real cost; no-op when ``checkpoint=False``
    since rounds are then lazy and have no per-round boundary).

    ``checkpoint_every`` (VERDICT r9 #6) sets the checkpoint cadence
    for the DEGREE table: N>1 materializes every N rounds; the lazy
    chain between barriers references the previous degree table three
    times per round (dead set x2 + survivor filter), so cadence 1
    stays the default — the per-round checkpoint is now a |V|-row
    write, cheap enough that wider cadences stopped mattering.

    ``early_stop`` ends peeling at a checkpoint boundary where the
    materialized degree-table row count is unchanged — rows leave the
    degree table exactly when a round drops vertices, so an unchanged
    count IS convergence, and the result is BIT-IDENTICAL to running
    all ``rounds`` (only wasted converged rounds are skipped). The
    probe is a count on the just-materialized |V|-row table and
    requires ``checkpoint=True``; the timings list then ends at the
    stopping round, which is itself the convergence evidence.
    """
    if k < 1 or rounds < 1:
        raise ValueError("k and rounds must be >= 1")
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    e = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    if checkpoint and not assume_canonical:
        e = e.localCheckpoint(eager=True)

    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    if checkpoint:
        deg = deg.localCheckpoint(eager=True)

    import time as _time

    prev_n = deg.count() if (checkpoint and early_stop) else None
    t0 = _time.perf_counter()
    for r in range(rounds):
        dead = deg.where(F.col("d") < k).select("n")
        marked = e.join(
            dead.select(F.col("n").alias("u"), F.lit(True).alias("__au")),
            "u",
            "left",
        ).join(
            dead.select(F.col("n").alias("v"), F.lit(True).alias("__av")),
            "v",
            "left",
        )
        # an edge with exactly ONE newly-dead endpoint decrements the
        # other; both-dead edges vanish with their endpoints, and a
        # stale edge (other endpoint died in an earlier round) targets
        # a vertex no longer in the degree table — a join no-op
        target = F.when(
            F.col("__au").isNotNull() & F.col("__av").isNull(), F.col("v")
        ).when(
            F.col("__av").isNotNull() & F.col("__au").isNull(), F.col("u")
        )
        decs = (
            marked.select(target.alias("n"))
            .where(F.col("n").isNotNull())
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("__dec"))
        )
        deg = (
            deg.where(F.col("d") >= k)
            .join(decs, "n", "left")
            .select(
                "n",
                (F.col("d") - F.coalesce(F.col("__dec"), F.lit(0))).alias(
                    "d"
                ),
            )
        )
        boundary = checkpoint and (
            (r + 1) % checkpoint_every == 0 or r == rounds - 1
        )
        if boundary:
            deg = deg.localCheckpoint(eager=True)
            if round_timings is not None:
                round_timings.append(_time.perf_counter() - t0)
            t0 = _time.perf_counter()
            if early_stop:
                n = deg.count()
                if n == prev_n:
                    break
                prev_n = n

    # vertices with no surviving edge carry degree 0 — absent from the
    # edge-set formulation's output (degrees of the final edge table)
    return deg.where(F.col("d") >= 1).select(
        F.col("n").alias("node"), F.col("d").alias("degree")
    )


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    rounds: int = 5,
    checkpoint: bool = True,
    checkpoint_every: int | None = None,
    track_convergence: bool = False,
    round_timings: list | None = None,
    assume_canonical: bool = False,
):
    """Bounded-round SYNCHRONOUS label propagation (Raghavan et al.
    2007) for community detection: every vertex starts as its own
    label; each round, every vertex adopts the most frequent label
    among its neighbors, ties broken by the SMALLEST label — fully
    deterministic, so the fixed-round output is SQL-replayable round
    for round (unlike the classic asynchronous sweep, whose result
    depends on visit order).

    Scale shape (the kcore/pagerank posture): one round = an edge ⋈
    label join (shuffle keyed by vertex id), a (vertex, label) count,
    and an argmax-by-(count DESC, label ASC) via ``max(struct)`` — no
    window over the corpus, no Python. Labels localCheckpoint per
    round (each round's plan references the previous labels twice) —
    registry entries land in EAGER_QUERIES. Isolated vertices keep
    their own label.

    Synchronous LPA can oscillate 2-cycles on bipartite cores — the
    bounded-round contract reports the round-``rounds`` state, exactly
    what the oracle replays; pick even/odd rounds consciously if you
    chase a fixpoint.  Labels spread ONE hop per round from singleton
    initialization, so size ``rounds`` ≳ community diameter + margin:
    a stress run on 200 planted 5k-vertex blocks (diameter ~5)
    recovers 6%/81%/98% of vertices at 4/8/12 rounds.

    ``track_convergence=True`` (VERDICT r8 #8) counts, per round, how
    many vertices changed label — one extra equi-join + count over the
    already-checkpointed label sets — and returns
    ``(df, {"changed_per_round": [...], "rounds_run": r, "converged":
    bool})`` instead of the bare DataFrame, so callers size ``rounds``
    empirically instead of by diameter guess. A round with zero
    changes is a fixpoint of the synchronous update (the next round
    recomputes the identical labels), so iteration stops early there
    — the returned labels equal the full-``rounds`` result exactly.

    Output: (node, label, community_size); with tracking, the
    (DataFrame, info) tuple above. ``round_timings`` (a caller list)
    receives per-round wall seconds, as in ``kcore``.

    ``checkpoint_every`` (VERDICT r10 #5, the kcore knob): labels are
    localCheckpointed on that round cadence (plus the final round).
    Unlike kcore — whose round references its input THRICE, so a lazy
    2-round chain re-derives 3× and cadence 1 wins (BASELINE.md
    round-10 table) — an LPA round references the previous labels
    ONCE, so the un-checkpointed chain grows linearly and a wider
    cadence only skips 2|V|-row cache write/reads. Measured on the
    10M-edge power-law stress (BASELINE.md
    round-11 table): cadence 4 is fastest on both runs (19.0/22.7 s vs
    35.0/33.6 s at cadence 1) with 2.7× less stage input
    (16.0 → 6.0 GB); cadence 8 reads even less but pays optimizer/
    re-plan cost on the deeper chain. ``None`` (default) auto-picks:
    4, or 1 when ``track_convergence`` needs every round materialized.
    The result is BIT-IDENTICAL at any cadence (the recurrence is
    unchanged — only lineage-truncation points move), pinned in
    tests/test_lpa_entropy.py and by the sweep's xxhash fingerprint.

    Tracking requires ``checkpoint=True`` with cadence 1: the
    per-round changed-count action needs both rounds' label sets
    materialized — under a wider cadence it would re-execute the lazy
    chain every round, and round_timings would misattribute that cost.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if checkpoint_every is None:
        checkpoint_every = 1 if track_convergence else 4
    if checkpoint_every < 1:
        raise ValueError("checkpoint_every must be >= 1")
    if track_convergence and (not checkpoint or checkpoint_every != 1):
        raise ValueError(
            "track_convergence requires checkpoint=True with "
            "checkpoint_every=1 — the per-round count would re-execute "
            "the lazy chain"
        )
    und = _canonical_edges(edges, src_col, dst_col, assume_canonical)
    if checkpoint and not assume_canonical:
        und = und.localCheckpoint(eager=True)
    both = und.unionAll(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )  # (u=vertex, v=neighbor), each edge in both directions
    labels = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .distinct()
        .select("n", F.col("n").alias("label"))
    )
    if checkpoint:
        labels = labels.localCheckpoint(eager=True)
    import time as _time

    changed_per_round: list[int] = []
    rounds_run = 0
    for r in range(rounds):
        t0 = _time.perf_counter()
        nbr = both.join(
            labels.withColumnsRenamed({"n": "v", "label": "nl"}), "v"
        ).select(F.col("u").alias("n"), "nl")
        counted = nbr.groupBy("n", "nl").agg(F.count(F.lit(1)).alias("c"))
        # argmax by (count DESC, label ASC) == min of the (-count,
        # label) struct — negating the count (not the label) keeps the
        # tie-break exact for any label domain
        best = counted.groupBy("n").agg(
            F.min(F.struct((-F.col("c")).alias("nc"),
                           F.col("nl").alias("l"))).alias("b")
        ).select("n", F.col("b.l").alias("label"))
        # vertices with no neighbor rows cannot occur (every vertex has
        # degree >= 1 by construction), so best covers all of labels
        prev = labels
        labels = best
        boundary = checkpoint and (
            (r + 1) % checkpoint_every == 0 or r == rounds - 1
        )
        if boundary:
            labels = labels.localCheckpoint(eager=True)
            if round_timings is not None:
                round_timings.append(_time.perf_counter() - t0)
        rounds_run += 1
        if track_convergence:
            changed = (
                labels.join(
                    prev.withColumnRenamed("label", "__prev"), "n"
                )
                .where(F.col("label") != F.col("__prev"))
                .count()
            )
            changed_per_round.append(changed)
            if changed == 0:
                break
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    out = labels.join(sizes, "label").select(
        F.col("n").alias("node"), "label", "community_size"
    )
    if track_convergence:
        return out, {
            "changed_per_round": changed_per_round,
            "rounds_run": rounds_run,
            "converged": bool(changed_per_round
                              and changed_per_round[-1] == 0),
        }
    return out
