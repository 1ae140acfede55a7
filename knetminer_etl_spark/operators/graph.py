"""Graph algorithms over the PG / edge relations, DataFrame-native.

The north-star approach calls for graph processing on top of the
constructed knowledge graph. GraphX has no Python API and GraphFrames is
an external package, so the algorithms here are expressed directly as
iterative DataFrame programs — the same join/agg shapes GraphFrames
compiles to, without the dependency:

* :func:`connected_components` — large-star / small-star contraction
  to min-id components in O(log n) rounds (a driver union-find for
  small graphs). Used for dedup clustering (near-dup pairs →
  canonical groups).
* :func:`degrees` — in/out/total degree per node.
* :func:`k_hop_neighbors` — BFS frontier expansion.
* :func:`pagerank` — power iteration with uniform teleport.

Scale notes: every round shuffles on the join key only; frontiers/labels
are checkpointed every few rounds (`localCheckpoint`) to truncate the
growing lineage — standard practice for iterative Spark jobs. Label
propagation is deterministic (min over ids), so results are
oracle-reproducible (DuckDB recursive CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .util import pin_observe as _pin_observe


def _sym_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected view: both directions, no self-loops, distinct."""
    fwd = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    rev = edges.select(F.col(dst).alias("src"), F.col(src).alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood. Output stays
    canonically oriented (u > v)."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: every node links all its smaller neighbors (and
    itself) to the smallest of them. Input/output oriented u > v."""
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    nbr = (
        e.join(mins, on="u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    own = mins.select("u", F.col("m").alias("v"))
    return (
        nbr.unionByName(own).filter(F.col("u") != F.col("v")).distinct()
    )


#: distinct edges at or below which :func:`connected_components` labels
#: the graph with a driver union-find instead of star rounds
SMALL_GRAPH_EDGES = 100_000

# most-recent connected_components run: {"edges": n, "rounds": r} —
# read by scale sweeps to attribute runtime to input volume (same
# pattern as LAST_CLOSURE_STATS below)
LAST_COMPONENT_STATS: dict = {}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    node_id: str = "id",
    max_iterations: int = 50,
    edges_canonical: bool = False,
    _stats: dict | None = None,
) -> DataFrame:
    """(id, component) — component = min node id reachable (undirected).

    Alternating **large-star / small-star** rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): each round is two
    groupBy+join passes and the edge set contracts toward star graphs
    rooted at component minima in **O(log n) rounds** — unlike plain
    min-label propagation, whose round count is the graph *diameter*
    (a 100 TB graph with one long chain would run thousands of full
    join+agg rounds; see tests/test_graph.py long-chain case). Converges
    when the per-round edge-set fingerprint (count + hash sum — one
    cheap agg action) stops changing.

    **Size-adaptive dispatch**: the distinct edge count rides the input
    pin job (``observe``, no extra action); at or below
    :data:`SMALL_GRAPH_EDGES` edges the star rounds are pure
    job-latency — a bounded union-find over the collected edge list
    (the driver-held-model-state pattern: ≤ ~1.6 MB at the default
    100k) labels the graph in one collect + one broadcast-sized join,
    with IDENTICAL min-id components. On any real corpus the near-dup
    graph blows past the threshold and the log-round distributed path
    runs; the threshold exists because a 100k-edge graph should be
    solved on the driver even on a 1000-executor cluster.

    Every round pins its output (`localCheckpoint`) and checks the
    fingerprint inside that pin job: each star joins its input with an
    aggregate OF that input — two references — so un-pinned chaining
    recomputes prior rounds exponentially (measured 3.5x on the
    benchmark dedup graph when two rounds shared one checkpoint).
    """
    # the module-global record is ALWAYS this run's (so readers like
    # tools/scale_check.py never see a previous run's numbers); a
    # caller-supplied _stats dict gets the same keys set, nothing cleared
    LAST_COMPONENT_STATS.clear()
    sinks = [LAST_COMPONENT_STATS] + ([_stats] if _stats is not None else [])

    def _record(key: str, value: int) -> None:
        for d in sinks:
            d[key] = value

    # canonical orientation (u > v) + pin: the (possibly expensive)
    # upstream pair pipeline must not re-execute per round — and ids MUST
    # derive from the pinned relation, or the upstream runs a second time.
    # The edge count rides the pin job (observe) — free attribution data
    # for scale sweeps: a super-linear runtime is explainable only if the
    # input edge volume is recorded alongside it.
    #
    # Canonicalization is ONE narrow greatest/least projection + one
    # distinct: the previous _sym_edges composition doubled the edge set
    # (fwd ∪ rev), distinct'd the doubled set, THEN re-canonicalized with
    # a second distinct — two full edge exchanges for a set this single
    # distinct reproduces exactly ({(max(a,b), min(a,b)) : a ≠ b} either
    # way). ``edges_canonical`` (callers whose pair generators already
    # emit unique id-ordered, loop-free pairs — every near-dup engine
    # here) skips even that exchange: duplicates would be harmless to
    # the star rounds and the union-find alike, so the flag is a
    # physical-plan promise, not a correctness one.
    canon = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("u"),
        F.least(F.col(src), F.col(dst)).alias("v"),
    ).filter(F.col("u") != F.col("v"))
    if not edges_canonical:
        canon = canon.distinct()
    e, em = _pin_observe(canon, F.count(F.lit(1)).alias("n"))
    n_edges = int(em["n"])
    _record("edges", n_edges)

    if n_edges <= SMALL_GRAPH_EDGES:
        labels = _union_find_min_labels(
            (r["u"], r["v"]) for r in e.collect()
        )
        _record("rounds", 0)
        # non_root = |{id : label ≠ id}| — the exact size of a
        # min-representative drop set. Callers that filter by
        # `id != component` (drop_near_dups) read it from ``_stats`` to
        # compute survivor counts with driver arithmetic instead of a
        # counting pass (the labels are already driver-resident here).
        _record(
            "non_root", sum(1 for k, v in labels.items() if k != v)
        )
        schema = T.StructType(
            [
                T.StructField("id", e.schema["u"].dataType),
                T.StructField("component", e.schema["v"].dataType),
            ]
        )
        child = e.sparkSession.createDataFrame(
            sorted(labels.items()), schema
        )
        if nodes is None:
            # With no `nodes`, the contract output is exactly the
            # distinct edge endpoints with their labels — which the
            # driver relation already holds verbatim. The previous plan
            # re-derived that id set from the pinned edges and
            # broadcast-joined the labels back: one distinct exchange +
            # one broadcast build per call for rows the driver computed
            # anyway (measured 7.06 → 6.55 s best-of-4 on
            # doc_pipeline_stages, whose near-dup stage anti-joins this
            # relation).
            return child
        ids = (
            e.select(F.col("u").alias("id"))
            .unionByName(e.select(F.col("v").alias("id")))
            .unionByName(nodes.select(F.col(node_id).alias("id")))
            .distinct()
        )
        return (
            ids.join(F.broadcast(child), on="id", how="left")
            .select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
        )

    ids = e.select(F.col("u").alias("id")).unionByName(
        e.select(F.col("v").alias("id"))
    )
    if nodes is not None:
        ids = ids.unionByName(nodes.select(F.col(node_id).alias("id")))
    # lazy: ids is referenced exactly once (the final label join) and it
    # derives from the PINNED edge relation plus the caller's node scan —
    # an eager pin here was one extra job + block write per call with
    # nothing to protect from recompute
    ids = ids.distinct()

    prev_fp = None
    rounds = 0
    for _ in range(max_iterations):
        # the round's fingerprint rides inside the pin job
        # (observe) — no separate convergence action
        e, fp = _pin_observe(
            _small_star(_large_star(e)),
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent, overflow-free edge-set digest
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        )
        rounds += 1
        if (fp["n"], fp["h"]) == prev_fp:
            break
        prev_fp = (fp["n"], fp["h"])
    _record("rounds", rounds)

    # at fixpoint e is a star forest: (child, root) with root = component
    # min; nodes absent from e are their own component
    child = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        ids.join(child, on="id", how="left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def _union_find_min_labels(pairs) -> dict:
    """Pure path-compressed union-find over an iterable of (u, v) edges:
    {node: min id of its component} for every node that appears.
    Property-tested against a BFS reference on arbitrary graphs
    (tests/test_properties_round7.py)."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    return {x: comp_min[find(x)] for x in parent}


def degrees(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, out_degree, in_degree, degree) per node appearing in an edge."""
    out_d = edges.groupBy(F.col(src).alias("id")).agg(
        F.count("*").alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst).alias("id")).agg(
        F.count("*").alias("in_degree")
    )
    return (
        out_d.join(in_d, on="id", how="full")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
        .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
    )


def k_hop_neighbors(
    edges: DataFrame,
    start: DataFrame,
    k: int = 2,
    src: str = "src",
    dst: str = "dst",
    start_id: str = "id",
) -> DataFrame:
    """(id, min_hops) for every node within k hops of the start set
    (directed BFS; min_hops=0 for the start nodes)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    visited = start.select(F.col(start_id).alias("id")).distinct().withColumn(
        "min_hops", F.lit(0)
    )
    frontier = visited
    for hop in range(1, k + 1):
        nxt = (
            e.join(frontier, e["src"] == frontier["id"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited.select("id"), on="id", how="left_anti")
            .withColumn("min_hops", F.lit(hop))
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(id, triangles) — number of triangles each node participates in
    (undirected; parallel edges / self-loops ignored).

    Degree-ordered orientation (the MapReduce-standard trick): orient
    every undirected edge from the endpoint that is *smaller* in the
    total order (degree, id) to the larger one. Each triangle then has
    exactly ONE apex with two outgoing oriented edges, so wedges are
    enumerated once — and the per-node wedge fan-out is bounded by the
    oriented out-degree, which is O(sqrt(m)) even for celebrity nodes.
    On a skewed 100 TB graph the naive adjacency self-join explodes on
    the hub nodes; orientation caps exactly that term. Shapes: two
    shuffles (degree agg, wedge join) plus one semi-join against the
    oriented edge set; no UDFs.
    """
    sym = _sym_edges(edges, src, dst)
    deg = sym.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("deg"))
    # attach (deg, id) order keys to both endpoints; orient small -> large
    e = (
        sym.join(deg.select(F.col("id").alias("src"), F.col("deg").alias("ds")), on="src")
        .join(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dd")), on="dst")
        .filter(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select(
            F.col("src").alias("u"),
            F.col("dst").alias("v"),
            F.struct(F.col("dd").alias("d"), F.col("dst").alias("i")).alias("vkey"),
        )
    )
    # wedges at apex u: unordered pairs of oriented out-neighbors
    e1 = e.select(F.col("u"), F.col("v").alias("a"), F.col("vkey").alias("akey"))
    e2 = e.select(F.col("u"), F.col("v").alias("b"), F.col("vkey").alias("bkey"))
    wedges = e1.join(e2, on="u").filter(F.col("akey") < F.col("bkey"))
    # a triangle = a wedge whose (a, b) pair is itself an oriented edge
    tri = wedges.join(
        e.select(F.col("u").alias("a"), F.col("v").alias("b")),
        on=["a", "b"],
        how="left_semi",
    ).select("u", "a", "b")
    per_node = (
        tri.select(F.explode(F.array("u", "a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return per_node


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """(id, rank) by power iteration with uniform dangling redistribution:

        rank'(v) = (1-d)/n + d * (inflow(v) + dangling/n)

    where ``dangling`` is the summed rank of nodes without out-edges —
    redistributed **uniformly** (adding d·dangling/n to every node), the
    standard semantics; ranks sum to 1 every iteration by construction,
    so there is no renormalization pass. The dangling mass is computed
    inside the same distributed pass (a 1-row left_anti aggregate
    crossJoined into the update), never collected on the driver — one
    Spark job per iteration (plus the periodic lineage checkpoint).
    Deterministic for a fixed iteration count; loop-invariant relations
    (edges, node set, out-degrees) are pinned once with localCheckpoint,
    and each iteration's result is pinned too — ``ranks`` is referenced
    TWICE per round (contribs join + dangling aggregate), so an unpinned
    chain would double the recomputed lineage every iteration.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ids = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = ids.count()
    out_deg = (
        e.groupBy("src").agg(F.count("*").alias("_deg")).localCheckpoint(eager=True)
    )
    ranks = ids.withColumn("rank", F.lit(1.0 / n))
    for i in range(iterations):
        contribs = (
            e.join(ranks, e["src"] == ranks["id"])
            .join(out_deg, on="src")
            .select(F.col("dst").alias("id"), (F.col("rank") / F.col("_deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
        )
        dangling = (
            ranks.join(
                out_deg.select(F.col("src").alias("id")), on="id", how="left_anti"
            )
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
        )
        ranks = (
            ids.join(contribs, on="id", how="left")
            .crossJoin(dangling)
            .select(
                "id",
                (
                    F.lit((1 - damping) / n)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + F.col("_dangling") / n
                    )
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    # floor(x*1e8 + 0.5)/1e8, not round(): decimal HALF_UP vs float
    # rounding diverge on exact 8-dp ties (the q2/ewma divergence class)
    return ranks.select(
        "id", (F.floor(F.col("rank") * 1e8 + F.lit(0.5)) / 1e8).alias("rank")
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """(id, label) community detection by synchronous label propagation
    (Raghavan et al. 2007, the GraphFrames `labelPropagation` semantics
    made deterministic): labels start as node ids; each round every node
    adopts the most frequent label among its neighbors, ties to the
    SMALLEST label, isolated nodes keep their own. Fixed ``iterations``
    synchronous rounds → deterministic, SQL-oracle-reproducible (unlike
    the async/random-order variants).

    Scale shape per round: one edge⋈labels join (shuffle on the node
    id), one (node, label) count aggregate (map-side combined), one
    argmax-by-(count, label) aggregate — the same two-exchange round as
    PageRank, state bounded by the node set. Loop invariants are pinned
    once; each round's labels are pinned (referenced by the next round's
    join) so lineage stays flat.
    """
    e = _sym_edges(edges, src, dst).distinct().localCheckpoint(eager=True)
    ids = (
        e.select(F.col("src").alias("id")).unionByName(
            e.select(F.col("dst").alias("id"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = ids.withColumn("label", F.col("id"))
    for _ in range(iterations):
        votes = (
            e.join(labels, e["src"] == labels["id"])
            .groupBy(F.col("dst").alias("nid"), "label")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc): min over (-count, label)
        best = votes.groupBy("nid").agg(
            F.min(F.struct((-F.col("c")).alias("nc"), F.col("label").alias("l")))[
                "l"
            ].alias("new_label")
        )
        labels = (
            ids.join(best, ids["id"] == best["nid"], "left")
            .select("id", F.coalesce("new_label", F.col("id")).alias("label"))
            .localCheckpoint(eager=True)
        )
    return labels


def find_motifs(edges: DataFrame, pattern: str) -> DataFrame:
    """GraphFrames-style motif finding: ``"(a)-[]->(b); (b)-[]->(c)"``
    returns one row per binding of the named vertices, columns named by
    the pattern variables. Each edge term compiles to one equi-join of
    the edge relation — the plan is exactly the chain of joins a hand-
    written query would build (Catalyst reorders/broadcasts as usual),
    so motif search inherits every join optimization instead of a
    bespoke traversal engine. Distinct vertex variables are NOT forced
    unequal (same as GraphFrames); filter afterwards for strict motifs.

    Grammar: semicolon-separated ``(x)-[]->(y)`` terms, variable names
    ``\\w+``. Duplicate variables express the topology (shared joins).
    """
    import re

    terms = [t.strip() for t in pattern.split(";") if t.strip()]
    rx = re.compile(r"^\((\w+)\)-\[\]->\((\w+)\)$")
    pairs: list[tuple[str, str]] = []
    for t in terms:
        m = rx.match(t)
        if not m:
            raise ValueError(f"bad motif term {t!r}")
        pairs.append((m.group(1), m.group(2)))
    if not pairs:
        raise ValueError("empty motif pattern")

    out: DataFrame | None = None
    bound: set[str] = set()
    for i, (a, b) in enumerate(pairs):
        e = edges.select(F.col("src").alias(f"_s{i}"), F.col("dst").alias(f"_d{i}"))
        if out is None:
            out = e.select(F.col(f"_s{i}").alias(a), F.col(f"_d{i}").alias(b))
            bound |= {a, b}
            continue
        conds = []
        if a in bound:
            conds.append(F.col(a) == F.col(f"_s{i}"))
        if b in bound:
            conds.append(F.col(b) == F.col(f"_d{i}"))
        if not conds:
            raise ValueError(
                f"term ({a})->({b}) shares no variable with earlier terms"
            )
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        out = out.join(e, cond)
        if a not in bound:
            out = out.withColumn(a, F.col(f"_s{i}"))
        if b not in bound:
            out = out.withColumn(b, F.col(f"_d{i}"))
        bound |= {a, b}
        out = out.drop(f"_s{i}", f"_d{i}")
    return out.select(*sorted(bound))


def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    id_col: str = "id",
    max_rounds: int = 20,
) -> DataFrame:
    """(id, dist): minimum path weight from any source node, by
    distributed Bellman-Ford relaxation — the weighted generalization of
    :func:`k_hop_neighbors` (which this matches when every weight is 1).

    Each round relaxes every edge once: ``dist' = min(dist, min over
    in-edges (dist[src] + w))`` — one join + one min-aggregate per
    round, converging in at most (longest shortest path in hops) rounds;
    the loop exits early when a round improves nothing (one bounded
    count action per round, the same driver-coordination shape as
    :func:`connected_components`). Negative weights are rejected:
    monotone distances are what make the early-exit test correct.
    Frontier state is pinned per round (``dist`` is referenced by the
    relax join AND the frontier union — unpinned, lineage doubles per
    round); the convergence fingerprint rides inside each pin job via
    ``observe``, so a round is ONE driver-synchronized action. Unreachable nodes are absent from the output. If
    ``max_rounds`` is exhausted while relaxations are still improving,
    the result could be silently too large — that raises instead;
    rerun with ``max_rounds`` ≥ longest shortest path in hops, plus
    one verification round to observe the fixpoint.
    """
    # weight-sign probe rides the pin job (observe) — no separate scan
    e, em = _pin_observe(
        edges.select(
            F.col(src).alias("_s"),
            F.col(dst).alias("_d"),
            F.col(weight).cast("double").alias("_w"),
        ),
        F.min("_w").alias("w_min"),
    )
    if em["w_min"] is not None and em["w_min"] < 0:
        raise ValueError("shortest_paths requires non-negative weights")
    _fp = lambda: [  # noqa: E731 — order-independent (id, dist) digest
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("_id", "_dist")), F.lit(0)).alias("h"),
    ]
    dist, dm = _pin_observe(
        sources.select(F.col(id_col).alias("_id"))
        .distinct()
        .withColumn("_dist", F.lit(0.0)),
        *_fp(),
    )
    prev_fp = (dm["n"], dm["h"])
    for _ in range(max_rounds):
        # convergence via the round's (id, dist) fingerprint computed
        # inside the pin job — distances are monotone non-increasing and
        # the id set monotone non-decreasing, so the set is unchanged iff
        # no relaxation improved anything (same count + hash discipline
        # as connected_components; a 64-bit digest collision on a CHANGED
        # set is the ~2^-64 residual risk, traded for one fewer join +
        # action per round)
        relaxed, rm = _pin_observe(
            e.join(dist, e["_s"] == dist["_id"])
            .select(F.col("_d").alias("_id"), (F.col("_dist") + F.col("_w")).alias("_dist"))
            .unionByName(dist)
            .groupBy("_id")
            .agg(F.min("_dist").alias("_dist")),
            *_fp(),
        )
        dist = relaxed
        if (rm["n"], rm["h"]) == prev_fp:
            break
        prev_fp = (rm["n"], rm["h"])
    else:  # loop exhausted without a no-improvement round
        raise RuntimeError(
            f"shortest_paths did not converge in max_rounds={max_rounds}: "
            "distances are still improving, so returned values would be "
            "over-estimates for some nodes. Rerun with a larger max_rounds "
            "(needed: the longest shortest path in hops)."
        )
    # tie-safe 6-dp emission (the q2/ewma divergence class)
    return dist.select(
        F.col("_id").alias(id_col),
        (F.floor(F.col("_dist") * 1e6 + F.lit(0.5)) / 1e6).alias("dist"),
    )


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
) -> DataFrame:
    """All (ancestor, descendant) reachability pairs of a DAG — the
    ontology-hierarchy closure (is-a/part-of roll-up), by iterative
    path DOUBLING: each round joins the current closure with itself, so
    path length covered grows 2^round and a depth-d hierarchy closes in
    ⌈log2 d⌉ rounds — not the d rounds of edge-at-a-time recursion (the
    recursive-CTE shape the oracle uses).

    Per round: one self-join on the frontier column + distinct (two
    shuffles), result pinned (referenced by next round's both join
    sides AND the convergence count). Early exit when a round adds no
    pairs. Output size is the closure itself — for hierarchy-like DAGs
    (bounded depth × out-degree) that is O(nodes × depth), the roll-up
    tables OLAP needs anyway; for dense general DAGs it is quadratic,
    and THAT, not the computation shape, is the scale bound to check.
    Self-loops/cycles would never converge and are rejected up front
    (cheap diagonal check; full cycle detection is the caller's DAG
    contract).
    """
    # pair count + self-loop count ride each pin job (observe): one
    # driver-synchronized action per round instead of three (pin,
    # convergence count, cycle probe) — both metrics are EXACT aggregates
    _m = lambda: [  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("a") == F.col("b")).cast("int")).alias("loops"),
    ]
    cl, cm = _pin_observe(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct(),
        *_m(),
    )
    if (cm["loops"] or 0) > 0:
        raise ValueError("transitive_closure requires a DAG (self-loop found)")
    n = cm["n"]
    for _ in range(max_rounds):
        doubled, dm = _pin_observe(
            cl.alias("l")
            .join(cl.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
            .unionByName(cl)
            .distinct(),
            *_m(),
        )
        if (dm["loops"] or 0) > 0:
            raise ValueError("cycle detected: closure reached a == b")
        cl = doubled
        m = dm["n"]
        if m == n:
            break
        n = m
    else:  # loop exhausted while pairs were still being added
        raise RuntimeError(
            f"transitive_closure did not converge in max_rounds={max_rounds}: "
            "the last doubling still added pairs, so the closure is "
            "incomplete. Path doubling covers 2^max_rounds-hop paths — "
            "raise max_rounds (needed: ceil(log2(max depth)))."
        )
    LAST_CLOSURE_STATS.clear()
    LAST_CLOSURE_STATS.update({"pairs": int(n), "edges": int(cm["n"])})
    return cl.select(F.col("a").alias("ancestor"), F.col("b").alias("descendant"))


#: Driver-side stats of the last closure computed in this process
#: (pairs = output volume, edges = input volume) — recorded by
#: tools/scale_check.py so a super-linear closure RUNTIME ratio is
#: attributable to output growth (reachable pairs grow super-linearly
#: with hierarchy fan-out) rather than a plan defect.
LAST_CLOSURE_STATS: dict = {}


def bounded_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 3,
) -> DataFrame:
    """(ancestor, descendant, depth) reachability pairs within
    ``max_depth`` hops, depth = MINIMUM hop count — the production form
    of :func:`transitive_closure` for graphs where the full closure is
    output-infeasible (a depth-d cap bounds output at
    O(nodes × out-degree^d) however deep the graph runs).

    Frontier BFS, one round per depth level: each round joins only the
    NEWLY discovered pairs against the edge relation and anti-joins the
    accumulated closure, so per-round work is O(new pairs × out-degree),
    never O(closure²); rounds are pinned (referenced by the next
    round's join, the anti-join, and the output) with the convergence
    count riding the pin job. Early exit when a level adds nothing.
    Unlike the full closure, cycles are tolerated: the anti-join stops
    re-expansion, and the depth bound guarantees termination.
    """
    from .util import pin_observe as _pin_observe

    base, bm = _pin_observe(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct(),
        F.count(F.lit(1)).alias("n"),
    )
    frontier = base.withColumn("depth", F.lit(1))
    levels = [frontier]
    total = int(bm["n"])
    for d in range(2, max_depth + 1):
        grown = (
            frontier.alias("l")
            .join(base.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
            .distinct()
        )
        for seen in levels:
            grown = grown.join(seen.select("a", "b"), on=["a", "b"], how="left_anti")
        new, nm = _pin_observe(
            grown.withColumn("depth", F.lit(d)), F.count(F.lit(1)).alias("n")
        )
        if int(nm["n"]) == 0:
            break
        total += int(nm["n"])
        levels.append(new)
        frontier = new
    LAST_CLOSURE_STATS.clear()
    LAST_CLOSURE_STATS.update({"pairs": total, "edges": int(bm["n"])})
    out = levels[0]
    for lvl in levels[1:]:
        out = out.unionByName(lvl)
    return out.select(
        F.col("a").alias("ancestor"), F.col("b").alias("descendant"), "depth"
    )
