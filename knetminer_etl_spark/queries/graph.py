"""Graph-analytics queries over the constructed knowledge graph.

``dedup_components`` closes the loop between the dedup operators and the
graph layer: near-dup pairs become edges, connected components become
canonical document groups (the standard corpus-dedup clustering step).
Its oracle is a DuckDB *recursive CTE* computing min-reachable-id — the
same deterministic labeling the iterative Spark program converges to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..runtime import catalog as CAT

from ..operators import dedup as DD
from ..operators import graph as G
from .pipeline import _SHINGLES_CTE


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) for every document; component = min doc_id of its
    near-duplicate cluster (word-3-shingle Jaccard ≥ 0.5).

    Pairs come from banded MinHash-LSH with true-Jaccard verification
    at the AUTO shape (operators/dedup._auto_minhash_shape: rows-per-
    band from the probed distinct-content count, bands restoring
    P(miss | j ≥ 0.5) ≤ 1e-6 per pair); the oracle is exact all-pairs
    Jaccard, which the LSH pair set reproduces bit-for-bit at every
    test scale (deterministic hashing, and the planted dups sit well
    above threshold)."""
    docs = CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")
    pairs = DD.minhash_lsh_pairs(docs, k=3, threshold=0.5)
    return G.connected_components(
        pairs, "id_a", "id_b", nodes=docs, node_id="doc_id",
        edges_canonical=True,
    )


_COMPONENTS_WALK = f"""
WITH RECURSIVE
{_SHINGLES_CTE},
jpairs AS (
  SELECT id_a, id_b
  FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
           count(*) AS inter
    FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  ) p
  WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5
),
gedges AS (
  SELECT id_a AS src, id_b AS dst FROM jpairs
  UNION
  SELECT id_b, id_a FROM jpairs
),
walk(id, comp) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.comp FROM walk w JOIN gedges e ON e.src = w.id
),
labels AS (SELECT id, min(comp) AS component FROM walk GROUP BY id)
"""

DEDUP_COMPONENTS_SQL = _COMPONENTS_WALK + """
SELECT id, component FROM labels
"""


def dedup_corpus_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-dedup composition: near-dup pairs → components →
    one canonical keeper per cluster with its cluster size — what an LLM
    training-data pipeline actually runs to drop near-duplicates."""
    docs = CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.near_dup_clusters(docs, k=3, threshold=0.5)


DEDUP_CORPUS_SQL = _COMPONENTS_WALK + """
SELECT component AS keep_id, count(*) AS cluster_size
FROM labels GROUP BY component
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster survivors: per near-dup cluster (word-
    3-shingle Jaccard ≥ 0.5), keep the member with the most tokens
    (ties → min doc_id) — the keep-the-better-document dedup policy
    (operators/dedup.dedup_keep_best)."""
    docs = CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")
    return DD.dedup_keep_best(docs, k=3, threshold=0.5).orderBy("doc_id")


DEDUP_KEEP_BEST_SQL = _COMPONENTS_WALK + """
, sized AS (
  SELECT l.id, l.component, len(t.t) AS score,
         count(*) OVER (PARTITION BY l.component) AS cluster_size,
         row_number() OVER (PARTITION BY l.component
                            ORDER BY len(t.t) DESC, l.id) AS rn
  FROM labels l JOIN toks t ON t.doc_id = l.id
)
SELECT id AS doc_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(score AS INT) AS score
FROM sized WHERE rn = 1 ORDER BY doc_id
"""


def doc_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split keyed on the
    near-dup COMPONENT (word-3-shingle Jaccard ≥ 0.5 clusters), so a
    near-duplicate pair can never straddle train and eval
    (operators/sampling.leakage_safe_split). 80/10/10 by seeded md5
    bucket of the component id."""
    from ..operators.sampling import leakage_safe_split

    docs = CAT.read_parquet(spark, f"{sf_dir}/documents.parquet")
    return leakage_safe_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, seed="leakage"
    ).orderBy("doc_id")


def _leakage_split_sql() -> str:
    from ..operators.sampling import split_sql

    case = split_sql(
        "component", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="leakage"
    )
    return (
        _COMPONENTS_WALK
        + f"""
SELECT id AS doc_id, component, {case} AS split
FROM labels ORDER BY doc_id
"""
    )


DOC_LEAKAGE_SAFE_SPLIT_SQL = _leakage_split_sql()


def kg_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree relation of the customer-placed-order graph (prefixed ids)."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    edges = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return G.degrees(edges)


KG_DEGREES_SQL = """
WITH gedges AS (
  SELECT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst FROM orders
),
o AS (SELECT src AS id, count(*) AS out_degree FROM gedges GROUP BY src),
i AS (SELECT dst AS id, count(*) AS in_degree FROM gedges GROUP BY dst)
SELECT coalesce(o.id, i.id) AS id,
       coalesce(out_degree, 0) AS out_degree,
       coalesce(in_degree, 0) AS in_degree,
       coalesce(out_degree, 0) + coalesce(in_degree, 0) AS degree
FROM o FULL OUTER JOIN i ON o.id = i.id
"""


def kg_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed 2-hop BFS over the customer→order→part graph from a small
    customer start set; (id, min_hops). Oracle = recursive-CTE BFS with
    min discovery level."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    lineitem = CAT.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    customer = CAT.read_parquet(spark, f"{sf_dir}/customer.parquet")
    e1 = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    e2 = lineitem.select(
        F.concat(F.lit("O:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    start = customer.filter(F.col("c_custkey") < 5).select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("id")
    )
    return G.k_hop_neighbors(e1.unionByName(e2), start, k=2)


KG_2HOP_SQL = """
WITH RECURSIVE
gedges AS (
  SELECT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst FROM orders
  UNION ALL
  SELECT DISTINCT 'O:' || l_orderkey, 'P:' || l_partkey FROM lineitem
),
s AS (SELECT 'C:' || c_custkey AS id FROM customer WHERE c_custkey < 5),
walk(id, lvl) AS (
  SELECT id, 0 FROM s
  UNION ALL
  SELECT e.dst, w.lvl + 1
  FROM walk w JOIN gedges e ON e.src = w.id
  WHERE w.lvl < 2
)
SELECT id, CAST(min(lvl) AS INT) AS min_hops FROM walk GROUP BY id
"""


def kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the part co-order graph (two parts
    are adjacent when some order contains both). Triangle counting is the
    clustering-coefficient / community-density primitive; the operator
    uses degree-ordered orientation so hub parts don't explode the wedge
    join. Oracle = brute-force 3-way self-join on the u<v edge list."""
    lineitem = CAT.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    op = lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    edges = (
        op.alias("a")
        .join(op.alias("b"), on="o")
        .filter(F.col("a.p") < F.col("b.p"))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
    )
    return G.triangle_counts(edges)


KG_TRIANGLES_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
pe AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM pe e1
  JOIN pe e2 ON e2.u = e1.v
  JOIN pe e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT id, count(*) AS triangles
FROM (SELECT unnest([a, b, c]) AS id FROM tri)
GROUP BY id
"""


def kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer/order graph. Oracle-checked: the power
    iteration is deterministic for a fixed iteration count, and at
    round-8 precision the shuffle-order float-summation jitter (~1e-13)
    is far below the rounding granularity."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    edges = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return G.pagerank(edges, iterations=5)


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled fixed-iteration PageRank (DuckDB disallows aggregates in a
    recursive CTE's recursive member, so the loop is unrolled as chained
    CTEs — byte-for-byte the same update rule as operators.graph.pagerank:
    rank' = (1-d)/n + d*(inflow + dangling/n))."""
    d = repr(damping)
    parts = [
        """WITH gedges AS (
  SELECT DISTINCT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst FROM orders
),
ids AS (SELECT src AS id FROM gedges UNION SELECT dst FROM gedges),
outdeg AS (SELECT src, count(*) AS deg FROM gedges GROUP BY src),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids),
r0 AS (SELECT id, 1.0 / (SELECT n FROM nn) AS rank FROM ids)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
inf{k} AS (
  SELECT e.dst AS id, sum(r.rank / od.deg) AS s
  FROM gedges e
  JOIN r{k - 1} r ON e.src = r.id
  JOIN outdeg od ON od.src = e.src
  GROUP BY e.dst
),
dm{k} AS (
  SELECT coalesce(sum(r.rank), 0.0) AS m
  FROM r{k - 1} r LEFT JOIN outdeg od ON od.src = r.id
  WHERE od.src IS NULL
),
r{k} AS (
  SELECT i.id,
         (1.0 - {d}) / (SELECT n FROM nn)
         + {d} * (coalesce(inf.s, 0.0) + dm.m / (SELECT n FROM nn)) AS rank
  FROM ids i
  LEFT JOIN inf{k} inf ON inf.id = i.id
  CROSS JOIN dm{k} dm
)"""
        )
    parts.append(
        f"\nSELECT id, floor(rank * 100000000.0 + 0.5) / 100000000.0 AS rank FROM r{iterations}"
    )
    return "".join(parts)


KG_PAGERANK_SQL = _pagerank_sql(iterations=5, damping=0.85)


def kg_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the (undirected) customer-order
    graph — 3 fixed synchronous rounds, ties to the smallest label
    (operators/graph.label_propagation). Deterministic, so the oracle
    unrolls the identical rounds."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    edges = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return G.label_propagation(edges, iterations=3)


def _lpa_sql(iterations: int = 3) -> str:
    """Unrolled synchronous label propagation (same update rule as
    operators.graph.label_propagation: most frequent neighbor label,
    ties to the smallest, isolated keep their own)."""
    parts = [
        """WITH dedges AS (
  SELECT DISTINCT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst FROM orders
),
gedges AS (SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges),
ids AS (SELECT DISTINCT src AS id FROM gedges),
l0 AS (SELECT id, id AS label FROM ids)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
v{k} AS (
  SELECT e.dst AS nid, l.label, count(*) AS c
  FROM gedges e JOIN l{k - 1} l ON l.id = e.src
  GROUP BY 1, 2
),
b{k} AS (
  SELECT nid, label AS new_label FROM (
    SELECT nid, label,
           row_number() OVER (PARTITION BY nid ORDER BY c DESC, label) AS rn
    FROM v{k}
  ) WHERE rn = 1
),
l{k} AS (
  SELECT i.id, coalesce(b.new_label, i.id) AS label
  FROM ids i LEFT JOIN b{k} b ON b.nid = i.id
)"""
        )
    parts.append(f"\nSELECT id, label FROM l{iterations}")
    return "".join(parts)


KG_COMMUNITIES_SQL = _lpa_sql(3)


QUERIES = {
    "dedup_components": dedup_components,
    "dedup_corpus_clusters": dedup_corpus_clusters,
    "dedup_keep_best": dedup_keep_best,
    "doc_leakage_safe_split": doc_leakage_safe_split,
    "kg_degrees": kg_degrees,
    "kg_2hop": kg_2hop,
    "kg_triangles": kg_triangles,
    "kg_pagerank": kg_pagerank,
    "kg_communities": kg_communities,
}

ORACLES = {
    "kg_triangles": KG_TRIANGLES_SQL,
    "dedup_components": DEDUP_COMPONENTS_SQL,
    "dedup_corpus_clusters": DEDUP_CORPUS_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
    "doc_leakage_safe_split": DOC_LEAKAGE_SAFE_SPLIT_SQL,
    "kg_degrees": KG_DEGREES_SQL,
    "kg_2hop": KG_2HOP_SQL,
    "kg_pagerank": KG_PAGERANK_SQL,
    "kg_communities": KG_COMMUNITIES_SQL,
}


def kg_motif_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif query over the heterogeneous KG edge set: count the
    customer→order→part paths per customer via the pattern API
    ``(c)-[]->(o); (o)-[]->(p)`` (operators/graph.find_motifs) — the
    motif compiles to the same chained equi-joins the oracle writes by
    hand."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    lineitem = CAT.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    e1 = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    e2 = lineitem.select(
        F.concat(F.lit("O:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("dst"),
    ).distinct()
    paths = G.find_motifs(
        e1.unionByName(e2), "(c)-[]->(o); (o)-[]->(p)"
    )
    # only O:* middles reach parts, so the motif's C->O->P bindings are
    # exactly the two-hop paths; count per customer
    return (
        paths.filter(F.col("c").startswith("C:"))
        .groupBy("c")
        .agg(F.count("*").alias("n_paths"))
        .orderBy("c")
    )


KG_MOTIF_PATHS_SQL = """
WITH e1 AS (
  SELECT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst FROM orders
),
e2 AS (
  SELECT DISTINCT 'O:' || l_orderkey AS src, 'P:' || l_partkey AS dst
  FROM lineitem
),
gedges AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2)
SELECT a.src AS c, count(*) AS n_paths
FROM gedges a JOIN gedges b ON a.dst = b.src
WHERE a.src LIKE 'C:%'
GROUP BY a.src
ORDER BY c
"""

QUERIES["kg_motif_paths"] = kg_motif_paths
ORACLES["kg_motif_paths"] = KG_MOTIF_PATHS_SQL


def kg_shortest_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (distributed Bellman-Ford,
    operators/graph.shortest_paths) over the customer→order→part DAG:
    C→O edges cost o_totalprice, O→P edges cost the order's min quantity
    of that part — min total cost to reach each node from the customer
    start set. Parts reachable through many orders exercise the min-
    over-alternative-paths relaxation; the oracle is a recursive-CTE
    walk (terminates: the graph is a layered DAG) with the identical
    left-to-right path-sum arithmetic."""
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    lineitem = CAT.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    customer = CAT.read_parquet(spark, f"{sf_dir}/customer.parquet")
    e1 = orders.select(
        F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
        F.col("o_totalprice").cast("double").alias("weight"),
    )
    e2 = (
        lineitem.groupBy("l_orderkey", "l_partkey")
        .agg(F.min("l_quantity").cast("double").alias("weight"))
        .select(
            F.concat(F.lit("O:"), F.col("l_orderkey").cast("string")).alias("src"),
            F.concat(F.lit("P:"), F.col("l_partkey").cast("string")).alias("dst"),
            "weight",
        )
    )
    start = customer.filter(F.col("c_custkey") < 5).select(
        F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("id")
    )
    return G.shortest_paths(
        e1.unionByName(e2), start, max_rounds=4
    ).orderBy("id")


KG_SHORTEST_COSTS_SQL = """
WITH RECURSIVE
g AS (
  SELECT 'C:' || o_custkey AS src, 'O:' || o_orderkey AS dst,
         CAST(o_totalprice AS DOUBLE) AS w
  FROM orders
  UNION ALL
  SELECT 'O:' || l_orderkey, 'P:' || l_partkey,
         CAST(min(l_quantity) AS DOUBLE)
  FROM lineitem GROUP BY l_orderkey, l_partkey
),
s AS (SELECT 'C:' || c_custkey AS id FROM customer WHERE c_custkey < 5),
walk(id, d) AS (
  SELECT id, 0.0::DOUBLE FROM s
  UNION
  SELECT e.dst, w.d + e.w FROM walk w JOIN g e ON e.src = w.id
)
SELECT id, floor(min(d) * 1000000.0 + 0.5) / 1000000.0 AS dist
FROM walk GROUP BY id ORDER BY id
"""

QUERIES["kg_shortest_costs"] = kg_shortest_costs
ORACLES["kg_shortest_costs"] = KG_SHORTEST_COSTS_SQL


def kg_closure_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the region→nation→customer→order hierarchy
    (operators/graph.transitive_closure, iterative path doubling) —
    summarized as descendant counts per ancestor LEVEL (full pair dumps
    are closure-sized; the per-level roll-up is what an ontology
    browser actually asks). Oracle = recursive-CTE reachability."""
    nation = CAT.read_parquet(spark, f"{sf_dir}/nation.parquet")
    customer = CAT.read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    e = (
        nation.select(
            F.concat(F.lit("R:"), F.col("n_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("N:"), F.col("n_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("N:"), F.col("c_nationkey").cast("string")).alias("src"),
                F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
                F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
            )
        )
    )
    cl = G.transitive_closure(e)
    return (
        cl.groupBy(F.substring("ancestor", 1, 1).alias("ancestor_level"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("ancestor").alias("n_ancestors"),
            F.countDistinct("descendant").alias("n_descendants"),
        )
        .orderBy("ancestor_level")
    )


KG_CLOSURE_COUNTS_SQL = """
WITH RECURSIVE
e AS (
  SELECT 'R:' || n_regionkey AS src, 'N:' || n_nationkey AS dst FROM nation
  UNION ALL
  SELECT 'N:' || c_nationkey, 'C:' || c_custkey FROM customer
  UNION ALL
  SELECT 'C:' || o_custkey, 'O:' || o_orderkey FROM orders
),
cl(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT cl.a, e.dst FROM cl JOIN e ON e.src = cl.b
)
SELECT substr(a, 1, 1) AS ancestor_level,
       count(*) AS n_pairs,
       count(DISTINCT a) AS n_ancestors,
       count(DISTINCT b) AS n_descendants
FROM cl GROUP BY 1 ORDER BY 1
"""

QUERIES["kg_closure_counts"] = kg_closure_counts
ORACLES["kg_closure_counts"] = KG_CLOSURE_COUNTS_SQL


def kg_closure_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded reachability (operators/graph.bounded_closure,
    max_depth=2) over the same region→nation→customer→order hierarchy —
    the production closure for graphs where the full transitive closure
    is output-infeasible: the 3-hop region→order pairs (the bulk of the
    full closure) are deliberately outside the bound. Summarized per
    (ancestor level, depth); oracle = depth-tracked recursive CTE with
    min-depth dedup."""
    nation = CAT.read_parquet(spark, f"{sf_dir}/nation.parquet")
    customer = CAT.read_parquet(spark, f"{sf_dir}/customer.parquet")
    orders = CAT.read_parquet(spark, f"{sf_dir}/orders.parquet")
    e = (
        nation.select(
            F.concat(F.lit("R:"), F.col("n_regionkey").cast("string")).alias("src"),
            F.concat(F.lit("N:"), F.col("n_nationkey").cast("string")).alias("dst"),
        )
        .unionByName(
            customer.select(
                F.concat(F.lit("N:"), F.col("c_nationkey").cast("string")).alias("src"),
                F.concat(F.lit("C:"), F.col("c_custkey").cast("string")).alias("dst"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("C:"), F.col("o_custkey").cast("string")).alias("src"),
                F.concat(F.lit("O:"), F.col("o_orderkey").cast("string")).alias("dst"),
            )
        )
    )
    cl = G.bounded_closure(e, max_depth=2)
    return (
        cl.groupBy(
            F.substring("ancestor", 1, 1).alias("ancestor_level"),
            F.col("depth").cast("int").alias("depth"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.countDistinct("ancestor").alias("n_ancestors"),
            F.countDistinct("descendant").alias("n_descendants"),
        )
        .orderBy("ancestor_level", "depth")
    )


KG_CLOSURE_BOUNDED_SQL = """
WITH RECURSIVE
e AS (
  SELECT 'R:' || n_regionkey AS src, 'N:' || n_nationkey AS dst FROM nation
  UNION ALL
  SELECT 'N:' || c_nationkey, 'C:' || c_custkey FROM customer
  UNION ALL
  SELECT 'C:' || o_custkey, 'O:' || o_orderkey FROM orders
),
cl(a, b, d) AS (
  SELECT src, dst, 1 FROM e
  UNION
  SELECT cl.a, e.dst, cl.d + 1 FROM cl JOIN e ON e.src = cl.b WHERE cl.d < 2
),
mind AS (SELECT a, b, min(d) AS depth FROM cl GROUP BY a, b)
SELECT substr(a, 1, 1) AS ancestor_level,
       CAST(depth AS INT) AS depth,
       count(*) AS n_pairs,
       count(DISTINCT a) AS n_ancestors,
       count(DISTINCT b) AS n_descendants
FROM mind GROUP BY 1, 2 ORDER BY 1, 2
"""

QUERIES["kg_closure_bounded"] = kg_closure_bounded
ORACLES["kg_closure_bounded"] = KG_CLOSURE_BOUNDED_SQL
