"""Triples → property-graph (PG) relation.

Semantics per reference src/ketl/io/core.py:16-127:

* ``labels``     = set of ``@type`` values per element
* ``from``/``to``= an ``@from``/``@to`` value per element (NULL for nodes)
* ``properties`` = map key → set of serialized values (``{}`` default)
* ``type``       = ``edge`` iff ``from`` is non-NULL, else ``node``

Scale design (100 TB): the reference materializes four separate
aggregations of the triple relation and left-joins them back on ``id``
(io/core.py:57-102) — five shuffles of the full relation plus three join
exchanges. Here the whole build is **one hash aggregation** (a single
shuffle on ``id``): structure rows become conditional aggregates and the
properties map is assembled from the collected (key, value) pairs with
higher-order array functions, all JVM-side. Partial (map-side) aggregation
applies, so the shuffle carries pre-combined per-id state, not raw triples.
An element's raw (key, value) pairs all meet on one reducer; a hot element
with 1M property rows still builds correctly (tests/test_pg.py).

The export shape (``labels_str`` / ``props_str`` strings) is rendered from
that one aggregation by :func:`flatten_pg`; :func:`triples_to_pg_flat` is
``flatten_pg(triples_to_pg(...))``, so the map-typed and flat builds cannot
drift apart.

Determinism: ``collect_set``/``collect_list`` order is undefined, so
``labels`` and each property value set are sorted (`array_sort`). The
reference takes `first()` for endpoints (io/core.py:62-65), which is
nondeterministic under multiple values; we take `max()` — deterministic,
and identical whenever the input has one endpoint value per element (the
validated case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.model import FROM_KEY, SPECIAL_KEYS, TO_KEY, TYPE_KEY, PGElementType


def triples_to_pg(triples: DataFrame, validate: bool = False) -> DataFrame:
    """Aggregate a triple DataFrame into the PG relation.

    With ``validate=True``, edges missing endpoints or elements with zero
    labels raise at execution time (the validation the reference left as a
    TODO, src/ketl/io/core.py:115-118).
    """
    pg = _agg_single(triples).select(
        F.col("id"),
        F.when(F.col("from").isNotNull(), F.lit(str(PGElementType.EDGE)))
        .otherwise(F.lit(str(PGElementType.NODE)))
        .alias("type"),
        F.col("labels"),
        F.col("from"),
        F.col("to"),
        F.col("properties"),
    )

    if validate:
        # expressed as a filter over assert_true so Catalyst cannot prune
        # the check away (a dropped projection column would be eliminated)
        ok = ~(
            (F.col("type") == str(PGElementType.EDGE))
            & (F.col("from").isNull() | F.col("to").isNull())
        ) & (F.size("labels") > 0)
        pg = pg.filter(
            F.when(
                ~ok,
                F.raise_error(
                    F.concat(
                        F.lit("invalid PG element (missing endpoint or label): "),
                        F.col("id"),
                    )
                ).cast("boolean"),
            ).otherwise(F.lit(True))
        )

    return pg


def _agg_single(triples: DataFrame) -> DataFrame:
    """One hash aggregation on ``id`` (see module doc).

    The exchange is sized for group count, not byte volume — collect
    buffers are per-group objects (see
    ``runtime.checkpoint.group_agg_partitions`` / SCALE.md)."""
    from ..runtime.checkpoint import group_agg_partitions

    k, v = F.col("key"), F.col("value")
    is_prop = ~k.isin(*SPECIAL_KEYS)

    pairs = F.collect_list(F.when(is_prop, F.struct(k.alias("key"), v.alias("value"))))

    agg = triples.repartition(group_agg_partitions(triples), "id").groupBy("id").agg(
        F.array_sort(
            F.array_distinct(F.collect_list(F.when(k == TYPE_KEY, v)))
        ).alias("labels"),
        F.max(F.when(k == FROM_KEY, v)).alias("from"),
        F.max(F.when(k == TO_KEY, v)).alias("to"),
        pairs.alias("_pairs"),
    )

    # (key,value) pairs -> map<key, sorted distinct values>, JVM-side.
    pkeys = F.array_sort(F.array_distinct(F.transform(F.col("_pairs"), lambda p: p["key"])))
    props = F.map_from_entries(
        F.transform(
            pkeys,
            lambda pk: F.struct(
                pk.alias("key"),
                F.array_sort(
                    F.array_distinct(
                        F.transform(
                            F.filter(F.col("_pairs"), lambda p: p["key"] == pk),
                            lambda p: p["value"],
                        )
                    )
                ).alias("values"),
            ),
        )
    )
    return agg.select("id", "labels", "from", "to", props.alias("properties"))


def triples_to_pg_flat(triples: DataFrame) -> DataFrame:
    """Flattened (export-shaped) PG build: :func:`flatten_pg` of
    :func:`triples_to_pg` — the same single aggregation, rendered as the
    deterministic strings JSONL export and oracle comparison need."""
    return flatten_pg(triples_to_pg(triples))


def dangling_edges(pg: DataFrame) -> DataFrame:
    """Edges whose ``from``/``to`` reference no node id — the in-engine
    equivalent of the loader's endpoint check (reference
    src/ketl/io/neoloader.py:425-433). Anti-joins against the node id set;
    the node side is typically much smaller post-aggregation and AQE picks
    broadcast when it fits."""
    edge_t = str(PGElementType.EDGE)
    nodes = pg.filter(F.col("type") != edge_t).select(
        F.col("id").alias("_node_id")
    )
    edges = pg.filter(F.col("type") == edge_t)
    bad_from = edges.join(nodes, F.col("from") == F.col("_node_id"), "left_anti")
    bad_to = edges.join(nodes, F.col("to") == F.col("_node_id"), "left_anti")
    return bad_from.unionByName(bad_to).dropDuplicates(["id"])


def flatten_pg(pg: DataFrame) -> DataFrame:
    """Map-typed PG → the deterministic export/oracle string shape, the
    one flat renderer of the package: ``labels_str`` is the sorted
    ``|``-joined label set, ``from_id``/``to_id`` the endpoints, and
    ``props_str`` is ``key=[v1,v2];key2=[...]`` with keys sorted (as the
    SQL oracle's ``ORDER BY key``) and each value set sorted. NULL
    property values are skipped by ``array_join``, and a key whose
    values are all NULL is dropped, as the oracle's ``kv`` CTE and the
    row-local ``to_pg_flat`` drop it."""
    pkeys = F.filter(
        F.array_sort(F.map_keys("properties")),
        lambda k: F.exists(F.col("properties")[k], lambda v: v.isNotNull()),
    )
    props_str = F.array_join(
        F.transform(
            pkeys,
            lambda k: F.concat(
                k,
                F.lit("=["),
                F.array_join(F.col("properties")[k], ","),
                F.lit("]"),
            ),
        ),
        ";",
    )
    return pg.select(
        "id",
        "type",
        F.array_join("labels", "|").alias("labels_str"),
        F.col("from").alias("from_id"),
        F.col("to").alias("to_id"),
        props_str.alias("props_str"),
    )


def pg_to_triples(pg: DataFrame) -> DataFrame:
    """The inverse of :func:`triples_to_pg`: expand a PG relation back to
    its (id, key, value) triple multiset — labels become ``@type`` rows,
    endpoints ``@from``/``@to`` rows, each property value its own row.

    ``triples_to_pg(pg_to_triples(pg)) == pg`` (tested), which makes N-way
    PG merging a single shuffle: union the expansions and re-aggregate,
    instead of folding N-1 full-outer joins of :func:`merge_pg`. One
    narrow explode per input — no shuffle of its own.
    """
    structs = F.concat(
        F.transform(
            "labels",
            lambda l: F.struct(
                F.lit(TYPE_KEY).alias("key"), l.alias("value")
            ),
        ),
        F.filter(
            F.array(
                F.struct(F.lit(FROM_KEY).alias("key"), F.col("from").alias("value")),
                F.struct(F.lit(TO_KEY).alias("key"), F.col("to").alias("value")),
            ),
            lambda s: s["value"].isNotNull(),
        ),
        F.flatten(
            F.transform(
                F.map_entries("properties"),
                lambda e: F.transform(
                    e["value"],
                    lambda v: F.struct(e["key"].alias("key"), v.alias("value")),
                ),
            )
        ),
    )
    return (
        pg.select("id", F.explode(structs).alias("_t"))
        .select("id", "_t.key", "_t.value")
    )


def merge_pg(old: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge two PG relations into one, equivalent to rebuilding from the
    union of their source triples (asserted in tests and the
    ``kg_pg_incremental`` oracle) — the incremental-build primitive:
    aggregate only the DELTA's triples, then set-merge per id instead of
    re-aggregating the whole corpus.

    Merge rules mirror the aggregation semantics exactly: labels =
    sorted distinct union; endpoints = ``greatest`` (null-skipping max,
    = max over the unioned values); properties = per-key sorted distinct
    union via ``map_zip_with`` (key union); type recomputed from the
    merged ``from``. One full-outer join on id — at scale, bucket the
    stored PG by id hash and join only the delta-touched buckets
    (dynamic partition overwrite), so the rewrite cost tracks the delta,
    not the corpus.
    """
    earr = F.array().cast("array<string>")
    emap = F.expr("map()").cast("map<string,array<string>>")
    o = old.select(
        "id",
        F.col("labels").alias("_la"),
        F.col("from").alias("_fa"),
        F.col("to").alias("_ta"),
        F.col("properties").alias("_pa"),
    )
    d = delta.select(
        "id",
        F.col("labels").alias("_lb"),
        F.col("from").alias("_fb"),
        F.col("to").alias("_tb"),
        F.col("properties").alias("_pb"),
    )
    m = o.join(d, on="id", how="full_outer")
    labels = F.array_sort(
        F.array_union(F.coalesce("_la", earr), F.coalesce("_lb", earr))
    )
    frm = F.greatest("_fa", "_fb")
    to = F.greatest("_ta", "_tb")
    props = F.map_zip_with(
        F.coalesce("_pa", emap),
        F.coalesce("_pb", emap),
        lambda k, x, y: F.array_sort(
            F.array_union(F.coalesce(x, earr), F.coalesce(y, earr))
        ),
    )
    return m.select(
        "id",
        F.when(frm.isNotNull(), F.lit(str(PGElementType.EDGE)))
        .otherwise(F.lit(str(PGElementType.NODE)))
        .alias("type"),
        labels.alias("labels"),
        frm.alias("from"),
        to.alias("to"),
        props.alias("properties"),
    )
