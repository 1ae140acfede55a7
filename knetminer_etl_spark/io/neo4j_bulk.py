"""neo4j-admin bulk-import CSV export for the PG relation.

The transactional loader (``io.neo4j``) is the incremental path; initial
loads at real scale go through ``neo4j-admin database import``, which
ingests header-convention CSV files (`:ID`, `:LABEL`, `:START_ID`,
`:END_ID`, `:TYPE` — the Neo4j bulk-import contract) orders of
magnitude faster than transactions. This module writes the engine's PG
relation into that contract as a distributed CSV write — no driver
involvement, partition-parallel, one pass per element kind.

Properties are exported from the FLAT build's ``props_str``
(`key=[v1,v2];…`) into per-key columns for the keys the caller lists
(bulk import needs a fixed header), with multi-values joined by ``;``
(the importer's array delimiter when ``--array-delimiter=';'``).

Usage::

    pg = triples_to_pg_flat(triples)
    write_neo4j_bulk_csv(pg, "/data/bulk", node_props=["hasName"])
    # then: neo4j-admin database import full \
    #   --nodes=/data/bulk/nodes --relationships=/data/bulk/edges ...
"""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.model import PGElementType


#: one property value set: whole JSON strings (stepped over, so a
#: ``;``, ``=`` or ``]`` inside one is inert), other characters, and any
#: ``]`` that does not close the entry (closing = followed by ``;`` or
#: the end). Possessive, so a miss fails in linear time.
_VALUES = r'(?:"(?:[^"\\]|\\.)*+"|[^"\]]|\](?!;|$))*+'
#: an entry's key: everything up to its first ``=[``
_ANY_KEY = r"(?:[^=]|=(?!\[))*+"


def _prop_col(key: str):
    """Extract property ``key``'s joined values from ``props_str``
    (NULL when absent). Values were serialized as JSON literals; string
    quotes are stripped for CSV friendliness. The key is matched
    literally and only at an entry boundary: the pattern walks whole
    entries from the start of ``props_str``, so text inside a value
    (even ``;<key>=[``) never starts a match."""
    pat = (
        rf"^(?:{_ANY_KEY}=\[{_VALUES}\];)*?"
        rf"{re.escape(key)}=\[({_VALUES})\](?:;|$)"
    )
    v = F.regexp_extract("props_str", pat, 1)
    return F.when(v != "", F.regexp_replace(v, '"', "")).otherwise(
        F.lit(None).cast("string")
    )


def bulk_nodes(pg_flat: DataFrame, props: list[str] = ()) -> DataFrame:
    """Node relation in bulk-import header convention."""
    edge_t = str(PGElementType.EDGE)
    base = pg_flat.filter(F.col("type") != edge_t).select(
        F.col("id").alias(":ID"),
        F.col("labels_str").alias(":LABEL"),
        *[_prop_col(k).alias(k) for k in props],
    )
    return base


def bulk_edges(pg_flat: DataFrame, props: list[str] = ()) -> DataFrame:
    """Relationship relation in bulk-import header convention. The edge
    type is its first label (the loader's convention for typed edges)."""
    edge_t = str(PGElementType.EDGE)
    return pg_flat.filter(F.col("type") == edge_t).select(
        F.col("from_id").alias(":START_ID"),
        F.col("to_id").alias(":END_ID"),
        F.coalesce(
            F.element_at(F.split("labels_str", r"\|"), 1), F.lit("RELATED")
        ).alias(":TYPE"),
        *[_prop_col(k).alias(k) for k in props],
    )


def write_neo4j_bulk_csv(
    pg_flat: DataFrame,
    out_dir: str | Path,
    node_props: list[str] = (),
    edge_props: list[str] = (),
) -> None:
    """Write ``<out>/nodes`` and ``<out>/edges`` CSV directories in the
    neo4j-admin import contract (headers in every part file — the
    importer accepts repeated headers with ``--auto-skip-subsequent-headers``,
    keeping the write fully parallel; no single-file coalesce)."""
    out = str(out_dir)
    bulk_nodes(pg_flat, node_props).write.mode("overwrite").option(
        "header", True
    ).csv(f"{out}/nodes")
    bulk_edges(pg_flat, edge_props).write.mode("overwrite").option(
        "header", True
    ).csv(f"{out}/edges")
