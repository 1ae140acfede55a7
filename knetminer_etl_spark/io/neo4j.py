"""PG → Neo4j bulk loader.

Parity surface for the reference's async JSONL→Neo4j loader (reference
src/ketl/io/neoloader.py:226-560): batched ``UNWIND`` Cypher, nodes
before edges, an id index created between the passes, dangling-endpoint
failure, bounded retries on transient collisions.

Spark-first shape: the loader consumes the **PG DataFrame** directly with
``foreachPartition`` — each partition opens one session and writes its
rows in ``batch_size`` transactions. Two passes (nodes, then edges)
preserve the reference's ordering contract; concurrency = partition
count, so co-locate/repartition to tune parallel write pressure (Neo4j
lock collisions rise with concurrency — keep modest, e.g. 8-16).

The ``neo4j`` driver is not installed in this environment: connection
construction is gated behind an import-try, while Cypher/batch building
are pure functions, unit-tested without a database.
"""

from __future__ import annotations

import datetime
import itertools
import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from enum import Enum
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame

from ..core.model import PGElementType
from ..core.serialize import DEFAULT_CONVERTER, ValueConverter

DEFAULT_BATCH_SIZE = 2500  # elements per transaction (reference default)
DEFAULT_MAX_RETRIES = 10


class MultiValueMode(str, Enum):
    """Per-property cardinality coercion for PG-JSONL value arrays
    (parity with reference src/ketl/io/neoloader.py:56-93).

    PG-JSONL always stores a property as an array, treated as a **set**
    (order irrelevant, duplicates removable):

    * ``SINGLE``   — always single-valued; >1 values is an error.
    * ``MULTIPLE`` — always a list, even for singletons.
    * ``AUTO``     — singleton → scalar, bigger array → deduped list
      (the default, mirroring the reference's default).
    """

    SINGLE = "single"
    MULTIPLE = "multiple"
    AUTO = "auto"


@dataclass
class PropertyConfig:
    """Loader options for one PG property (reference
    NeoLoaderPropertyConfig, src/ketl/io/neoloader.py:50-115)."""

    multi_value_mode: MultiValueMode = MultiValueMode.AUTO

    @classmethod
    def from_config(cls, config: dict | None) -> "PropertyConfig":
        if not config:
            return cls()
        params = dict(config)
        if "multi_value_mode" in params:
            params["multi_value_mode"] = MultiValueMode(
                params["multi_value_mode"]
            )
        return cls(**params)


@dataclass
class Neo4jConfig:
    uri: str = "bolt://localhost:7687"
    user: str = "neo4j"
    password: str = ""
    database: str = "neo4j"
    batch_size: int = DEFAULT_BATCH_SIZE
    max_retries: int = DEFAULT_MAX_RETRIES
    retry_base_pause_s: float = 2.0
    common_label: str = "Node"  # shared label enabling the id index
    property_configs: dict[str, PropertyConfig] = field(default_factory=dict)
    default_property_config: PropertyConfig = field(
        default_factory=PropertyConfig
    )
    extra: dict[str, Any] = field(default_factory=dict)

    def get_property_config(self, prop_id: str) -> PropertyConfig:
        return self.property_configs.get(prop_id, self.default_property_config)


def coerce_property_values(
    prop_id: str,
    elem_id: str,
    values: list[Any] | None,
    config: Neo4jConfig | None = None,
) -> Any:
    """Apply the property's :class:`MultiValueMode` to an unserialized
    value list (reference semantics, src/ketl/io/neoloader.py:770-815):
    None elements are dropped; an empty result returns None (caller omits
    the property); SINGLE raises on >1 values ("expected failure"
    contract); duplicates are removed in the multi-value cases. Dedup is
    first-occurrence-order (deterministic) rather than the reference's
    ``list(set(...))`` — same set semantics, stable output.
    """
    if values is None:
        return None
    if not isinstance(values, list):
        raise ValueError(
            f"property '{prop_id}' in element '{elem_id}' has a non-list value"
        )
    vals = [v for v in values if v is not None]
    if not vals:
        return None
    mode = (
        config.get_property_config(prop_id).multi_value_mode
        if config is not None
        else MultiValueMode.AUTO
    )
    if len(vals) == 1:
        if mode in (MultiValueMode.SINGLE, MultiValueMode.AUTO):
            return vals[0]
        return vals
    if mode == MultiValueMode.SINGLE:
        raise ValueError(
            f"multiple values aren't allowed for property '{prop_id}' "
            f"in element '{elem_id}'"
        )
    try:
        return list(dict.fromkeys(vals))
    except TypeError:
        # unhashable values (JSON arrays/objects): dedup by canonical
        # serialization instead of crashing mid-load
        import json as _json

        seen: set[str] = set()
        out = []
        for v in vals:
            key = _json.dumps(v, sort_keys=True, default=str)
            if key not in seen:
                seen.add(key)
                out.append(v)
        return out


# ---------------------------------------------------------------------------
# Cypher builders (pure, unit-testable)
# ---------------------------------------------------------------------------


def node_batch_cypher_no_apoc(common_label: str, labels: list[str]) -> str:
    """APOC-free variant for a batch that shares one label set (batches
    are grouped by label signature)."""
    label_frag = "".join(
        ":" + _quote_label(l) for l in [common_label, *labels]
    )
    return (
        "UNWIND $batch AS row\n"
        f"CREATE (n{label_frag})\n"
        "SET n = row.properties, n.id = row.id\n"
        "RETURN count(n)"
    )


def edge_batch_cypher(common_label: str, rel_type: str) -> str:
    """UNWIND-create for edge batches of one relationship type. Dangling
    endpoints make the coalesce fail the query (division by the matched
    node) — load stops rather than silently dropping edges."""
    return (
        "UNWIND $batch AS row\n"
        f"OPTIONAL MATCH (a:{_quote_label(common_label)} {{id: row.from}})\n"
        f"OPTIONAL MATCH (b:{_quote_label(common_label)} {{id: row.to}})\n"
        "WITH a, b, row, CASE WHEN a IS NULL OR b IS NULL THEN 1/0 ELSE 1 END AS _chk\n"
        f"CREATE (a)-[e:{_quote_label(rel_type)}]->(b)\n"
        "SET e = row.properties, e.id = row.id\n"
        "RETURN count(e)"
    )


def id_index_cypher(common_label: str = "Node") -> str:
    return (
        f"CREATE INDEX pg_id_idx IF NOT EXISTS "
        f"FOR (n:{_quote_label(common_label)}) ON (n.id)"
    )


def _quote_label(label: str) -> str:
    if not label.replace("_", "").isalnum():
        return "`" + label.replace("`", "") + "`"
    return label


# ---------------------------------------------------------------------------
# Row → parameter conversion + batching (pure)
# ---------------------------------------------------------------------------


def pg_row_to_params(
    row: Any,
    converters: dict[str, ValueConverter] | None = None,
    config: Neo4jConfig | None = None,
) -> dict[str, Any]:
    """PG Row → Cypher parameter map; property value-sets unserialize to
    native types, then each property's :class:`MultiValueMode` decides
    scalar vs list (default AUTO: singletons collapse, larger sets dedup
    to a list; SINGLE raises on multi-values). Properties whose value set
    is empty after None-dropping are omitted."""
    convs = converters or {}
    props: dict[str, Any] = {}
    for pk, vals in (row["properties"] or {}).items():
        conv = convs.get(pk, DEFAULT_CONVERTER)
        native = [conv.unserialize(v) for v in vals]
        coerced = coerce_property_values(pk, row["id"], native, config)
        if coerced is not None:
            props[pk] = coerced
    out = {
        "id": row["id"],
        "labels": sorted(row["labels"] or []),
        "properties": props,
    }
    if row["type"] == str(PGElementType.EDGE):
        out["from"] = row["from"]
        out["to"] = row["to"]
    return out


def batched(it: Iterable[Any], size: int) -> Iterator[list[Any]]:
    it = iter(it)
    while True:
        chunk = list(itertools.islice(it, size))
        if not chunk:
            return
        yield chunk


def run_with_retry(
    fn: Callable[[], Any],
    max_retries: int = DEFAULT_MAX_RETRIES,
    base_pause_s: float = 2.0,
    is_transient: Callable[[Exception], bool] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> Any:
    """Bounded exponential-ish retry for transient tx collisions."""
    transient = is_transient or (lambda e: "Transient" in type(e).__name__)
    for attempt in range(max_retries):
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - classified below
            if attempt == max_retries - 1 or not transient(e):
                raise
            sleep(min(base_pause_s * (2**attempt), 120.0))
    raise AssertionError("unreachable")


# ---------------------------------------------------------------------------
# Per-pass done markers (crash resume)
# ---------------------------------------------------------------------------


def done_marker_paths(done_base_path: str | Path) -> tuple[Path, Path]:
    """(nodes_marker, edges_marker) for a base path; a base already ending
    in .nodes/.edges is stripped first (reference
    src/ketl/io/neoloader.py:483-490)."""
    base = str(done_base_path)
    if base.endswith(".nodes") or base.endswith(".edges"):
        base = base.rsplit(".", 1)[0]
    return Path(base + ".nodes"), Path(base + ".edges")


def plan_passes(
    done_base_path: str | Path | None,
) -> tuple[bool, bool]:
    """(do_nodes, do_edges): skip a pass whose done marker already exists,
    so a crashed load resumes past completed work instead of re-CREATEing
    nodes (the Cypher uses CREATE, not MERGE — a re-run would duplicate)."""
    if done_base_path is None:
        return True, True
    nodes_p, edges_p = done_marker_paths(done_base_path)
    return not nodes_p.exists(), not edges_p.exists()


def write_done_marker(
    done_base_path: str | Path, is_nodes: bool, source: str = ""
) -> None:
    """Write the per-pass marker after the pass commits (reference
    src/ketl/io/neoloader.py:448-465)."""
    nodes_p, edges_p = done_marker_paths(done_base_path)
    path = nodes_p if is_nodes else edges_p
    which = "nodes" if is_nodes else "edges"
    path.write_text(
        f'{which} from "{source}" loaded in Neo4j on '
        f"{datetime.datetime.now().isoformat()}\n"
    )


# ---------------------------------------------------------------------------
# Spark-side loader
# ---------------------------------------------------------------------------


def _require_driver():
    try:
        import neo4j  # noqa: F401

        return neo4j
    except ImportError as e:  # pragma: no cover - driver absent here
        raise ImportError(
            "the 'neo4j' Python driver is required for load_pg_to_neo4j; "
            "Cypher/batching helpers work without it"
        ) from e


def load_pg_to_neo4j(
    pg: DataFrame,
    config: Neo4jConfig,
    write_partitions: int = 8,
    done_base_path: str | Path | None = None,
) -> None:
    """Two-pass PG load: nodes (repartitioned to bound write concurrency —
    ``write_partitions`` is the enforced concurrent-transaction cap, the
    reference's ncpu-1 bounded-async equivalent), id index, then edges
    grouped by relationship type.

    Each executor partition opens one driver session; batches of
    ``config.batch_size`` per transaction with transient-error retry.

    ``done_base_path`` enables crash resume: ``<base>.nodes`` /
    ``<base>.edges`` markers are written after each pass commits, and a
    pass whose marker exists is skipped on re-run — without this a
    restarted load would re-CREATE the completed node pass and duplicate
    every node.
    """
    _require_driver()  # fail fast on the driver before launching jobs
    do_nodes, do_edges = plan_passes(done_base_path)

    edge_t = str(PGElementType.EDGE)
    nodes = pg.filter(pg["type"] != edge_t).repartition(write_partitions)
    edges = pg.filter(pg["type"] == edge_t).repartition(write_partitions)

    def write_pass(rows: Iterator[Any], is_edges: bool) -> None:
        neo4j = _require_driver()
        driver = neo4j.GraphDatabase.driver(
            config.uri, auth=(config.user, config.password)
        )
        try:
            with driver.session(database=config.database) as session:
                for batch in batched(rows, config.batch_size):
                    params = [pg_row_to_params(r, config=config) for r in batch]
                    if is_edges:
                        # per-type sub-batches (rel type is structural)
                        bytype: dict[str, list] = {}
                        for p in params:
                            rel = (p["labels"] or ["RELATED"])[0]
                            bytype.setdefault(rel, []).append(p)
                        for rel, sub in bytype.items():
                            cy = edge_batch_cypher(config.common_label, rel)
                            run_with_retry(
                                lambda: session.execute_write(
                                    lambda tx: tx.run(cy, batch=sub).consume()
                                ),
                                config.max_retries,
                                config.retry_base_pause_s,
                            )
                    else:
                        bylabels: dict[tuple, list] = {}
                        for p in params:
                            bylabels.setdefault(tuple(p["labels"]), []).append(p)
                        for labels, sub in bylabels.items():
                            cy = node_batch_cypher_no_apoc(
                                config.common_label, list(labels)
                            )
                            run_with_retry(
                                lambda: session.execute_write(
                                    lambda tx: tx.run(cy, batch=sub).consume()
                                ),
                                config.max_retries,
                                config.retry_base_pause_s,
                            )
        finally:
            driver.close()

    if do_nodes:
        nodes.foreachPartition(lambda rows: write_pass(rows, False))
        if done_base_path is not None:
            write_done_marker(done_base_path, is_nodes=True, source="pg")

    # index between passes so edge MATCHes are O(log n)
    neo4j = _require_driver()
    driver = neo4j.GraphDatabase.driver(config.uri, auth=(config.user, config.password))
    try:
        with driver.session(database=config.database) as session:
            session.run(id_index_cypher(config.common_label)).consume()
    finally:
        driver.close()

    if do_edges:
        edges.foreachPartition(lambda rows: write_pass(rows, True))
        if done_base_path is not None:
            write_done_marker(done_base_path, is_nodes=False, source="pg")
