"""The mapping compiler: input rows → triple relation.

Replaces the reference's one custom physical operator — a row-at-a-time
Python loop inside ``mapInPandas`` (reference src/ketl/tabmap/core.py:301-369)
— with a **native unpivot**:

    select(explode(array(struct(id, 'k1', v1), struct(id, 'k2', v2), ...)))

which Catalyst sees through end-to-end: column pruning reaches the scan,
filters can cross the mapping, and the whole stage is codegen'd. Each input
row yields 0..N triple rows:

* rows whose element ID is NULL/empty emit nothing
  (reference src/ketl/tabmap/core.py:330-332);
* triples whose serialized value is NULL are dropped
  (reference src/ketl/core.py:171-178, tabmap/core.py:110-112).

If any mapper is opaque Python (:class:`RowValueMapper`), the whole mapping
falls back to an Arrow-vectorized ``mapInPandas`` with the same semantics,
pruned to the declared input columns.

Scale notes (100 TB): the native path is a narrow map — no shuffle, no
driver involvement, output partitioning == input partitioning. The explode
multiplies rows ×N mappers; downstream aggregations should therefore set
shuffle partitions off the *triple* count, not the source row count (see
``runtime.checkpoint.save`` partition tuning).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.model import (
    FROM_KEY,
    ID_COL,
    KEY_COL,
    SPECIAL_KEYS,
    TO_KEY,
    TRIPLE_SCHEMA,
    TYPE_KEY,
    VALUE_COL,
    PGElementType,
)
from ..core.serialize import DEFAULT_CONVERTER, json_literal, raw_string
from .mappers import (
    TripleMapper,
    ValueMapper,
    as_value_mapper,
    edge_id_expr,
    edge_id_py,
)

AUTO_EDGE_ID = "@auto-edge-id"


class DataFrameMapper:
    """Maps an input DataFrame to the triple relation.

    Parameters
    ----------
    id_mapper:
        How to build the element ID: a column name, Column, ValueMapper,
        Python callable, or :data:`AUTO_EDGE_ID` to derive
        ``"{type}:{from}-{to}"`` from the ``@type``/``@from``/``@to``
        mappers (reference src/ketl/tabmap/helpers.py:105-163).
    mappers:
        Per-row :class:`TripleMapper` list (each emits ≤1 triple per row).
    constants:
        Extra constant mappers (e.g. ``@type``, provenance) — kept as a
        separate argument for surface parity with the reference
        (src/ketl/tabmap/core.py:223-266); they behave like mappers.
    """

    def __init__(
        self,
        id_mapper: Any,
        mappers: Sequence[TripleMapper],
        constants: Sequence[TripleMapper] = (),
        on_empty_edge_part: str = "error",
    ):
        self.mappers: list[TripleMapper] = list(mappers) + list(constants)
        if not self.mappers:
            raise ValueError("at least one triple mapper is required")
        self.on_empty_edge_part = on_empty_edge_part
        self._auto_edge = id_mapper == AUTO_EDGE_ID
        self.id_mapper: ValueMapper | None = (
            None if self._auto_edge else as_value_mapper(id_mapper)
        )

    # -- helpers -------------------------------------------------------------

    def _special(self, key: str) -> TripleMapper:
        for m in self.mappers:
            if m.key == key:
                return m
        raise ValueError(f"auto edge id requires a {key!r} mapper")

    @property
    def is_python(self) -> bool:
        if any(m.is_python for m in self.mappers):
            return True
        if self.id_mapper is not None and self.id_mapper.is_python:
            return True
        if self._auto_edge:
            return any(
                self._special(k).is_python for k in (TYPE_KEY, FROM_KEY, TO_KEY)
            )
        return False

    def input_columns(self) -> set[str]:
        cols: set[str] = set()
        for m in self.mappers:
            cols |= m.input_columns()
        if self.id_mapper is not None:
            cols |= self.id_mapper.input_columns()
        return cols

    def _id_expr(self) -> Column:
        if self._auto_edge:
            return edge_id_expr(
                self._special(TYPE_KEY).value_expr(),
                self._special(FROM_KEY).value_expr(),
                self._special(TO_KEY).value_expr(),
                on_empty=self.on_empty_edge_part,
            )
        assert self.id_mapper is not None
        return self.id_mapper.expr().cast("string")

    # -- public API ----------------------------------------------------------

    def to_triples(self, df: DataFrame) -> DataFrame:
        """Compile the mapping over ``df`` → triple DataFrame."""
        if self.is_python:
            return self._map_in_pandas(df)
        return self._map_native(df)

    __call__ = to_triples

    # -- native (Catalyst-visible) path --------------------------------------

    def _map_native(self, df: DataFrame) -> DataFrame:
        eid = self._id_expr()
        # Stage each mapper's serialized value as a materialized projection
        # column first: the JSON-literal serializer references its to_json
        # sub-expression twice (substr + length), and a Project is where
        # codegen subexpression elimination applies — inside the Generate's
        # array argument each reference would evaluate separately.
        staged: list[Column] = [eid.alias(ID_COL)]
        structs = []
        for i, m in enumerate(self.mappers):
            val = m.value_expr()
            sval = (
                raw_string(val)
                if (not m.serialize or m.key in (TYPE_KEY, FROM_KEY, TO_KEY))
                else json_literal(val)
            )
            staged.append(sval.alias(f"_v{i}"))
            structs.append(
                F.struct(
                    F.lit(m.key).alias(KEY_COL),
                    F.col(f"_v{i}").alias(VALUE_COL),
                )
            )
        # Rows with NULL/empty id emit nothing; NULL serialized values drop.
        # explode_outer, NOT explode: plain explode makes Catalyst infer a
        # size(...)>0 pre-filter that duplicates the whole serialization
        # expression (and can be pushed below an upstream repartition,
        # serializing the work onto one partition).
        out = (
            df.select(*staged)
            .select(
                ID_COL,
                F.explode_outer(
                    F.filter(F.array(*structs), lambda s: s[VALUE_COL].isNotNull())
                ).alias("_t"),
            )
            .filter(
                F.col(ID_COL).isNotNull()
                & (F.col(ID_COL) != F.lit(""))
                & F.col("_t").isNotNull()
            )
            .select(ID_COL, f"_t.{KEY_COL}", f"_t.{VALUE_COL}")
        )
        return out

    # -- row-local flat PG build ---------------------------------------------

    def to_pg_flat(
        self, df: DataFrame, *, check_contract: bool = False
    ) -> DataFrame:
        """Compile the mapping straight to the flattened PG relation —
        **zero shuffle** — under the *row-local element contract*:

        every element id this mapping emits is produced by exactly ONE
        input row (the id expression derives from a row-unique key — a
        primary key, the dominant tabmap case) and by no other mapping
        unioned into the same PG.

        Under that contract the per-id aggregation of
        :func:`..pg.build.triples_to_pg_flat` degenerates to a per-row
        fold: every (key, value) group of an element is already present
        in the one row that produced it, so labels / endpoints /
        property sets are assembled with per-row array expressions
        (sorted-distinct, null-dropping — bit-identical semantics,
        asserted in tests against the aggregated build on real tables)
        and the plan is a narrow projection of the scan: no exchange, no
        collect buffers, output partitioning == input partitioning. At
        100 TB this turns the PG build from shuffle-bound into
        scan-bound for keyed sources.

        If ids may repeat across rows (multi-batch accessions, non-keyed
        inputs, incremental merges) use ``triples_to_pg_flat`` /
        ``triples_to_pg`` — correctness there does not depend on any
        contract. Reference parity: src/ketl/io/core.py:16-127 always
        aggregates; this is the engine exploiting declared key
        uniqueness the way bucketed tables declare distribution.

        ``check_contract=True`` runs an exact id-uniqueness probe before
        building (one narrow single-column aggregation — map-side
        partial counts, only duplicate groups survive to the reduce) and
        raises :class:`ValueError` with witness ids on violation, so
        misuse fails loudly instead of producing silently wrong property
        sets. Cheap relative to the build; wired on in the shipped
        queries and tests, opt-out for production hot paths whose key
        uniqueness is already enforced upstream.
        """
        if self.is_python:
            raise ValueError(
                "row-local PG build requires the native expression path; "
                "Python mappers must go through to_triples + triples_to_pg_flat"
            )
        eid = self._id_expr()
        if check_contract:
            _assert_rowlocal_ids(
                df.select(eid.alias(ID_COL)).filter(
                    F.col(ID_COL).isNotNull() & (F.col(ID_COL) != F.lit(""))
                )
            )
        staged: list[Column] = [eid.alias(ID_COL)]
        by_key: dict[str, list[int]] = {}
        for i, m in enumerate(self.mappers):
            val = m.value_expr()
            sval = (
                raw_string(val)
                if (not m.serialize or m.key in (TYPE_KEY, FROM_KEY, TO_KEY))
                else json_literal(val)
            )
            staged.append(sval.alias(f"_v{i}"))
            by_key.setdefault(m.key, []).append(i)

        def _vals(key: str) -> Column:
            # == array_sort(collect_set(value)) of the aggregated build,
            # restricted to this row's contributions (== all of them,
            # per the contract); collect_set drops NULLs and dedups.
            idxs = by_key.get(key, [])
            if not idxs:
                return F.array().cast("array<string>")
            return F.array_sort(
                F.array_distinct(
                    F.filter(
                        F.array(*[F.col(f"_v{i}") for i in idxs]),
                        lambda x: x.isNotNull(),
                    )
                )
            )

        def _single(key: str) -> Column | None:
            # one mapper for this key (the overwhelmingly common case):
            # the sorted-distinct set is [v] or [], so every fold below
            # collapses to a scalar expression — higher-order array
            # functions are CodegenFallback (interpreted per row), and
            # skipping them here measures ~25% off the whole build
            idxs = by_key.get(key, [])
            if len(idxs) == 1:
                return F.col(f"_v{idxs[0]}")
            return None

        t1 = _single(TYPE_KEY)
        if TYPE_KEY not in by_key:
            labels_str = F.lit("")
        elif t1 is not None:
            labels_str = F.coalesce(t1, F.lit(""))
        else:
            labels_str = F.array_join(_vals(TYPE_KEY), "|")
        # array_max(sorted set) == element_at(-1) == the aggregated
        # build's max() endpoint rule; NULL on empty, never an ANSI error
        f1, to1 = _single(FROM_KEY), _single(TO_KEY)
        from_id = (
            f1
            if f1 is not None
            else (
                F.array_max(_vals(FROM_KEY))
                if FROM_KEY in by_key
                else F.lit(None).cast("string")
            )
        )
        to_id = (
            to1
            if to1 is not None
            else (
                F.array_max(_vals(TO_KEY))
                if TO_KEY in by_key
                else F.lit(None).cast("string")
            )
        )

        def _prop_entry(k: str) -> Column:
            v1 = _single(k)
            if v1 is not None:
                return F.when(
                    v1.isNotNull(), F.concat(F.lit(k + "=["), v1, F.lit("]"))
                )
            return F.when(
                F.size(_vals(k)) > 0,
                F.concat(
                    F.lit(k + "=["), F.array_join(_vals(k), ","), F.lit("]")
                ),
            )

        # keys sorted at plan time == the oracle's ORDER BY key;
        # concat_ws skips the NULL entries of all-null keys
        prop_keys = sorted(k for k in by_key if k not in SPECIAL_KEYS)
        props_str = F.concat_ws(";", *[_prop_entry(k) for k in prop_keys])
        # a row whose every serialized value is NULL emits zero triples,
        # so the aggregated build has no such element — drop it here too
        any_triple = F.coalesce(
            *[F.col(f"_v{i}") for i in range(len(self.mappers))]
        ).isNotNull()
        return (
            df.select(*staged)
            .filter(
                F.col(ID_COL).isNotNull()
                & (F.col(ID_COL) != F.lit(""))
                & any_triple
            )
            .select(
                F.col(ID_COL).alias("id"),
                F.when(from_id.isNotNull(), F.lit(str(PGElementType.EDGE)))
                .otherwise(F.lit(str(PGElementType.NODE)))
                .alias("type"),
                labels_str.alias("labels_str"),
                from_id.alias("from_id"),
                to_id.alias("to_id"),
                props_str.alias("props_str"),
            )
        )

    # -- Arrow-vectorized Python fallback ------------------------------------

    def _map_in_pandas(self, df: DataFrame) -> DataFrame:
        import pandas as pd

        mappers = self.mappers
        auto_edge = self._auto_edge
        id_mapper = self.id_mapper
        specials = (TYPE_KEY, FROM_KEY, TO_KEY)
        conv = DEFAULT_CONVERTER

        if self.input_columns() and all(
            (m.input_columns() or not m.is_python) for m in mappers
        ):
            needed = self.input_columns() & set(df.columns)
            if needed:
                df = df.select(*sorted(needed))

        if auto_edge:
            tm = self._special(TYPE_KEY)
            fm = self._special(FROM_KEY)
            to_m = self._special(TO_KEY)

        def batch_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_rows: list[tuple[str, str, str | None]] = []
                for rec in pdf.to_dict(orient="records"):
                    row = {k: (None if pd.isna(v) else v) for k, v in rec.items()}
                    if auto_edge:
                        t, f_, to = (
                            _py_value(tm, row),
                            _py_value(fm, row),
                            _py_value(to_m, row),
                        )
                        try:
                            eid = edge_id_py(t, f_, to)
                        except ValueError:
                            if self.on_empty_edge_part == "skip":
                                continue
                            raise
                    else:
                        eid = _py_value_vm(id_mapper, row)
                    if eid is None or str(eid) == "":
                        continue
                    eid = str(eid)
                    for m in mappers:
                        v = _py_value(m, row)
                        s = (
                            (None if v in (None, "") else str(v))
                            if (not m.serialize or m.key in specials)
                            else conv.serialize(v)
                        )
                        if s is None:
                            continue
                        out_rows.append((eid, m.key, s))
                yield pd.DataFrame(out_rows, columns=[ID_COL, KEY_COL, VALUE_COL])

        return df.mapInPandas(batch_fn, TRIPLE_SCHEMA)


def _py_value_vm(vm: ValueMapper | None, row: dict[str, Any]) -> Any:
    """Evaluate a value mapper row-side on the mapInPandas fallback path.

    Only Python mappers and plain column/constant mappers are supported
    here; Column wrappers and expression mappers must be pre-computed as
    DataFrame columns before mixing with Python extractors.
    """
    from .mappers import ColumnValueMapper, ConstantValueMapper

    assert vm is not None
    if vm.is_python:
        return vm.py_call(row)
    if vm.wrappers:
        raise ValueError(
            "Column wrappers cannot apply on the Python fallback path; "
            "pre-compute the wrapped value as a DataFrame column first"
        )
    if isinstance(vm, ColumnValueMapper):
        return row.get(vm.column)
    if isinstance(vm, ConstantValueMapper):
        return vm.value
    raise ValueError(
        "expression mappers cannot run on the Python fallback path; "
        "pre-compute them as DataFrame columns first"
    )


def _py_value(m: TripleMapper, row: dict[str, Any]) -> Any:
    return _py_value_vm(m.value, row)


# ---------------------------------------------------------------------------


def chain_mappers(
    df: DataFrame, *dfmappers: DataFrameMapper
) -> DataFrame:
    """Run N mappings over the same input and union the triple outputs
    (reference src/ketl/tabmap/helpers.py:179-203).

    On the native path every mapping is a narrow projection of the same
    scan, so the union is shuffle-free and the scan is shared.
    """
    out: DataFrame | None = None
    for dm in dfmappers:
        t = dm.to_triples(df)
        out = t if out is None else out.unionByName(t)
    if out is None:
        raise ValueError("at least one DataFrameMapper required")
    return out


def rowlocal_pg_flat(
    df: DataFrame,
    *dfmappers: DataFrameMapper,
    check_contract: bool = False,
) -> DataFrame:
    """Union of per-mapping row-local PG builds over one input — the
    shuffle-free twin of ``triples_to_pg_flat(chain_mappers(df, ...))``.

    The row-local element contract (see
    :meth:`DataFrameMapper.to_pg_flat`) extends across the chain: the
    mappings' id spaces must be mutually disjoint (distinct id prefixes /
    auto edge ids vs node ids), so the union needs no merge.
    ``check_contract=True`` probes uniqueness over the UNION of the
    mappings' id projections, so both per-mapping duplicates and
    cross-mapping id collisions fail loudly."""
    if not dfmappers:
        raise ValueError("at least one DataFrameMapper required")
    if check_contract:
        ids: DataFrame | None = None
        for dm in dfmappers:
            if dm.is_python:
                raise ValueError(
                    "row-local PG build requires the native expression path; "
                    "Python mappers must go through to_triples + triples_to_pg_flat"
                )
            p = df.select(dm._id_expr().alias(ID_COL)).filter(
                F.col(ID_COL).isNotNull() & (F.col(ID_COL) != F.lit(""))
            )
            ids = p if ids is None else ids.unionByName(p)
        assert ids is not None
        _assert_rowlocal_ids(ids)
    out: DataFrame | None = None
    for dm in dfmappers:
        p = dm.to_pg_flat(df)
        out = p if out is None else out.unionByName(p)
    assert out is not None
    return out


def _assert_rowlocal_ids(ids: DataFrame) -> None:
    """Exact uniqueness probe for the row-local PG contract: a single-
    column hash aggregation (partial counts map-side; only duplicate
    groups reach the reduce, so the shuffle is near-empty when the
    contract holds). Raises with up to 3 witness ids on violation."""
    dup = (
        ids.groupBy(ID_COL)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .limit(3)
        .collect()
    )
    if dup:
        witnesses = ", ".join(f"{r[ID_COL]!r}×{r['_n']}" for r in dup)
        raise ValueError(
            "row-local PG contract violated — element id(s) produced by "
            f"more than one input row or mapping: {witnesses}. These ids "
            "would get silently wrong label/property sets under the "
            "zero-shuffle build; use triples_to_pg_flat / triples_to_pg "
            "(contract-free aggregated builds) for non-row-unique ids."
        )
