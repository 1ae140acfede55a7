"""Tabular→triples mapping DSL.

The public surface mirrors the reference's mapper hierarchy (reference
src/ketl/tabmap/core.py:21-194, src/ketl/core.py:186-331,
src/ketl/tabmap/helpers.py) but each mapper here **compiles to a native
Spark Column expression** instead of running row-at-a-time Python inside
``mapInPandas``. That makes the whole source→triples program one
Catalyst-visible plan (predicate pushdown, column pruning, whole-stage
codegen all apply). Arbitrary-Python extractors are still supported via
:class:`RowValueMapper`; any mapping containing one falls back to a
vectorized ``mapInPandas`` path in the compiler.

Value wrappers (prefix/postfix/default/upper/...) are chainable
Column→Column post-transforms (reference src/ketl/core.py:218-261,
src/ketl/helpers.py:24-36).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.model import FROM_KEY, TO_KEY, TYPE_KEY

# ---------------------------------------------------------------------------
# Value wrappers: chainable Column -> Column transforms
# ---------------------------------------------------------------------------

ValueWrapper = Callable[[Column], Column]


def string_wrapper(
    prefix: str = "", postfix: str = "", to_string: bool = True
) -> ValueWrapper:
    """Combined prefix/postfix/str() wrapper (reference src/ketl/helpers.py:24-36)."""

    def wrap(c: Column) -> Column:
        out = c.cast("string") if to_string else c
        if prefix:
            out = F.concat(F.lit(prefix), out)
        if postfix:
            out = F.concat(out, F.lit(postfix))
        return out

    return wrap


def default_wrapper(default: Any) -> ValueWrapper:
    """``v if v is not None else default``."""
    return lambda c: F.coalesce(c, F.lit(default))


def upper_wrapper() -> ValueWrapper:
    return lambda c: F.upper(c.cast("string"))


def drop_if_wrapper(pred: Callable[[Column], Column]) -> ValueWrapper:
    """Map values matching ``pred`` to NULL so the triple is dropped."""
    return lambda c: F.when(pred(c), F.lit(None)).otherwise(c)


# ---------------------------------------------------------------------------
# Value mappers: how to get one value out of an input row
# ---------------------------------------------------------------------------


class ValueMapper:
    """Base: produces one value per input row.

    Column-expressible subclasses implement :meth:`expr`; opaque-Python
    subclasses implement :meth:`py_call` and set ``is_python = True``.
    """

    is_python = False

    def __init__(self, wrappers: tuple[ValueWrapper, ...] = ()):
        self.wrappers = tuple(wrappers)

    def with_wrapper(self, *wrappers: ValueWrapper) -> "ValueMapper":
        clone = self.copy()
        clone.wrappers = self.wrappers + tuple(wrappers)
        return clone

    def copy(self) -> "ValueMapper":
        import copy as _copy

        return _copy.copy(self)

    # -- column path
    def base_expr(self) -> Column:
        raise NotImplementedError

    def expr(self) -> Column:
        c = self.base_expr()
        for w in self.wrappers:
            c = w(c)
        return c

    # -- python fallback path (row dict -> value)
    def py_call(self, row: dict[str, Any]) -> Any:
        raise NotImplementedError

    #: columns this mapper reads (for manual pruning on the Python path)
    def input_columns(self) -> set[str]:
        return set()


class ColumnValueMapper(ValueMapper):
    """Value of one input column; None when the column is missing
    (reference src/ketl/tabmap/core.py:116-168)."""

    def __init__(self, column: str, wrappers: tuple[ValueWrapper, ...] = ()):
        super().__init__(wrappers)
        self.column = column

    def base_expr(self) -> Column:
        return F.col(self.column)

    def py_call(self, row: dict[str, Any]) -> Any:
        return row.get(self.column)

    def input_columns(self) -> set[str]:
        return {self.column}


class ExprValueMapper(ValueMapper):
    """Arbitrary Column expression (Spark-first extension point)."""

    def __init__(self, expr: Column | str, wrappers: tuple[ValueWrapper, ...] = ()):
        super().__init__(wrappers)
        self._expr = F.expr(expr) if isinstance(expr, str) else expr

    def base_expr(self) -> Column:
        return self._expr


class ConstantValueMapper(ValueMapper):
    """Same literal for every row (reference src/ketl/core.py:186-215)."""

    def __init__(self, value: Any, wrappers: tuple[ValueWrapper, ...] = ()):
        super().__init__(wrappers)
        self.value = value

    def base_expr(self) -> Column:
        return F.lit(self.value)

    def py_call(self, row: dict[str, Any]) -> Any:
        return self.value


class RowValueMapper(ValueMapper):
    """Arbitrary Python ``fun(row_dict) -> value`` extractor (reference
    src/ketl/tabmap/core.py:21-80, src/ketl/tabmap/helpers.py:14-39).

    Opaque to Catalyst — forces the compiler's ``mapInPandas`` fallback.
    Declare ``columns`` to keep column pruning effective.
    """

    is_python = True

    def __init__(
        self,
        fun: Callable[[dict[str, Any]], Any],
        columns: tuple[str, ...] = (),
        wrappers: tuple[ValueWrapper, ...] = (),
    ):
        super().__init__(wrappers)
        self.fun = fun
        self.columns = tuple(columns)

    def py_call(self, row: dict[str, Any]) -> Any:
        return self.fun(row)

    def input_columns(self) -> set[str]:
        return set(self.columns)


def as_value_mapper(spec: Any) -> ValueMapper:
    """Coerce str (column name) / Column / callable / mapper to a ValueMapper."""
    if isinstance(spec, ValueMapper):
        return spec
    if isinstance(spec, str):
        return ColumnValueMapper(spec)
    if isinstance(spec, Column):
        return ExprValueMapper(spec)
    if callable(spec):
        return RowValueMapper(spec)
    raise TypeError(f"cannot build a value mapper from {type(spec)!r}")


# ---------------------------------------------------------------------------
# Triple mappers: (value mapper, property key) -> one triple per row
# ---------------------------------------------------------------------------


class TripleMapper:
    """One output triple ``(id, key, serialized(value))`` per input row
    (reference src/ketl/tabmap/core.py:83-113,173-194)."""

    def __init__(self, key: str, value: ValueMapper, serialize: bool = True):
        self.key = key
        self.value = value
        self.serialize = serialize

    @property
    def is_python(self) -> bool:
        return self.value.is_python

    def input_columns(self) -> set[str]:
        return self.value.input_columns()

    def value_expr(self) -> Column:
        """The (unserialized) value expression."""
        return self.value.expr()


def column_triple_mapper(
    column: str, key: str | None = None, *wrappers: ValueWrapper, serialize: bool = True
) -> TripleMapper:
    """Property from a column; property name defaults to the column name
    (reference src/ketl/tabmap/core.py:173-194)."""
    vm = ColumnValueMapper(column)
    if wrappers:
        vm = vm.with_wrapper(*wrappers)
    return TripleMapper(key or column, vm, serialize=serialize)


def row_triple_mapper(
    key: str, fun_or_mapper: Any, *wrappers: ValueWrapper, serialize: bool = True
) -> TripleMapper:
    vm = as_value_mapper(fun_or_mapper)
    if wrappers:
        vm = vm.with_wrapper(*wrappers)
    return TripleMapper(key, vm, serialize=serialize)


def constant_triple_mapper(key: str, value: Any) -> TripleMapper:
    """Constant-valued property for every element (reference
    src/ketl/core.py:281-331)."""
    return TripleMapper(key, ConstantValueMapper(value))


def data_source_triple_mapper(data_source: str) -> TripleMapper:
    """``dataSources`` constant property naming the ingest source
    (reference src/ketl/mappings/knetminer.py:57-69 —
    ``data_source_triple_mapper``; its ``@cache`` is irrelevant here,
    the mapper is a value object)."""
    return constant_triple_mapper("dataSources", data_source)


def accession_triple_mapper(source: str, accession: str) -> TripleMapper:
    """``accessions`` property composed as ``"{source}:{acc}"`` with the
    ``!CONST`` convention (reference src/ketl/mappings/knetminer.py:11-55
    — ``create_accession_tabmapper``): the triple-level convenience over
    :func:`accession_value_mapper`."""
    return TripleMapper("accessions", accession_value_mapper(source, accession))


def type_triple_mapper(label: str) -> TripleMapper:
    """``@type`` constant mapper (reference src/ketl/helpers.py:13-21)."""
    return TripleMapper(TYPE_KEY, ConstantValueMapper(label), serialize=False)


def edge_source_triple_mapper(spec: Any, *wrappers: ValueWrapper) -> TripleMapper:
    """``@from`` triple from a column/fn/mapper (reference
    src/ketl/tabmap/helpers.py:64-84)."""
    vm = as_value_mapper(spec)
    if wrappers:
        vm = vm.with_wrapper(*wrappers)
    return TripleMapper(FROM_KEY, vm, serialize=False)


def edge_target_triple_mapper(spec: Any, *wrappers: ValueWrapper) -> TripleMapper:
    vm = as_value_mapper(spec)
    if wrappers:
        vm = vm.with_wrapper(*wrappers)
    return TripleMapper(TO_KEY, vm, serialize=False)


# ---------------------------------------------------------------------------
# Edge-ID composition
# ---------------------------------------------------------------------------


def edge_id_expr(
    type_c: Column, from_c: Column, to_c: Column, on_empty: str = "error"
) -> Column:
    """``f"{type}:{from}-{to}"`` with configurable empty-part handling
    (reference src/ketl/tabmap/helpers.py:87-103,166-176 — the reference
    raises inside the executor; ``on_empty="skip"`` maps bad rows to NULL
    ids, which the compiler then drops).
    """
    parts = [c.cast("string") for c in (type_c, from_c, to_c)]
    bad = F.lit(False)
    for p in parts:
        bad = bad | p.isNull() | (p == F.lit(""))
    composed = F.concat(parts[0], F.lit(":"), parts[1], F.lit("-"), parts[2])
    if on_empty == "error":
        return F.when(
            bad,
            F.raise_error(
                F.concat(
                    F.lit("edge_id: empty type/from/to in ("),
                    F.concat_ws(
                        ", ", *[F.coalesce(p, F.lit("<null>")) for p in parts]
                    ),
                    F.lit(")"),
                )
            ).cast("string"),
        ).otherwise(composed)
    return F.when(bad, F.lit(None).cast("string")).otherwise(composed)


def edge_id_py(etype: Any, efrom: Any, eto: Any) -> str:
    """Python twin of :func:`edge_id_expr` for the mapInPandas fallback."""
    for name, part in (("type", etype), ("from", efrom), ("to", eto)):
        if part is None or str(part) == "":
            raise ValueError(f"edge_id: empty {name} in ({etype}, {efrom}, {eto})")
    return f"{etype}:{efrom}-{eto}"


def accession_value_mapper(source: str, accession: str) -> ValueMapper:
    """``"{source}:{acc}"`` composition with the ``!CONST`` literal-prefix
    convention on either part (reference src/ketl/mappings/knetminer.py:11-55):
    a part starting with ``!`` is a literal, otherwise it names a column.
    NULL-propagating: if either resolved part is NULL the value is NULL.
    """

    def part(spec: str) -> Column:
        if spec.startswith("!"):
            return F.lit(spec[1:])
        return F.col(spec).cast("string")

    s, a = part(source), part(accession)
    return ExprValueMapper(
        F.when(s.isNull() | a.isNull(), F.lit(None)).otherwise(
            F.concat(s, F.lit(":"), a)
        )
    )
