"""Bloom-filter semi-join pruning (runtime filter).

The 100 TB join problem this solves: a selective dimension predicate
(say 1/5 of customers) should prune the fact table BEFORE the fact
rows pay the shuffle — otherwise 100 TB of lineitem crosses the network
to be thrown away at the join. Engines call this a runtime filter /
bloom join (Spark's AQE injects one for some shapes —
``spark.sql.optimizer.runtime.bloomFilter.enabled``); this operator is
the explicit, deterministic version:

1. build: hash each dim key to ``k`` bit positions (seeded md5-derived
   hashes), OR them into ``n_bits/64`` BIGINT words with a map-side-
   combined ``bit_or`` aggregate — the shuffle carries at most the word
   table, whatever the dim size;
2. collect the word table to the driver (``n_bits/64`` longs — the
   broadcast-parameter shape, 8 KiB at 2^16 bits) and inline it as a
   literal array;
3. filter: a **narrow map** over the fact — k hash probes into the
   literal words, AND of bit tests. No shuffle, no join; false
   positives pass (bounded by the standard ``(1-e^{-kn/m})^k``), false
   negatives never — so following with the real join stays exact while
   the shuffle carries only survivors.

Deterministic (md5-derived positions) hence SQL-reproducible: the
oracle rebuilds the identical filter and keeps the identical rows.
No counterpart in the reference (its joins are full-relation); this is
a north-star scale extension.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

N_BITS_DEFAULT = 1 << 16
K_DEFAULT = 4


def _positions(
    key: Column, n_bits: int, k: int, seed: str, hash: str = "md5"
) -> list[Column]:
    """``hash="md5"``: k independent seeded md5 probes — SQL-reproducible
    (the oracle can rebuild the identical filter), the default.
    ``hash="xx"``: Kirsch-Mitzenmacher double hashing over two xxhash64
    passes (h1 + j·h2, h2 forced odd) — ~one native JVM hash per probe
    set instead of k md5s over concatenated strings; for filters whose
    correctness is verified downstream (an exact join on survivors)
    rather than replicated by the oracle."""
    if hash == "md5":
        return [
            md5_hash60(
                F.concat(F.lit(f"{seed}:{j}:"), key.cast("string"))
            ).bitwiseAND(F.lit(n_bits - 1))
            for j in range(k)
        ]
    if hash != "xx":
        raise ValueError(f"unknown bloom hash: {hash!r}")
    # reduce mod n_bits BEFORE the j-scaling: (h1 + j·h2) mod m is
    # unchanged (m is a power of two, mod distributes over + and ×) and
    # the intermediate stays ≤ k·m — no long overflow under ANSI mode
    mask = F.lit(n_bits - 1)
    h1 = F.xxhash64(F.lit(seed), key).bitwiseAND(mask)
    h2 = F.xxhash64(key, F.lit(seed)).bitwiseOR(F.lit(1)).bitwiseAND(mask)
    return [(h1 + F.lit(j) * h2).bitwiseAND(mask) for j in range(k)]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
    hash: str = "md5",
) -> list[int]:
    """The filter as ``n_bits/64`` Python ints (one distributed
    ``bit_or`` aggregate, then a bounded collect). ``n_bits`` must be a
    power of two. Size for ~10 bits/key to keep the false-positive rate
    ~1%; the word table is what crosses to the driver, never the keys."""
    if n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two")
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_bits, k, seed, hash))
    ).alias("_pos")
    words = (
        keys.select(pos)
        .select(
            F.shiftright(F.col("_pos"), 6).alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos & 63 AS INT))").alias(
                "_m"
            ),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .collect()
    )
    table = [0] * (n_bits // 64)
    for r in words:
        table[r["_w"]] = r["_bits"]
    return table


#: single-bit masks as signed 64-bit longs (bit 63 is the sign bit) —
#: a literal lookup avoids variable-amount shifts, which the Column API
#: only offers with int-literal amounts.
_BIT_MASKS = [1 << b for b in range(63)] + [-(1 << 63)]


#: word-table size past which the probe stops inlining a literal array
#: expression: a 2^26-bit table is 1M BIGINT words ≈ 25 MB of SQL text —
#: re-parsed by the JVM analyzer on every Dataset method and carried in
#: every task's serialized plan (the "parses in microseconds" property
#: measured for the 1024-word table does NOT extrapolate). Above this
#: the probe switches to an Arrow-batched numpy bit test whose table
#: ships once per executor with the (auto-broadcast) pickled command.
LITERAL_WORDS_MAX = 1 << 16


def _might_contain_arrow(
    key: Column, words: list[int], n_bits: int, k: int, seed: str, hash: str
) -> Column:
    """Membership test for LARGE word tables: bit positions are computed
    JVM-side by the same :func:`_positions` expressions (so build/probe
    hashing can never diverge), batched to Python as one int64 array
    column, and tested against a closure-held numpy uint64 table —
    vectorized, and the table crosses the wire once per executor instead
    of riding every plan tree. Bit-identical to the literal-array probe
    (tests force both paths over the same spec)."""
    from pyspark.sql.functions import pandas_udf

    table = np.array([w & 0xFFFFFFFFFFFFFFFF for w in words], dtype=np.uint64)

    @pandas_udf("boolean")
    def _probe(pos: pd.Series) -> pd.Series:
        arr = np.stack(pos.to_numpy()).astype(np.uint64)  # (batch, k)
        hit = np.ones(len(arr), dtype=bool)
        for j in range(arr.shape[1]):
            p = arr[:, j]
            w = table[(p >> np.uint64(6)).astype(np.int64)]
            hit &= ((w >> (p & np.uint64(63))) & np.uint64(1)).astype(bool)
        return pd.Series(hit)

    return _probe(F.array(*_positions(key, n_bits, k, seed, hash)))


def might_contain(
    key: Column,
    words: list[int],
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
    hash: str = "md5",
) -> Column:
    """Membership test over the word table — a pure Column expression
    (literal array, evaluates at scan speed and pushes below any
    downstream shuffle) up to :data:`LITERAL_WORDS_MAX` words, then the
    Arrow-batched probe (:func:`_might_contain_arrow` — a 2^26+-bit
    table as a literal would put tens of MB of SQL text through the
    analyzer per plan and into every task). Never false on a key that
    was inserted, whichever probe runs."""
    if len(words) > LITERAL_WORDS_MAX:
        return _might_contain_arrow(key, words, n_bits, k, seed, hash)
    # single expr() strings, not F.lit(list): pyspark expands a list
    # literal into one Py4J literal call PER ELEMENT — ~0.6 s of pure
    # driver round-trips for the 1024-word table on every invocation
    # (measured) — while one SQL string parses JVM-side in microseconds
    # and constant-folds to the same foldable array
    lut = F.expr(
        "array(" + ",".join(f"CAST('{int(w)}' AS BIGINT)" for w in words) + ")"
    )
    masks = F.expr(
        "array("
        + ",".join(f"CAST('{int(m)}' AS BIGINT)" for m in _BIT_MASKS)
        + ")"
    )
    cond: Column | None = None
    for p in _positions(key, n_bits, k, seed, hash):
        word = F.element_at(lut, F.shiftright(p, 6).cast("int") + 1)
        mask = F.element_at(masks, p.bitwiseAND(F.lit(63)).cast("int") + 1)
        test = word.bitwiseAND(mask) != 0
        cond = test if cond is None else (cond & test)
    return cond if cond is not None else F.lit(True)


# -- SQL twins (DuckDB) ------------------------------------------------------


def mask_sql(bit_expr: str) -> str:
    """Single-bit mask for ``bit_expr`` in 0..63 — DuckDB refuses
    ``1 << 63`` (signed overflow), so the sign bit is the min-long
    literal; all masks match Spark's signed-64 table exactly."""
    return (
        f"(CASE WHEN ({bit_expr}) = 63 THEN -9223372036854775807 - 1 "
        f"ELSE (1::BIGINT << CAST({bit_expr} AS INT)) END)"
    )


class BloomSpec(NamedTuple):
    """A built filter bundled with EVERY parameter that shaped it —
    probing derives all hashing choices from the spec, so a build/probe
    parameter mismatch (which fails in the dangerous direction: false
    negatives, i.e. true hits silently passing the filter) cannot be
    expressed."""

    words: tuple[int, ...]
    n_bits: int
    k: int
    seed: str
    hash: str


def build_spec(
    keys: DataFrame,
    key_col: str,
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
    hash: str = "md5",
) -> BloomSpec:
    """:func:`bloom_build` returning a :class:`BloomSpec` — the
    mismatch-proof form; prefer this for any filter probed elsewhere
    than the line that built it."""
    return BloomSpec(
        tuple(bloom_build(keys, key_col, n_bits, k, seed, hash)),
        n_bits,
        k,
        seed,
        hash,
    )


def spec_contains(key: Column, spec: BloomSpec) -> Column:
    """Membership test against a :class:`BloomSpec` (see
    :func:`might_contain`)."""
    return might_contain(
        key, list(spec.words), spec.n_bits, spec.k, spec.seed, spec.hash
    )


def bloom_semi_filter(
    fact: DataFrame,
    fact_key: str,
    dim_keys: DataFrame,
    dim_key: str,
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
) -> DataFrame:
    """Fact rows whose key might be in the dim key set (superset of the
    true semi-join; follow with the real join for exactness — the point
    is that only survivors pay that join's shuffle)."""
    words = bloom_build(dim_keys, dim_key, n_bits, k, seed)
    return fact.filter(
        might_contain(F.col(fact_key), words, n_bits, k, seed)
    )
