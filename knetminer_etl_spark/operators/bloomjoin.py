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

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import md5_hash60

N_BITS_DEFAULT = 1 << 16
K_DEFAULT = 4


def _positions(key: Column, n_bits: int, k: int, seed: str) -> list[Column]:
    """k independent seeded md5 probes — SQL-reproducible: the oracle
    rebuilds the identical filter."""
    return [
        md5_hash60(
            F.concat(F.lit(f"{seed}:{j}:"), key.cast("string"))
        ).bitwiseAND(F.lit(n_bits - 1))
        for j in range(k)
    ]


def bloom_build(
    keys: DataFrame,
    key_col: str,
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
) -> list[int]:
    """The filter as ``n_bits/64`` Python ints (one distributed
    ``bit_or`` aggregate, then a bounded collect). ``n_bits`` must be a
    power of two. Size for ~10 bits/key to keep the false-positive rate
    ~1%; the word table is what crosses to the driver, never the keys."""
    if n_bits & (n_bits - 1):
        raise ValueError("n_bits must be a power of two")
    pos = F.explode(
        F.array(*_positions(F.col(key_col), n_bits, k, seed))
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


def might_contain(
    key: Column,
    words: list[int],
    n_bits: int = N_BITS_DEFAULT,
    k: int = K_DEFAULT,
    seed: str = "bloom",
) -> Column:
    """Membership test over the word table — a pure Column expression
    (literal array, evaluates at scan speed and pushes below any
    downstream shuffle). Never false on a key that was inserted."""
    lut = _long_array(words)
    masks = _long_array(_BIT_MASKS)
    cond: Column | None = None
    for p in _positions(key, n_bits, k, seed):
        word = F.element_at(lut, F.shiftright(p, 6).cast("int") + 1)
        mask = F.element_at(masks, p.bitwiseAND(F.lit(63)).cast("int") + 1)
        test = word.bitwiseAND(mask) != 0
        cond = test if cond is None else (cond & test)
    return cond if cond is not None else F.lit(True)


def _long_array(values) -> Column:
    """A foldable ``array<bigint>`` constant: ONE string literal parsed
    by ``from_json``, which constant folding evaluates once per plan.
    Not ``F.lit(list)``: pyspark expands a list literal into one Py4J
    call PER ELEMENT (~0.6 s of driver round-trips for a 1024-word
    table, measured). Not an ``array(...)`` SQL string either: its
    one-node-per-word tree is re-analyzed by every Dataset method on
    the probed frame — building a frame that probed a 4,096-word table
    4 times at sf0.1 took 2.3-3.2 s with ``CAST`` elements,
    1.4-1.9 s with ``L`` literals and 0.95-1.2 s with this form, at
    the same row count and action time."""
    return F.from_json(
        F.lit(json.dumps([int(v) for v in values])), "array<bigint>"
    )


# -- SQL twins (DuckDB) ------------------------------------------------------


def mask_sql(bit_expr: str) -> str:
    """Single-bit mask for ``bit_expr`` in 0..63 — DuckDB refuses
    ``1 << 63`` (signed overflow), so the sign bit is the min-long
    literal; all masks match Spark's signed-64 table exactly."""
    return (
        f"(CASE WHEN ({bit_expr}) = 63 THEN -9223372036854775807 - 1 "
        f"ELSE (1::BIGINT << CAST({bit_expr} AS INT)) END)"
    )
