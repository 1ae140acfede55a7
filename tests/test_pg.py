"""Triples→PG aggregation semantics (reference behaviors pinned by
tests/ketl/io/test_io.py in the reference repo)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from knetminer_etl_spark import dangling_edges, triples_to_pg


@pytest.fixture()
def triples(spark):
    rows = [
        # node N1: two labels, multi-valued property with a duplicate
        ("N1", "@type", "Gene"),
        ("N1", "@type", "Marker"),
        ("N1", "name", '"TP53"'),
        ("N1", "syn", '"p53"'),
        ("N1", "syn", '"p53"'),
        ("N1", "syn", '"LFS1"'),
        # node N2: no properties beyond type
        ("N2", "@type", "Protein"),
        # edge E1
        ("E1", "@type", "encodes"),
        ("E1", "@from", "N1"),
        ("E1", "@to", "N2"),
        ("E1", "evidence", '"tm"'),
    ]
    return spark.createDataFrame(rows, "id string, key string, value string")


def by_id(pg):
    return {r["id"]: r for r in pg.collect()}


class TestPGBuild:
    def test_types_and_labels(self, spark, triples):
        got = by_id(triples_to_pg(triples))
        assert got["N1"]["type"] == "node"
        assert got["E1"]["type"] == "edge"
        assert got["N1"]["labels"] == ["Gene", "Marker"]  # sorted
        assert got["E1"]["labels"] == ["encodes"]

    def test_endpoints(self, spark, triples):
        got = by_id(triples_to_pg(triples))
        assert (got["E1"]["from"], got["E1"]["to"]) == ("N1", "N2")
        assert got["N1"]["from"] is None and got["N1"]["to"] is None

    def test_properties_are_sorted_sets(self, spark, triples):
        got = by_id(triples_to_pg(triples))
        assert got["N1"]["properties"]["syn"] == ['"LFS1"', '"p53"']
        assert got["N1"]["properties"]["name"] == ['"TP53"']
        assert got["N2"]["properties"] == {}  # empty-map default
        assert "@type" not in got["N1"]["properties"]

    def test_single_shuffle_plan(self, spark, triples):
        plan = triples_to_pg(triples)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1  # one shuffle on id, no joins

    def test_null_values_endpoint_ignored_property_kept(self, spark):
        """NULL triple values: the endpoint aggregate ignores them and a
        property value set keeps them."""
        rows = [
            ("E1", "@type", "rel"),
            ("E1", "@from", None),
            ("E1", "@to", "N1"),
            ("N1", "@type", "Gene"),
            ("N1", "p", None),
            ("N1", "p", "x"),
        ]
        df = spark.createDataFrame(rows, "id string, key string, value string")
        got = by_id(triples_to_pg(df))
        assert got["E1"]["from"] is None and got["E1"]["to"] == "N1"
        assert got["E1"]["type"] == "node"  # no non-NULL @from
        assert got["E1"]["labels"] == ["rel"]
        assert got["N1"]["properties"] == {"p": ["x", None]}  # NULLs last

    def test_hot_element_builds(self, spark):
        """One element with 1M property rows: all its raw pairs meet on one
        reducer of the single aggregation. Asserts correctness of the
        skewed build (and that both the hot and a normal element survive
        intact)."""
        from pyspark.sql import functions as F

        hot = (
            spark.range(1_000_000)
            .select(
                F.lit("HOT").alias("id"),
                F.concat(F.lit("k"), (F.col("id") % 10).cast("string")).alias("key"),
                # 100 distinct values per key -> bounded post-dedup state
                (F.col("id") % 1000).cast("string").alias("value"),
            )
        )
        rest = spark.createDataFrame(
            [("HOT", "@type", "Blob"), ("N1", "@type", "Gene"), ("N1", "p", "x")],
            "id string, key string, value string",
        )
        pg = by_id(triples_to_pg(hot.unionByName(rest)))
        assert pg["HOT"]["labels"] == ["Blob"]
        assert len(pg["HOT"]["properties"]) == 10
        assert len(pg["HOT"]["properties"]["k0"]) == 100
        assert pg["N1"]["properties"]["p"] == ["x"]

    def test_flat_build_equals_flattened_map_build(self, spark, triples):
        """The export-shaped flat build must agree exactly with flattening
        the map-typed build, including label-less elements, multi-valued
        properties, and NULL values."""
        from pyspark.sql import functions as F
        from pyspark.testing import assertDataFrameEqual

        from knetminer_etl_spark.pg.build import triples_to_pg_flat

        extra = spark.createDataFrame(
            [
                ("N3", "p", "a"),  # element with no @type at all
                ("N3", "p", None),
                ("N3", "q", "b"),
            ],
            "id string, key string, value string",
        )
        tr = triples.unionByName(extra)

        pg = triples_to_pg(tr)
        pkeys = F.array_sort(F.map_keys("properties"))
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
        want = pg.select(
            "id",
            "type",
            F.array_join("labels", "|").alias("labels_str"),
            F.col("from").alias("from_id"),
            F.col("to").alias("to_id"),
            props_str.alias("props_str"),
        ).orderBy("id")
        got = triples_to_pg_flat(tr).orderBy("id")
        assertDataFrameEqual(got, want)

    def test_flat_build_single_exchange(self, spark, triples):
        from knetminer_etl_spark.pg.build import triples_to_pg_flat

        plan = (
            triples_to_pg_flat(triples)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1  # one shuffle on id

    def test_validate_missing_endpoint_raises(self, spark):
        bad = spark.createDataFrame(
            [("E9", "@type", "rel"), ("E9", "@from", "N1")],
            "id string, key string, value string",
        )
        with pytest.raises(Exception):
            triples_to_pg(bad, validate=True).collect()

    def test_dangling_edges(self, spark, triples):
        extra = spark.createDataFrame(
            [
                ("E2", "@type", "rel"),
                ("E2", "@from", "N1"),
                ("E2", "@to", "MISSING"),
            ],
            "id string, key string, value string",
        )
        pg = triples_to_pg(triples.unionByName(extra))
        bad = {r["id"] for r in dangling_edges(pg).collect()}
        assert bad == {"E2"}


class TestMergePg:
    def test_merge_equals_rebuild_with_overlap(self, spark):
        from pyspark.sql import functions as F
        from pyspark.testing import assertDataFrameEqual

        from knetminer_etl_spark.pg.build import (
            flatten_pg,
            merge_pg,
            triples_to_pg,
        )

        old = spark.createDataFrame(
            [
                ("N1", "@type", "Gene"),
                ("N1", "name", '"abc"'),
                ("E1", "@from", "N1"),
            ],
            "id string, key string, value string",
        )
        delta = spark.createDataFrame(
            [
                ("N1", "@type", "Protein"),   # new label, same id
                ("N1", "name", '"abc"'),      # duplicate value -> set dedup
                ("N1", "alias", '"x"'),       # new property key
                ("E1", "@to", "N2"),          # completes the edge
                ("N2", "@type", "Gene"),      # brand-new element
            ],
            "id string, key string, value string",
        )
        merged = merge_pg(triples_to_pg(old), triples_to_pg(delta))
        rebuilt = triples_to_pg(old.unionByName(delta))
        assertDataFrameEqual(
            flatten_pg(merged).orderBy("id"),
            flatten_pg(rebuilt).orderBy("id"),
        )
        row = {r["id"]: r for r in merged.collect()}
        assert row["N1"]["labels"] == ["Gene", "Protein"]
        assert row["N1"]["properties"]["name"] == ['"abc"']
        assert row["E1"]["type"] == "edge" and row["E1"]["to"] == "N2"

    def test_merge_delta_only_and_old_only_ids(self, spark):
        from knetminer_etl_spark.pg.build import merge_pg, triples_to_pg

        old = spark.createDataFrame(
            [("A", "@type", "T")], "id string, key string, value string"
        )
        delta = spark.createDataFrame(
            [("B", "@type", "U")], "id string, key string, value string"
        )
        got = {r["id"]: r for r in merge_pg(
            triples_to_pg(old), triples_to_pg(delta)
        ).collect()}
        assert set(got) == {"A", "B"}
        assert got["A"]["labels"] == ["T"] and got["B"]["labels"] == ["U"]


class TestRowLocalFlatBuild:
    """DataFrameMapper.to_pg_flat: the zero-shuffle flat build under the
    row-local element contract must be bit-identical to
    triples_to_pg_flat(to_triples(df))."""

    def _mapper(self):
        from pyspark.sql import functions as F

        from knetminer_etl_spark.tabmap.compiler import DataFrameMapper
        from knetminer_etl_spark.tabmap.mappers import (
            ExprValueMapper,
            column_triple_mapper,
            type_triple_mapper,
        )

        return DataFrameMapper(
            ExprValueMapper(F.concat(F.lit("P:"), F.col("pk").cast("string"))),
            [
                column_triple_mapper("name", "hasName"),
                column_triple_mapper("alias", "hasName"),  # same-key pair
                column_triple_mapper("score", "hasScore"),
            ],
            [type_triple_mapper("Person"), type_triple_mapper("Agent")],
        )

    @pytest.fixture()
    def src(self, spark):
        rows = [
            (1, "ann", "ann", 3.5),      # duplicate value within a key
            (2, "bob", "bobby", None),   # null property drops
            (3, None, None, 1.0),        # whole key absent from props
            (None, "ghost", None, 9.9),  # null id -> element not emitted
        ]
        return spark.createDataFrame(
            rows, "pk long, name string, alias string, score double"
        )

    def test_equals_aggregated_build(self, spark, src):
        from knetminer_etl_spark.pg.build import triples_to_pg_flat

        m = self._mapper()
        got = sorted(tuple(r) for r in m.to_pg_flat(src).collect())
        want = sorted(
            tuple(r) for r in triples_to_pg_flat(m.to_triples(src)).collect()
        )
        assert got == want
        assert len(got) == 3  # null-pk row emits nothing

    def test_prefix_keys_order_by_key(self, spark):
        """Keys where one is a proper prefix of another ('score' vs
        'score2': '2' < '=') order differently by key than by rendered
        'key=[vals]' entry string; the flat build must match the
        aggregated build, and both order entries by key."""
        from pyspark.sql import functions as F

        from knetminer_etl_spark.pg.build import triples_to_pg_flat
        from knetminer_etl_spark.tabmap.compiler import DataFrameMapper
        from knetminer_etl_spark.tabmap.mappers import (
            ExprValueMapper,
            column_triple_mapper,
            type_triple_mapper,
        )

        m = DataFrameMapper(
            ExprValueMapper(F.concat(F.lit("P:"), F.col("pk").cast("string"))),
            [
                column_triple_mapper("s1", "score"),
                column_triple_mapper("s2", "score2"),
                column_triple_mapper("s3", "score"),  # multi-entry path
            ],
            [type_triple_mapper("T")],
        )
        src = spark.createDataFrame(
            [(1, 2.0, 3.0, 4.0), (2, None, 5.0, None)],
            "pk long, s1 double, s2 double, s3 double",
        )
        got = sorted(tuple(r) for r in m.to_pg_flat(src).collect())
        want = sorted(
            tuple(r) for r in triples_to_pg_flat(m.to_triples(src)).collect()
        )
        assert got == want
        # the entries are in key order, as the SQL oracle's ORDER BY key
        assert got[0][5].startswith("score=[")

    def test_contract_violation_fails_loudly(self, spark):
        """check_contract=True: duplicate element ids (non-unique key, or
        two mappings emitting the same id) raise with witnesses instead
        of producing a silently wrong PG."""
        from pyspark.sql import functions as F

        from knetminer_etl_spark.tabmap.compiler import (
            DataFrameMapper,
            rowlocal_pg_flat,
        )
        from knetminer_etl_spark.tabmap.mappers import (
            ExprValueMapper,
            column_triple_mapper,
            type_triple_mapper,
        )

        def mk(prefix):
            return DataFrameMapper(
                ExprValueMapper(
                    F.concat(F.lit(prefix), F.col("grp").cast("string"))
                ),
                [column_triple_mapper("val", "hasVal")],
                [type_triple_mapper("T")],
            )

        dup_rows = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "c")], "grp long, val string"
        )
        with pytest.raises(ValueError, match="row-local PG contract"):
            mk("P:").to_pg_flat(dup_rows, check_contract=True)

        # cross-mapping collision: same id emitted by two chained mappings
        uniq = spark.createDataFrame([(1, "a"), (2, "b")], "grp long, val string")
        with pytest.raises(ValueError, match="row-local PG contract"):
            rowlocal_pg_flat(uniq, mk("P:"), mk("P:"), check_contract=True)

        # the probe passes on genuinely unique ids (and is side-effect free)
        out = rowlocal_pg_flat(uniq, mk("P:"), mk("Q:"), check_contract=True)
        assert out.count() == 4

    def test_zero_exchange_plan(self, spark, src):
        plan = (
            self._mapper()
            .to_pg_flat(src)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan

    def test_edge_mapper_and_chain(self, spark):
        from pyspark.sql import functions as F

        from knetminer_etl_spark.pg.build import triples_to_pg_flat
        from knetminer_etl_spark.tabmap.compiler import (
            AUTO_EDGE_ID,
            DataFrameMapper,
            chain_mappers,
            rowlocal_pg_flat,
        )
        from knetminer_etl_spark.tabmap.mappers import (
            ExprValueMapper,
            edge_source_triple_mapper,
            edge_target_triple_mapper,
            type_triple_mapper,
        )

        df = spark.createDataFrame(
            [(1, 10), (2, 20)], "src long, dst long"
        )
        node = DataFrameMapper(
            ExprValueMapper(F.concat(F.lit("N:"), F.col("src").cast("string"))),
            [],
            [type_triple_mapper("Node")],
        )
        edge = DataFrameMapper(
            AUTO_EDGE_ID,
            [
                edge_source_triple_mapper(
                    ExprValueMapper(
                        F.concat(F.lit("N:"), F.col("src").cast("string"))
                    )
                ),
                edge_target_triple_mapper(
                    ExprValueMapper(
                        F.concat(F.lit("N:"), F.col("dst").cast("string"))
                    )
                ),
            ],
            [type_triple_mapper("linksTo")],
        )
        got = sorted(
            tuple(r) for r in rowlocal_pg_flat(df, node, edge).collect()
        )
        want = sorted(
            tuple(r)
            for r in triples_to_pg_flat(
                chain_mappers(df, node, edge)
            ).collect()
        )
        assert got == want
        edges = [r for r in got if r[1] == "edge"]
        assert len(edges) == 2 and all(r[3] and r[4] for r in edges)

    def test_python_mapper_rejected(self, spark, src):
        from knetminer_etl_spark.tabmap.compiler import DataFrameMapper
        from knetminer_etl_spark.tabmap.mappers import (
            RowValueMapper,
            TripleMapper,
            type_triple_mapper,
        )

        m = DataFrameMapper(
            RowValueMapper(lambda row: row["pk"]),
            [],
            [type_triple_mapper("T")],
        )
        with pytest.raises(ValueError, match="native expression path"):
            m.to_pg_flat(src)

    @pytest.mark.skipif(
        not __import__("os").path.isdir("/root/testdata/sf0.001"),
        reason="driver testdata not present",
    )
    def test_real_tables_match_aggregated(self, spark):
        from knetminer_etl_spark.queries.kg import (
            kg_pg_elements,
            kg_pg_elements_agg,
        )

        sf_dir = "/root/testdata/sf0.001"
        got = sorted(
            tuple(r) for r in kg_pg_elements(spark, sf_dir).collect()
        )
        want = sorted(
            tuple(r) for r in kg_pg_elements_agg(spark, sf_dir).collect()
        )
        assert got == want


def _oracle_flat(rows):
    """Sorted flat rows of the DuckDB oracle's own CTEs (those after the
    source-specific triples CTE of KG_PG_ELEMENTS_SQL) over ``rows``."""
    import duckdb

    from knetminer_etl_spark.queries.kg import KG_PG_ELEMENTS_SQL

    con = duckdb.connect()
    con.execute("CREATE TABLE triples (id VARCHAR, key VARCHAR, value VARCHAR)")
    con.executemany("INSERT INTO triples VALUES (?, ?, ?)", rows)
    oracle = "WITH " + KG_PG_ELEMENTS_SQL[KG_PG_ELEMENTS_SQL.index("labels AS ("):]
    return sorted(con.execute(oracle).fetchall())


def test_flat_key_order_matches_oracle(spark):
    """Every flat builder renders props_str in the DuckDB oracle's order
    (KG_PG_ELEMENTS_SQL: string_agg ... ORDER BY key), also where one key
    prefixes another ('score' < 'score2', while the rendered entry
    'score2=[' sorts before 'score=[')."""
    from pyspark.sql import functions as F

    from knetminer_etl_spark.pg.build import (
        flatten_pg,
        merge_pg,
        triples_to_pg_flat,
    )
    from knetminer_etl_spark.tabmap.compiler import (
        DataFrameMapper,
        rowlocal_pg_flat,
    )
    from knetminer_etl_spark.tabmap.mappers import (
        ExprValueMapper,
        column_triple_mapper,
        type_triple_mapper,
    )

    m = DataFrameMapper(
        ExprValueMapper(F.concat(F.lit("P:"), F.col("pk").cast("string"))),
        [
            column_triple_mapper("s1", "score"),
            column_triple_mapper("s2", "score2"),
            column_triple_mapper("s3", "score"),  # multi-value key
        ],
        [type_triple_mapper("T")],
    )
    src = spark.createDataFrame(
        [(1, 2.0, 3.0, 4.0), (2, None, 5.0, 6.0), (3, 7.0, None, None)],
        "pk long, s1 double, s2 double, s3 double",
    )
    triples = m.to_triples(src)
    want = _oracle_flat([tuple(r) for r in triples.collect()])
    assert [r[5] for r in want] == [
        "score=[2.0,4.0];score2=[3.0]",
        "score=[6.0];score2=[5.0]",
        "score=[7.0]",
    ]

    old = triples.filter(F.col("key") != "score2")
    delta = triples.filter(F.col("key") == "score2")
    builds = {
        "triples_to_pg_flat": triples_to_pg_flat(triples),
        "flatten_pg(merge_pg)": flatten_pg(
            merge_pg(triples_to_pg(old), triples_to_pg(delta))
        ),
        "rowlocal_pg_flat": rowlocal_pg_flat(src, m),
    }
    for name, flat in builds.items():
        assert sorted(tuple(r) for r in flat.collect()) == want, name


def test_flat_drops_all_null_key_as_oracle(spark):
    """A property whose values are all NULL has no entry in the oracle's
    ``kv``/``props`` CTEs; the flat builders drop the key too, while the
    map-typed PG keeps it (test_null_values_endpoint_ignored_property_kept)."""
    from knetminer_etl_spark.pg.build import flatten_pg, triples_to_pg_flat

    rows = [("N1", "p", None), ("N1", "q", "1")]
    triples = spark.createDataFrame(rows, "id string, key string, value string")
    want = _oracle_flat(rows)
    assert want == [("N1", "node", "", None, None, "q=[1]")]
    for name, flat in {
        "flatten_pg": flatten_pg(triples_to_pg(triples)),
        "triples_to_pg_flat": triples_to_pg_flat(triples),
    }.items():
        assert [tuple(r) for r in flat.collect()] == want, name


def test_pg_to_triples_roundtrip(spark, triples):
    """pg_to_triples is a true inverse: re-aggregating the expansion
    reproduces the PG relation exactly (the contract N-way merge and the
    streaming delta-log compaction rely on)."""
    from knetminer_etl_spark.pg.build import pg_to_triples

    pg = triples_to_pg(triples)
    back = triples_to_pg(pg_to_triples(pg))
    a = sorted(map(str, pg.collect()))
    b = sorted(map(str, back.collect()))
    assert a == b
