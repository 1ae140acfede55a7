"""Mapping DSL + compiler semantics (reference behaviors pinned by
tests/ketl/tabmap/test_tabmap_core.py in the reference repo)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from knetminer_etl_spark import (
    AUTO_EDGE_ID,
    DataFrameMapper,
    chain_mappers,
    column_triple_mapper,
    constant_triple_mapper,
    edge_source_triple_mapper,
    edge_target_triple_mapper,
    row_triple_mapper,
    type_triple_mapper,
)
from knetminer_etl_spark.tabmap.mappers import (
    RowValueMapper,
    accession_value_mapper,
    default_wrapper,
    drop_if_wrapper,
    string_wrapper,
    upper_wrapper,
)
from knetminer_etl_spark.tabmap.tabfile import TabFileMapper


def triples_set(df):
    return {(r["id"], r["key"], r["value"]) for r in df.collect()}


def node_mapper():
    return DataFrameMapper(
        "accession",
        [
            column_triple_mapper("name", "hasName"),
            column_triple_mapper("age"),
            column_triple_mapper("note"),
        ],
        [type_triple_mapper("Person"), constant_triple_mapper("source", "Test")],
    )


class TestNativeMapping:
    def test_basic_values_serialized(self, spark, people_df):
        got = triples_set(node_mapper().to_triples(people_df))
        assert ("A1", "hasName", '"Alice"') in got
        assert ("A1", "age", "30") in got
        assert ("A1", "@type", "Person") in got
        assert ("A1", "source", '"Test"') in got

    def test_null_and_empty_values_dropped(self, spark, people_df):
        got = triples_set(node_mapper().to_triples(people_df))
        keys_a1 = {k for (i, k, v) in got if i == "A1"}
        assert "note" not in keys_a1  # null note dropped
        assert not [v for (i, k, v) in got if k == "note" and v in ('""', "")]

    def test_null_id_rows_emit_nothing(self, spark, people_df):
        got = triples_set(node_mapper().to_triples(people_df))
        assert not [t for t in got if t[2] == '"Ghost"']

    def test_duplicate_ids_accumulate(self, spark, people_df):
        got = node_mapper().to_triples(people_df)
        assert got.filter("id = 'A2' AND key = 'hasName'").count() == 2

    def test_wrappers(self, spark, people_df):
        m = DataFrameMapper(
            "accession",
            [
                column_triple_mapper(
                    "name", "hasName", string_wrapper(prefix="p:", postfix=":s")
                ),
                column_triple_mapper("note", "note2", default_wrapper("dflt")),
                column_triple_mapper("name", "NAME", upper_wrapper()),
                column_triple_mapper(
                    "name", "nick", drop_if_wrapper(lambda c: c.startswith("Bob"))
                ),
            ],
        )
        got = triples_set(m.to_triples(people_df))
        assert ("A1", "hasName", '"p:Alice:s"') in got
        assert ("A1", "note2", '"dflt"') in got
        assert ("A1", "NAME", '"ALICE"') in got
        assert ("A1", "nick", '"Alice"') in got
        assert not [t for t in got if t[0] == "A2" and t[1] == "nick"]

    def test_accession_mapper(self, spark, people_df):
        m = DataFrameMapper(
            "accession",
            [row_triple_mapper("acc", accession_value_mapper("!ENS", "name"))],
        )
        got = triples_set(m.to_triples(people_df))
        assert ("A1", "acc", '"ENS:Alice"') in got


class TestEdgeMapping:
    def edges_df(self, spark):
        return spark.createDataFrame(
            [("G1", "P1", "tm"), ("G2", "P2", None), ("G3", None, "x")],
            "gene string, prot string, evidence string",
        )

    def edge_mapper(self, on_empty="skip"):
        return DataFrameMapper(
            AUTO_EDGE_ID,
            [
                edge_source_triple_mapper("gene"),
                edge_target_triple_mapper("prot"),
                column_triple_mapper("evidence"),
            ],
            [type_triple_mapper("encodes")],
            on_empty_edge_part=on_empty,
        )

    def test_auto_edge_id(self, spark):
        got = triples_set(self.edge_mapper().to_triples(self.edges_df(spark)))
        assert ("encodes:G1-P1", "@from", "G1") in got
        assert ("encodes:G1-P1", "@to", "P1") in got
        assert ("encodes:G1-P1", "@type", "encodes") in got
        assert ("encodes:G1-P1", "evidence", '"tm"') in got

    def test_empty_endpoint_skips(self, spark):
        ids = {
            r["id"]
            for r in self.edge_mapper().to_triples(self.edges_df(spark)).collect()
        }
        assert ids == {"encodes:G1-P1", "encodes:G2-P2"}

    def test_empty_endpoint_errors(self, spark):
        from py4j.protocol import Py4JJavaError

        with pytest.raises(Exception):
            self.edge_mapper(on_empty="error").to_triples(
                self.edges_df(spark)
            ).collect()


class TestPythonFallback:
    def test_row_value_mapper(self, spark, people_df):
        m = DataFrameMapper(
            "accession",
            [
                row_triple_mapper(
                    "initials",
                    RowValueMapper(
                        lambda row: (row["name"] or "?")[0].upper(),
                        columns=("name",),
                    ),
                ),
                column_triple_mapper("age"),
            ],
            [type_triple_mapper("Person")],
        )
        assert m.is_python
        got = triples_set(m.to_triples(people_df))
        assert ("A1", "initials", '"A"') in got
        assert ("A1", "age", "30") in got
        assert ("A1", "@type", "Person") in got
        # same drop semantics as native path
        assert not [t for t in got if t[2] == '"Ghost"']

    def test_matches_native_path(self, spark, people_df):
        native = node_mapper().to_triples(people_df)
        py = DataFrameMapper(
            RowValueMapper(lambda r: r["accession"], columns=("accession",)),
            [
                column_triple_mapper("name", "hasName"),
                column_triple_mapper("age"),
                column_triple_mapper("note"),
            ],
            [type_triple_mapper("Person"), constant_triple_mapper("source", "Test")],
        ).to_triples(people_df)
        assert sorted(map(tuple, native.collect())) == sorted(map(tuple, py.collect()))


class TestChainingAndFiles:
    def test_chain_mappers(self, spark, people_df):
        a = DataFrameMapper("accession", [column_triple_mapper("name")])
        b = DataFrameMapper("accession", [column_triple_mapper("age")])
        got = chain_mappers(people_df, a, b)
        keys = {r["key"] for r in got.collect()}
        assert keys == {"name", "age"}

    def test_tab_file_mapper(self, spark, tmp_path):
        tsv = tmp_path / "genes.tsv"
        tsv.write_text(
            "# comment line\n"
            "accession\tname\tchromosome\tbegin\tend\n"
            "EN0001\tTP53\t17\t7668402\t7687550\n"
            "EN0002\tEGFR\t7C\t55019017\t55211628\n"
            "EN0003\t\t1\t100\t200\n"
        )
        tfm = TabFileMapper(
            "accession",
            [
                column_triple_mapper("name", "hasName"),
                column_triple_mapper("chromosome"),
                column_triple_mapper("begin", "hasBegin"),
            ],
            [type_triple_mapper("Gene")],
        )
        got = triples_set(tfm.map(spark, tsv))
        assert ("EN0001", "hasName", '"TP53"') in got
        assert ("EN0001", "hasBegin", "7668402") in got  # inferred int
        assert ("EN0002", "chromosome", '"7C"') in got
        assert not [t for t in got if t[0] == "EN0003" and t[1] == "hasName"]

    def test_tab_file_mapper_with_cast_and_checkpoint(self, spark, tmp_path):
        tsv = tmp_path / "genes.tsv"
        tsv.write_text(
            "accession\tbegin\nEN1\t123\nEN2\t456\n"
        )
        out = tmp_path / "triples.parquet"
        tfm = TabFileMapper(
            "accession",
            [column_triple_mapper("begin")],
            column_types={"begin": "string"},
        )
        got = triples_set(tfm.map(spark, tsv, out_path=out))
        # cast to string before mapping → JSON string literals
        assert ("EN1", "begin", '"123"') in got
        assert (out / "_SUCCESS").exists()


def test_data_source_and_accession_triple_mappers(spark):
    """Reference mappings-module conveniences (ref
    src/ketl/mappings/knetminer.py): dataSources constant + composed
    accessions with the !CONST convention."""
    from knetminer_etl_spark.tabmap.compiler import DataFrameMapper
    from knetminer_etl_spark.tabmap.mappers import (
        accession_triple_mapper,
        data_source_triple_mapper,
    )

    df = spark.createDataFrame(
        [("g1", "ACC001"), ("g2", None)], ["gid", "acc"]
    )
    m = DataFrameMapper(
        "gid",
        [
            data_source_triple_mapper("ENSEMBL"),
            accession_triple_mapper("!ENSEMBL", "acc"),
        ],
        [],
    )
    got = {
        (r["id"], r["key"]): r["value"] for r in m.to_triples(df).collect()
    }
    assert got[("g1", "dataSources")] == '"ENSEMBL"'
    assert got[("g1", "accessions")] == '"ENSEMBL:ACC001"'
    assert got[("g2", "dataSources")] == '"ENSEMBL"'
    # NULL accession part -> no accessions triple for g2
    assert ("g2", "accessions") not in got
