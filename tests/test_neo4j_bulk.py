"""neo4j-admin bulk CSV export contract."""

from __future__ import annotations

from knetminer_etl_spark.io.neo4j_bulk import (
    bulk_edges,
    bulk_nodes,
    write_neo4j_bulk_csv,
)


def _pg(spark):
    rows = [
        ("N1", "node", "Gene|Thing", None, None, 'hasName=["abc","def"];x=[1]'),
        ("N2", "node", "Gene", None, None, ""),
        ("E1", "edge", "interacts", "N1", "N2", "w=[0.5]"),
    ]
    return spark.createDataFrame(
        rows,
        "id string, type string, labels_str string, from_id string, "
        "to_id string, props_str string",
    )


class TestBulkExport:
    def test_node_header_convention_and_props(self, spark):
        got = {r[":ID"]: r for r in bulk_nodes(_pg(spark), ["hasName"]).collect()}
        assert set(got) == {"N1", "N2"}
        assert got["N1"][":LABEL"] == "Gene|Thing"
        assert got["N1"]["hasName"] == "abc,def"  # quotes stripped
        assert got["N2"]["hasName"] is None

    def test_edge_header_convention(self, spark):
        got = bulk_edges(_pg(spark), ["w"]).collect()
        assert len(got) == 1
        e = got[0]
        assert (e[":START_ID"], e[":END_ID"], e[":TYPE"]) == ("N1", "N2", "interacts")
        assert e["w"] == "0.5"

    def test_csv_round_trip(self, spark, tmp_path):
        out = str(tmp_path / "bulk")
        write_neo4j_bulk_csv(_pg(spark), out, node_props=["hasName"])
        nodes = (
            spark.read.option("header", True).csv(f"{out}/nodes").collect()
        )
        assert {r[":ID"] for r in nodes} == {"N1", "N2"}
        edges = spark.read.option("header", True).csv(f"{out}/edges").collect()
        assert edges[0][":TYPE"] == "interacts"

    def test_prop_key_is_not_substring_matched(self, spark):
        rows = [
            ("N9", "node", "T", None, None, 'name=[x];surname=[y]'),
            (
                "N10", "node", "T", None, None,
                'desc=["tumor protein p53 [Source:HGNC Symbol;Acc:HGNC:11998]"]'
                ';name=["y"]',
            ),
            ("N11", "node", "T", None, None, "aXb=[1]"),
            ("N12", "node", "T", None, None, "a.b=[2]"),
            ("N13", "node", "T", None, None, 'alias=["x;name=[z]"];name=["y"]'),
        ]
        pg = spark.createDataFrame(
            rows,
            "id string, type string, labels_str string, from_id string, "
            "to_id string, props_str string",
        )
        got = {
            r[":ID"]: r for r in bulk_nodes(pg, ["name", "desc", "a.b"]).collect()
        }
        assert got["N9"]["name"] == "x"  # must not match 'surname'
        # a value keeps its own closing bracket
        assert got["N10"]["desc"] == (
            "tumor protein p53 [Source:HGNC Symbol;Acc:HGNC:11998]"
        )
        assert got["N10"]["name"] == "y"
        # 'a.b' is a literal key, not a regex matching 'aXb'
        assert got["N11"]["a.b"] is None
        assert got["N12"]["a.b"] == "2"
        # a key inside a quoted value is not an entry boundary
        assert got["N13"]["name"] == "y"
