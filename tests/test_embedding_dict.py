"""Entity-dictionary file reader (S5)."""

from __future__ import annotations

from reference_files import write_entity_dictionary

from xlink_spark.sources import dictionary as DI


def test_entity_dictionary_roundtrip(spark, tmp_path):
    lines = [
        "矩阵\t\t（数学）\t\thttp://kb/a::;http://kb/b?fromtitle=x\t\te1",
        "Graph\t\t\t\thttp://kb/g\t\te2",
        "bad line without enough columns",
    ]
    p = tmp_path / "dict.txt"
    p.write_text("\n".join(lines))
    kb, uris = DI.read_entity_dictionary(spark, str(p))
    rows = {r["entity_id"]: r for r in kb.collect()}
    assert set(rows) == {"e1", "e2"}
    assert rows["e1"]["full_title"] == "矩阵（数学）"
    assert rows["e1"]["surface_norm"] == "矩阵"
    assert rows["e2"]["surface_norm"] == "graph"
    u = {r["uri"] for r in uris.collect()}
    assert "http://kb/a" in u and "http://kb/b" in u  # ?fromtitle stripped
    # roundtrip through the writer
    out = tmp_path / "dict_out"
    write_entity_dictionary(kb, str(out))
    kb2, _ = DI.read_entity_dictionary(spark, str(out))
    assert {r["entity_id"] for r in kb2.collect()} == {"e1", "e2"}
