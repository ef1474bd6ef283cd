"""Reference-native CSV+metadata.txt compat source tests (FIXTURES.md §A)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_sql_engine_spark.sources.csv_metadata import (
    RefCatalog,
    load_ref_table,
    register_ref_tables,
)

META = """<begin_table>
table1
A
B
C
<end_table>
<begin_table>
table2
B
D
<end_table>
"""


@pytest.fixture()
def ref_dir(tmp_path):
    (tmp_path / "metadata.txt").write_text(META)
    (tmp_path / "table1.csv").write_text('1,2,3\n4,"5",6\n')
    (tmp_path / "table2.csv").write_text('2,200\n5,500\n9,900\n')
    return str(tmp_path)


def test_parse_metadata(ref_dir):
    cat = RefCatalog.parse(f"{ref_dir}/metadata.txt")
    assert cat.tables == {"table1": ["A", "B", "C"], "table2": ["B", "D"]}
    assert [f.dataType.simpleString() for f in cat.schema("table1").fields] == [
        "bigint", "bigint", "bigint"
    ]
    with pytest.raises(KeyError):
        cat.schema("nope")


def test_malformed_metadata(tmp_path):
    (tmp_path / "metadata.txt").write_text("<begin_table>\nt1\nA\n")  # no end
    with pytest.raises(ValueError, match="missing"):
        RefCatalog.parse(str(tmp_path / "metadata.txt"))


def test_load_and_query_ref_tables(spark, ref_dir):
    t1 = load_ref_table(spark, ref_dir, "table1")
    rows = sorted(tuple(r) for r in t1.collect())
    assert rows == [(1, 2, 3), (4, 5, 6)]  # quoted "5" parsed as integer

    register_ref_tables(spark, ref_dir)
    # the reference's flagship query shape: join via WHERE equality
    out = spark.sql(
        "SELECT table1.A, table2.D FROM table1, table2 WHERE table1.B = table2.B"
    ).collect()
    assert sorted(tuple(r) for r in out) == [(1, 200), (4, 500)]
    # aggregate shape
    agg = spark.sql("SELECT MAX(B), MIN(B), SUM(B), AVG(B), COUNT(B) FROM table2")
    assert tuple(agg.collect()[0]) == (9, 2, 16, 16 / 3, 3)


def test_cli_front_door(spark, ref_dir, capsys):
    """End-to-end reference UX: SQL string in, table.col header +
    comma-separated rows out."""
    from mini_sql_engine_spark.__main__ import run

    assert run("SELECT A, C FROM table1 WHERE A > 2", ref_dir, spark) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "table1.A,table1.C"
    assert out[1:] == ["4,6"]

    # ambiguous bare column (B is in both tables) stays unqualified
    assert run("SELECT table2.B, D FROM table2 WHERE D >= 500", ref_dir, spark) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0] == "B,table2.D"
    assert sorted(out[1:]) == ["5,500", "9,900"]

    # reference-style error path: unknown table -> exit 1, error on stderr
    assert run("SELECT x FROM nope", ref_dir, spark) == 1
    assert "error:" in capsys.readouterr().err


def test_json_orc_connectors_roundtrip(spark, tmp_path):
    """DataSource V2 gives json/orc for free — prove the claim with an
    explicit-schema roundtrip of a catalog table through both formats
    (schema-on-write preserved by orc; json re-read with the explicit
    StructType, never inferSchema)."""
    from mini_sql_engine_spark.catalog import Catalog

    from tests.conftest import SF_SMOKE

    nation = Catalog(spark, SF_SMOKE).table("nation")
    expect = sorted(map(tuple, nation.collect()))

    orc_path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(orc_path)
    assert sorted(map(tuple, spark.read.orc(orc_path).collect())) == expect

    json_path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").json(json_path)
    back = spark.read.schema(nation.schema).json(json_path)
    assert sorted(map(tuple, back.collect())) == expect


def test_cli_runs_from_any_cwd(ref_dir, tmp_path):
    """Packaging contract: the launcher script works with cwd OUTSIDE
    the repo root (its own JVM; PYTHONPATH is derived from the script
    location, not inherited)."""
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    launcher = os.path.join(repo, "scripts", "mini-sql-engine-spark")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [launcher, "--data-dir", ref_dir, "SELECT A, C FROM table1 WHERE A > 2"],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout.strip().splitlines()
    assert out[0] == "table1.A,table1.C"
    assert out[1:] == ["4,6"]


def test_text_source_ingests_raw_corpus(spark, tmp_path):
    """Corpus ingestion from raw text files (one document per line):
    spark.read.text → (doc_id, text) with a deterministic id from the
    content hash — the classic first step of every corpus pipeline,
    and the id survives re-ingestion from any file layout."""
    lines = ["the quick brown fox", "jumps over the lazy dog",
             "pack my box with five dozen jugs"]
    (tmp_path / "a.txt").write_text("\n".join(lines[:2]) + "\n")
    (tmp_path / "b.txt").write_text(lines[2] + "\n")
    docs = (
        spark.read.text(str(tmp_path))
        .filter(F.col("value") != "")
        .select(
            F.xxhash64("value").alias("doc_id"),
            F.col("value").alias("text"),
        )
    )
    got = {r.text: r.doc_id for r in docs.collect()}
    assert set(got) == set(lines)
    # ids are content-derived: re-reading yields identical ids
    again = {r.text: r.doc_id
             for r in spark.read.text(str(tmp_path))
             .filter(F.col("value") != "")
             .select(F.xxhash64("value").alias("doc_id"),
                     F.col("value").alias("text")).collect()}
    assert got == again


def test_binary_file_source_feeds_multimodal_pipeline(spark, tmp_path):
    """Media ingestion: format('binaryFile') reads opaque files as
    (path, content: binary) rows, which slot straight into the
    multimodal feature extractor — the real files-on-disk front door
    for the (binary, metadata) column convention."""
    from mini_sql_engine_spark.pipeline.multimodal import extract_features

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    payloads = {f"m{i}.bin": bytes([i]) * (10 + i) for i in range(4)}
    for name, blob in payloads.items():
        (media_dir / name).write_bytes(blob)

    raw = (
        spark.read.format("binaryFile").load(str(media_dir))
        .select(
            F.xxhash64(F.col("path")).alias("media_id"),
            F.col("content").alias("payload"),
        )
    )
    assert raw.count() == 4
    feats = extract_features(raw, fake_decode=True)
    rows = feats.collect()
    assert len(rows) == 4
    assert all(r.n_bytes in {10 + i for i in range(4)} for r in rows)
