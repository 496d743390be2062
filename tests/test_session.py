"""What ``session.get_spark`` fixes for every entry point: the parquet
codec every triple table is written with, and no per-call origin
capture on the py4j wire."""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from linkedspending_spark.jobs import run_canonicalize_job, run_transcripts_job
from linkedspending_spark.sparql import select_text
from linkedspending_spark.transcripts import synth_transcripts_df
from .test_canonicalize_job import _parquet_files


def _codecs(path: str) -> Counter:
    """Column-chunk codecs over every parquet file under ``path``, read
    from the footers."""
    out: Counter = Counter()
    for f in _parquet_files(path):
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            for c in range(rg.num_columns):
                out[rg.column(c).compression] += 1
    return out


def test_triple_tables_are_zstd_and_read_alike(spark, tmp_path):
    """The landed table, the canonical table and the manifest carry ZSTD
    column chunks only; the canonical table reads back as the same
    ``(s, p, o)`` multiset through Spark, pyarrow.dataset and DuckDB."""
    import duckdb
    import pyarrow.dataset as pads

    t = synth_transcripts_df(spark, n_convs=6, base_turns=3, seed=5)
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    canon_out = str(tmp_path / "out_canonical")
    run_transcripts_job(spark, t, out, man, n_buckets=4)
    r = run_canonicalize_job(spark, out, canon_out, man)
    assert r.state == "FINISHED" and r.converted_triples > 0

    for path in (out, canon_out, man):
        codecs = _codecs(path)
        assert set(codecs) == {"ZSTD"}, (path, codecs)

    want = Counter(
        tuple(x) for x in spark.read.parquet(canon_out).select("s", "p", "o").collect()
    )
    assert sum(want.values()) == r.converted_triples
    arrow = pads.dataset(canon_out, format="parquet", partitioning="hive").to_table(
        columns=["s", "p", "o"]
    )
    assert Counter(zip(*(arrow.column(c).to_pylist() for c in "spo"))) == want
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT s, p, o FROM read_parquet('{canon_out}/**/*.parquet')"
        ).fetchall()
    finally:
        con.close()
    assert Counter(rows) == want


def test_a_sparql_request_sends_no_origin_capture(spark, monkeypatch):
    """Compiling and collecting a SPARQL request sends no
    ``PySparkCurrentOrigin`` command over py4j: PySpark's DataFrame
    debugging (a call-site capture around every Column / functions call)
    is off."""
    from py4j.clientserver import ClientServerConnection

    t = spark.createDataFrame(
        [("a", "p", "10"), ("a", "p", "x"), ("b", "p", "3")],
        "s string, p string, o string",
    ).withColumn("dataset", F.lit("d"))
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def spy(self, command, *args, **kwargs):
        sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", spy)
    rows = select_text(
        t,
        "SELECT ?s (COUNT(?o) AS ?n) { ?s ?p ?o FILTER(?o != \"x\") } "
        "GROUP BY ?s ORDER BY ?s",
    ).collect()
    assert [tuple(r) for r in rows] == [("a", 1), ("b", 1)]
    assert sent
    assert [c for c in sent if "PySparkCurrentOrigin" in c] == []
