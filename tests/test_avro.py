"""Avro OCF source/sink (sources/avro.py) — pure-stdlib implementation of
the public Avro spec, closing the env-gated format gap the PNG codec
pattern established (no spark-avro jar in this container).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clinical_api_etl_spark.sources.avro import (
    avro_roundtrip,
    read_avro,
    read_header,
    write_avro,
)
from clinical_api_etl_spark.sources.catalog import load

SF = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(map(tuple, df.collect()))


class TestRoundTrip:
    def test_nation_exact(self, spark, tmp_path):
        nation = load(spark, SF, "nation")
        back = avro_roundtrip(spark, nation, str(tmp_path / "nation"))
        assert back.schema == nation.schema
        assert _sorted_rows(back) == _sorted_rows(nation)

    def test_events_timestamps_exact(self, spark, tmp_path):
        # timestamp-micros logical type + nullable doubles + JSON strings.
        ev = load(spark, SF, "events")
        back = avro_roundtrip(spark, ev, str(tmp_path / "events"))
        assert _sorted_rows(back) == _sorted_rows(ev)

    def test_embeddings_float_arrays_exact(self, spark, tmp_path):
        emb = load(spark, SF, "embeddings")
        back = avro_roundtrip(spark, emb, str(tmp_path / "emb"))
        assert _sorted_rows(back) == _sorted_rows(emb)

    def test_null_codec(self, spark, tmp_path):
        nation = load(spark, SF, "nation")
        back = avro_roundtrip(
            spark, nation, str(tmp_path / "n0"), codec="null"
        )
        assert _sorted_rows(back) == _sorted_rows(nation)

    def test_deflate_actually_compresses(self, spark, tmp_path):
        docs = load(spark, SF, "documents").coalesce(1)
        write_avro(docs, str(tmp_path / "dz"), codec="deflate")
        write_avro(docs, str(tmp_path / "d0"), codec="null")
        size = lambda d: sum(
            os.path.getsize(os.path.join(d, n))
            for n in os.listdir(d)
            if n.endswith(".avro")
        )
        assert size(str(tmp_path / "dz")) < 0.8 * size(str(tmp_path / "d0"))


class TestSplitParallelism:
    """OCF sync markers let readers start mid-file: slicing one file into
    byte ranges must yield every row exactly once, any slice size."""

    @pytest.mark.parametrize("max_bytes", [1 << 10, 4 << 10, 1 << 20])
    def test_every_row_exactly_once(self, spark, tmp_path, max_bytes):
        ev = load(spark, SF, "events").coalesce(1)  # ONE multi-block file
        path = str(tmp_path / "ev_one")
        write_avro(ev, path)
        got = (
            spark.read.format("avro_ocf")
            .option("path", path)
            .option("maxBytesPerPartition", max_bytes)
            .load()
        )
        assert _sorted_rows(got) == _sorted_rows(ev)

    def test_small_splits_make_many_partitions(self, spark, tmp_path):
        ev = load(spark, SF, "events").coalesce(1)
        path = str(tmp_path / "ev_parts")
        write_avro(ev, path)
        got = (
            spark.read.format("avro_ocf")
            .option("path", path)
            .option("maxBytesPerPartition", 4 << 10)
            .load()
        )
        assert got.rdd.getNumPartitions() > 4


class TestWriterCommit:
    def test_overwrite_replaces(self, spark, tmp_path):
        nation = load(spark, SF, "nation")
        p = str(tmp_path / "ow")
        write_avro(nation, p)
        write_avro(nation.limit(5), p)
        assert read_avro(spark, p).count() == 5

    def test_no_tmp_left_behind(self, spark, tmp_path):
        p = str(tmp_path / "clean")
        write_avro(load(spark, SF, "region"), p)
        assert not [n for n in os.listdir(p) if n.startswith("_tmp-")]

    def test_header_well_formed(self, spark, tmp_path):
        p = str(tmp_path / "hdr")
        write_avro(load(spark, SF, "region"), p)
        f0 = next(
            os.path.join(p, n) for n in sorted(os.listdir(p))
            if n.endswith(".avro")
        )
        with open(f0, "rb") as f:
            schema, codec, sync, hlen = read_header(f)
        assert schema["type"] == "record"
        assert codec == "deflate"
        assert len(sync) == 16
        names = [fd["name"] for fd in schema["fields"]]
        assert names == load(spark, SF, "region").columns


class TestErrors:
    def test_bad_magic_rejected(self, spark, tmp_path):
        bad = tmp_path / "bad" / "part-x.avro"
        bad.parent.mkdir()
        bad.write_bytes(b"PAR1 not avro")
        with pytest.raises(Exception, match="magic"):
            read_avro(spark, str(bad.parent)).collect()

    def test_unsupported_codec_rejected(self, spark, tmp_path):
        nation = load(spark, SF, "nation")
        with pytest.raises(Exception, match="codec"):
            write_avro(nation, str(tmp_path / "sz"), codec="snappy")


class TestFederated:
    def test_union_parquet_orc_jsonl_avro(self, spark, tmp_path):
        """Round-6 federated-source test: FOUR physical formats
        (parquet/ORC/JSONL/Avro OCF) serving one logical table, unioned
        and compared row-exact."""
        from clinical_api_etl_spark.sources.formats import write_orc

        nation = load(spark, SF, "nation")
        q1 = nation.filter(F.col("n_nationkey") % 6 == 0)
        q2 = nation.filter(F.col("n_nationkey") % 6 == 1)
        q3 = nation.filter(F.col("n_nationkey") % 6 == 2)
        q4 = nation.filter(F.col("n_nationkey") % 6 >= 3)

        pq = str(tmp_path / "pq"); q1.write.parquet(pq)
        orc = str(tmp_path / "orc"); write_orc(q2, orc)
        jl = str(tmp_path / "jl"); q3.write.json(jl)
        av = str(tmp_path / "av"); write_avro(q4, av)

        fed = (
            spark.read.parquet(pq)
            .unionByName(spark.read.orc(orc))
            .unionByName(
                spark.read.schema(nation.schema).json(jl).select(nation.columns)
            )
            .unionByName(read_avro(spark, av))
        )
        assert _sorted_rows(fed) == _sorted_rows(nation)


class TestStreaming:
    """simpleStreamReader: the OCF drop-folder tail — incremental files,
    exactly-once replay through the committed offset log."""

    def _run_stream(self, spark, src, out_dir, ckpt):
        from clinical_api_etl_spark.sources.avro import register

        register(spark)
        q = (
            spark.readStream.format("avro_ocf")
            .option("path", src)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def test_incremental_files_exactly_once(self, spark, tmp_path):
        import shutil

        nation = load(spark, SF, "nation")
        first = str(tmp_path / "w1")
        write_avro(nation.filter(F.col("n_nationkey") < 10), first)
        src = str(tmp_path / "drop")
        os.makedirs(src)
        for n in os.listdir(first):
            if n.endswith(".avro"):
                shutil.copy(os.path.join(first, n), os.path.join(src, f"a-{n}"))

        out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
        self._run_stream(spark, src, out, ckpt)
        got1 = spark.read.parquet(out)
        assert got1.count() == 10

        # second drop: only the new file's rows are appended
        second = str(tmp_path / "w2")
        write_avro(nation.filter(F.col("n_nationkey") >= 10), second)
        for n in os.listdir(second):
            if n.endswith(".avro"):
                shutil.copy(os.path.join(second, n), os.path.join(src, f"b-{n}"))
        self._run_stream(spark, src, out, ckpt)
        got2 = spark.read.parquet(out)
        assert got2.count() == nation.count()
        assert _sorted_rows(got2.select(*nation.columns)) == _sorted_rows(nation)

        # third trigger with nothing new: no duplicates
        self._run_stream(spark, src, out, ckpt)
        assert spark.read.parquet(out).count() == nation.count()


class TestCodecProperties:
    """Hypothesis gate on the codec CORE (write_ocf -> read_split, no
    Spark): arbitrary rows must round-trip byte-exactly through the
    binary encoding, block framing, and deflate codec."""

    def test_random_rows_roundtrip(self, tmp_path):
        from hypothesis import given, settings, strategies as st

        from clinical_api_etl_spark.sources.avro import (
            _writer_for,
            read_split,
            write_ocf,
        )

        schema = {
            "type": "record",
            "name": "row",
            "fields": [
                {"name": "i", "type": "long"},
                {"name": "s", "type": ["null", "string"]},
                {"name": "d", "type": "double"},
                {"name": "f", "type": "float"},
                {"name": "bb", "type": "bytes"},
                {"name": "ok", "type": "boolean"},
                {"name": "arr", "type": {"type": "array", "items": "long"}},
            ],
        }
        import struct as _struct

        f32 = st.floats(allow_nan=False, width=32)
        row = st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.one_of(st.none(), st.text(max_size=40)),
            st.floats(allow_nan=False),
            f32,
            st.binary(max_size=40),
            st.booleans(),
            st.lists(st.integers(min_value=-(2**62), max_value=2**62), max_size=8),
        )
        writers = [_writer_for(fd["type"]) for fd in schema["fields"]]
        counter = [0]

        @settings(max_examples=40, deadline=None)
        @given(rows=st.lists(row, max_size=30), codec=st.sampled_from(["null", "deflate"]))
        def run(rows, codec):
            counter[0] += 1
            p = str(tmp_path / f"prop-{counter[0]}.avro")
            n = write_ocf(p, schema, rows, writers, codec=codec, rows_per_block=7)
            assert n == len(rows)
            back = list(read_split(p, 0, os.path.getsize(p)))
            assert len(back) == len(rows)
            for orig, got in zip(rows, back):
                assert got[0] == orig[0]
                assert got[1] == orig[1]
                assert _struct.pack("<d", got[2]) == _struct.pack("<d", orig[2])
                assert _struct.pack("<f", got[3]) == _struct.pack("<f", orig[3])
                assert bytes(got[4]) == orig[4]
                assert got[5] == orig[5]
                assert list(got[6]) == orig[6]

        run()


class TestAdviceR06Fixes:
    """Regression pins for the round-6 advisory items (sources/avro.py):
    oversized header metadata, rename-first overwrite commit, and
    empty-directory reads."""

    def test_huge_header_metadata_reads(self, spark, tmp_path):
        # External Avro tooling may write arbitrarily large metadata; the
        # header parser must grow its prefix read past the initial 64 KiB
        # instead of dying with a misleading EOFError/IndexError.
        import json as _json

        from clinical_api_etl_spark.sources.avro import _write_long

        nation = load(spark, SF, "nation").coalesce(1)
        p = str(tmp_path / "src")
        write_avro(nation, p)
        src = next(
            os.path.join(p, n) for n in sorted(os.listdir(p))
            if n.endswith(".avro")
        )
        with open(src, "rb") as f:
            schema, codec, sync, hlen = read_header(f)
            f.seek(0)
            raw = f.read()
        blocks = raw[hlen:]  # blocks reference the SAME sync marker
        hdr = bytearray(b"Obj\x01")
        meta = {
            "avro.schema": _json.dumps(schema).encode("utf-8"),
            "avro.codec": codec.encode("utf-8"),
            # 128 KiB of padding — twice the initial prefix read
            "user.padding": b"x" * (1 << 17),
        }
        _write_long(hdr, len(meta))
        for k, v in meta.items():
            kb = k.encode("utf-8")
            _write_long(hdr, len(kb))
            hdr += kb
            _write_long(hdr, len(v))
            hdr += v
        _write_long(hdr, 0)
        hdr += sync
        big_dir = tmp_path / "bighdr"
        big_dir.mkdir()
        (big_dir / "part-big.avro").write_bytes(bytes(hdr) + blocks)
        back = read_avro(spark, str(big_dir))
        assert _sorted_rows(back) == _sorted_rows(nation)

    def test_truncated_header_still_rejected(self, tmp_path):
        # The grow-and-retry loop must not mask REAL truncation: a file
        # that ends mid-header raises, it does not loop forever.
        bad = tmp_path / "trunc" / "part-t.avro"
        bad.parent.mkdir()
        bad.write_bytes(b"Obj\x01" + b"\x04")  # map count with no entries
        with open(bad, "rb") as f:
            with pytest.raises((EOFError, IndexError)):
                read_header(f)

    def test_overwrite_keeps_new_parts_only(self, spark, tmp_path):
        # Rename-first commit: after an overwrite, exactly the new parts
        # remain (old parts deleted AFTER winners land, uuid names never
        # collide).
        nation = load(spark, SF, "nation")
        p = str(tmp_path / "ow2")
        write_avro(nation.coalesce(2), p)
        before = {n for n in os.listdir(p) if n.endswith(".avro")}
        write_avro(nation.limit(3).coalesce(1), p)
        after = {n for n in os.listdir(p) if n.endswith(".avro")}
        assert not (before & after)
        assert read_avro(spark, p).count() == 3

    def test_empty_directory_reads_as_empty_with_schema(self, spark, tmp_path):
        # A directory containing no part files (e.g. after an overwrite by
        # a zero-partition DataFrame) is an empty table when the caller
        # supplies a schema — not a hard error.
        d = tmp_path / "emptydir"
        d.mkdir()
        (d / "_SUCCESS").write_text("")
        got = (
            spark.read.format("avro_ocf")
            .schema("r_regionkey BIGINT, r_name STRING")
            .option("path", str(d))
            .load()
        )
        assert got.count() == 0
        assert got.columns == ["r_regionkey", "r_name"]
