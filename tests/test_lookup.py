"""Point-lookup read path (engine/manifest.py lookup_turn): bucket-pruned
single-file reads against the resumable sink's output, equal to a full
scan + filter, touching exactly one bucket file."""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def sink_out(spark, tmp_path_factory):
    from fixtures.gen_corpus import write_corpus
    from bella_domify_spark.engine.manifest import run_resumable

    root = tmp_path_factory.mktemp("lookup")
    corpus = str(root / "corpus")
    out = str(root / "out")
    write_corpus(corpus, n_convs=8)
    df = spark.read.parquet(f"{corpus}/transcripts.parquet")
    run_resumable(df, out, n_buckets=16, partitions=4)
    yield out, f"{corpus}/transcripts.parquet"
    shutil.rmtree(str(root), ignore_errors=True)


class TestLookupTurn:
    def test_equals_full_scan_and_reads_one_file(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, corpus_path = sink_out
        keys = [r.asDict() for r in spark.read.parquet(corpus_path)
                .select("conv_id", "turn_idx").orderBy("conv_id", "turn_idx")
                .limit(5).collect()]
        full = spark.read.parquet(f"{out}/bucket-*.parquet")
        for k in keys:
            got = lookup_turn(spark, out, k["conv_id"], k["turn_idx"])
            # bucket pruning: the frame reads exactly ONE bucket file
            assert len(got.inputFiles()) == 1
            rows = got.collect()
            want = (full.filter((F.col("conv_id") == k["conv_id"])
                                & (F.col("turn_idx") == k["turn_idx"]))
                        .collect())
            assert len(rows) == len(want) == 1
            assert rows[0]["extracted_text"] == want[0]["extracted_text"]

    def test_missing_key_is_empty(self, spark, sink_out):
        from bella_domify_spark.engine.manifest import lookup_turn

        out, _ = sink_out
        assert lookup_turn(spark, out, "no-such-conv", 0).count() == 0
        assert lookup_turn(spark, out, "conv0", 10 ** 9).count() == 0

    def test_no_committed_buckets_raises(self, spark, tmp_path):
        from bella_domify_spark.engine.manifest import lookup_turn

        with pytest.raises(FileNotFoundError):
            lookup_turn(spark, str(tmp_path), "conv0", 0)

    def test_object_store_layout_reads_under_the_uri(self, spark, sink_out,
                                                     monkeypatch):
        # pyarrow's from_uri returns a filesystem-relative path
        # (s3://bucket/out -> bucket/out); Spark must still read the layout
        # under the URI it was given, scheme included
        import pyarrow.fs as pafs
        from pyspark.sql import DataFrameReader

        from bella_domify_spark.engine.manifest import lookup_turn

        out, corpus_path = sink_out
        uri = "s3://bucket/out"

        class StubFileSystem:
            @staticmethod
            def from_uri(u):
                assert u == uri
                return pafs.LocalFileSystem(), out

        monkeypatch.setattr(pafs, "FileSystem", StubFileSystem)
        reads = []
        real_parquet = DataFrameReader.parquet

        def spy(reader, *paths, **kw):
            reads.extend(paths)
            return real_parquet(reader, *[p.replace(uri, out, 1)
                                          for p in paths], **kw)

        k = (spark.read.parquet(corpus_path).select("conv_id", "turn_idx")
             .orderBy("conv_id", "turn_idx").first())
        monkeypatch.setattr(DataFrameReader, "parquet", spy)
        rows = lookup_turn(spark, uri, k["conv_id"], k["turn_idx"]).collect()
        assert reads and all(p.startswith(uri + "/") for p in reads), reads
        assert [(r["conv_id"], r["turn_idx"]) for r in rows] == \
            [(k["conv_id"], k["turn_idx"])]
