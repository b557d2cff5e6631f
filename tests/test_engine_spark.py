"""Spark integration tests: end-to-end equality, ordering, resume, skew salt."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from fixtures.gen_corpus import GEN_VERSION

CORPUS = f"/tmp/bds_test_corpus_v{GEN_VERSION}"


@pytest.fixture(scope="module")
def corpus(spark):
    from fixtures.gen_corpus import write_corpus

    if not os.path.exists(f"{CORPUS}/transcripts.parquet"):
        shutil.rmtree(CORPUS, ignore_errors=True)
        write_corpus(CORPUS, n_convs=30)
    return CORPUS


class TestEndToEnd:
    def test_per_turn_equality(self, spark, corpus, tmp_path):
        from bella_domify_spark.engine.manifest import run_resumable

        out = str(tmp_path / "out")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        summary = run_resumable(df, out, n_buckets=8, partitions=4)
        assert summary["rows"] == df.count()

        got = spark.read.parquet(f"{out}/bucket-*.parquet")
        exp = (spark.read.parquet(f"{corpus}/transcripts_expected.parquet")
               .select("conv_id", "turn_idx",
                       F.col("extracted_text").alias("exp_text")))
        j = got.join(exp, ["conv_id", "turn_idx"])
        assert j.count() == df.count()
        mism = j.filter(F.col("extracted_text") != F.col("exp_text")).count()
        assert mism == 0

        # the fused sink and the public extract_transcripts path write the
        # same columns, in the same order, with the same types and values
        from bella_domify_spark.engine.extract import extract_transcripts

        two_stage = extract_transcripts(df, partitions=4)
        assert ([(f.name, f.dataType) for f in got.schema]
                == [(f.name, f.dataType) for f in two_stage.schema])
        assert got.columns == ["conv_id", "turn_idx", "role", "tool", "ts",
                               "fmt", "extracted_text", "domtree_json",
                               "n_nodes", "status"]
        assert got.schema["n_nodes"].dataType.simpleString() == "int"
        cols = ("fmt", "domtree_json", "n_nodes", "status")
        pair = got.alias("a").join(two_stage.alias("b"),
                                   ["conv_id", "turn_idx"])
        assert pair.count() == df.count()
        differs = [~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")) for c in cols]
        cond = differs[0]
        for d in differs[1:]:
            cond = cond | d
        assert pair.filter(cond).count() == 0

    def test_resume_skips_completed(self, spark, corpus, tmp_path):
        from bella_domify_spark.engine.manifest import (
            completed_buckets,
            run_resumable,
        )

        out = str(tmp_path / "out2")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        s1 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="a")
        assert s1["buckets_written"] == 8

        # simulate partial failure: drop 2 buckets
        for b in sorted(completed_buckets(out))[:2]:
            os.remove(f"{out}/_manifests/bucket-{b:05d}.json")
            os.remove(f"{out}/bucket-{b:05d}.parquet")
        s2 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="b")
        assert s2["buckets_done_before"] == 6
        assert s2["buckets_written"] == 2

        s3 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="c")
        assert s3["buckets_written"] == 0

        # total output is still complete and duplicate-free
        got = spark.read.parquet(f"{out}/bucket-*.parquet")
        assert got.count() == df.count()
        assert got.select("conv_id", "turn_idx").distinct().count() == df.count()

    def test_resume_anti_join_path(self, spark, corpus, tmp_path,
                                   monkeypatch):
        # beyond RESUME_ISIN_LIMIT completed buckets the resume filter
        # switches from literal NOT IN to a broadcast anti-join; force the
        # switch low and verify identical resume semantics
        from bella_domify_spark.engine import manifest

        monkeypatch.setattr(manifest, "RESUME_ISIN_LIMIT", 2)
        out = str(tmp_path / "out_aj")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        run_resumable = manifest.run_resumable
        s1 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="a")
        assert s1["buckets_written"] == 8

        for b in sorted(manifest.completed_buckets(out))[:3]:
            os.remove(f"{out}/_manifests/bucket-{b:05d}.json")
            os.remove(f"{out}/bucket-{b:05d}.parquet")
        s2 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="b")
        assert s2["buckets_done_before"] == 5  # > limit → anti-join path
        assert s2["buckets_written"] == 3
        got = spark.read.parquet(f"{out}/bucket-*.parquet")
        assert got.count() == df.count()
        assert (got.select("conv_id", "turn_idx").distinct().count()
                == df.count())

    def test_resume_via_uri_scheme(self, spark, corpus, tmp_path):
        # storage-agnostic sink: file:// routes through pyarrow.fs exactly
        # like s3://, hdfs:// would on a real cluster (manifest written LAST
        # as the commit marker; rename-capable schemes commit via tmp+move)
        from bella_domify_spark.engine.manifest import (
            completed_buckets,
            read_manifests,
            run_resumable,
        )

        local = tmp_path / "out_uri"
        out = f"file://{local}"
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        s1 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="u1")
        assert s1["buckets_written"] == 8
        assert len(completed_buckets(out)) == 8
        assert completed_buckets(str(local)) == completed_buckets(out)

        b = sorted(completed_buckets(out))[0]
        os.remove(local / f"_manifests/bucket-{b:05d}.json")
        os.remove(local / f"bucket-{b:05d}.parquet")
        s2 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="u2")
        assert (s2["buckets_done_before"], s2["buckets_written"]) == (7, 1)
        assert run_resumable(df, out, n_buckets=8,
                             partitions=4)["buckets_written"] == 0

        got = spark.read.parquet(f"{local}/bucket-*.parquet")
        assert got.count() == df.count()
        assert all(m["run_id"] in ("u1", "u2") for m in read_manifests(out))

    def test_move_commit_accepts_existing_on_hdfs_semantics(self, tmp_path):
        # hdfs/viewfs rename does NOT replace an existing destination
        # (unlike POSIX os.replace): after a crash that committed a bucket
        # data file but not its manifest, the resume re-parse's re-commit
        # move fails on the orphan — the existing complete file counts as
        # committed (content is deterministic) and our temp is dropped.
        # The commit must NEVER delete final first: a speculative attempt
        # killed between delete and move would destroy a committed bucket.
        from bella_domify_spark.engine.manifest import BucketStore

        store = BucketStore(f"file://{tmp_path}")
        store.scheme = "hdfs"  # exercise the non-POSIX commit path
        final = str(tmp_path / "bucket-00000.parquet")
        tmp = str(tmp_path / "bucket-00000.parquet.attempt.tmp")

        # no destination yet: plain move commits
        with open(tmp, "w") as f:
            f.write("first commit")
        store._move_commit(tmp, final)
        assert open(final).read() == "first commit"
        assert not os.path.exists(tmp)

        # destination exists and the hdfs-style move fails: the existing
        # file is accepted as the commit, never deleted, temp removed
        tmp2 = str(tmp_path / "bucket-00000.parquet.attempt2.tmp")
        with open(tmp2, "w") as f:
            f.write("orphan re-parse")

        deletes = []

        class HdfsLikeFs:
            def __init__(self, inner):
                self._inner = inner

            def delete_file(self, p):
                deletes.append(p)
                self._inner.delete_file(p)

            def move(self, src, dst):
                if os.path.exists(dst):
                    raise OSError("rename failed: destination exists")
                self._inner.move(src, dst)

            def __getattr__(self, name):
                return getattr(self._inner, name)

        store.fs = HdfsLikeFs(store.fs)
        store._move_commit(tmp2, final)
        assert open(final).read() == "first commit"   # winner preserved
        assert not os.path.exists(tmp2)
        assert deletes == [tmp2]                      # final never deleted

    def test_ordered_output(self, spark, corpus):
        from bella_domify_spark.engine.extract import extract_transcripts

        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        rows = (extract_transcripts(df, partitions=4, ordered=True)
                .select("conv_id", "turn_idx").toLocalIterator())
        prev = None
        for r in rows:
            cur = (r["conv_id"], r["turn_idx"])
            if prev is not None:
                assert cur >= prev, f"order violated: {prev} -> {cur}"
            prev = cur

    def test_conv_assembly_partition_independent(self, spark):
        # the assembled conversation document must be byte-identical under
        # any partitioning (stable (conv_id, turn_idx) ordering contract)
        import __spark_entry__ as entry

        base = entry.queries()["conv_assembly"](
            spark, "/root/testdata/sf0.001")
        rows = {r["conv_id"]: r["conv_text"] for r in base.collect()}
        assert rows and all(t.endswith("\n\n") for t in rows.values())

        from pyspark.sql import functions as F

        t = entry._events_as_transcripts(spark, "/root/testdata/sf0.001")
        from bella_domify_spark.engine.extract import parse_udf
        parsed = (t.repartition(7)  # adversarial partitioning
                  .select("conv_id", "turn_idx",
                          parse_udf(F.col("text"))
                          .getField("extracted_text").alias("x")))
        again = (parsed.groupBy("conv_id")
                 .agg(F.concat_ws("", F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("turn_idx", "x"))),
                     lambda s: s["x"])).alias("conv_text")))
        assert {r["conv_id"]: r["conv_text"]
                for r in again.collect()} == rows

    def test_job_reads_catalog_table_or_path(self, spark, corpus):
        # the spark-submit entrypoint reads a parquet path by default and a
        # catalog table (how an Iceberg table is consumed) with --table;
        # routing is explicit so a dotted path never becomes a catalog probe
        from job import read_input

        path_df = read_input(spark, f"{corpus}/transcripts.parquet")
        src = spark.read.parquet(f"{corpus}/transcripts.parquet")
        src.limit(20).createOrReplaceGlobalTempView("transcripts_job_test")
        table_df = read_input(spark, "global_temp.transcripts_job_test",
                              table=True)
        assert table_df.count() == 20
        assert table_df.schema == path_df.schema
        # without the flag a dotted identifier is treated as a path
        import pytest
        from pyspark.errors import AnalysisException
        with pytest.raises(AnalysisException):
            read_input(spark, "global_temp.transcripts_job_test").count()

    def test_multi_mb_payload_bounded_batches(self, spark, tmp_path):
        # SURVEY §4 oversized-payload guard: a 10 MB single turn must flow
        # through the fused parse+sink stage without failing, inside its own
        # small Arrow batch (maxRecordsPerBatch bounds rows-per-batch, so a
        # fat row caps worker memory at ~batch_rows × payload instead of
        # partition × payload). The knob is documented in docs/PLANS.md and
        # session.py; the shared test session uses 1024 — here we force an
        # 8-row ceiling via a one-off pandas round and verify equality.
        from bella_domify_spark.engine.manifest import run_resumable
        from bella_domify_spark.parsers.dispatch import parse_payload

        para = ("lorem ipsum dolor sit amet " * 40).strip() + "\n\n"
        big = para * (10 * 1024 * 1024 // len(para) + 1)  # ~10 MB txt
        assert len(big) > 10 * 1024 * 1024
        rows = [("cBIG", 0, big)] + [
            (f"c{i}", t, f"turn {i}.{t} body") for i in range(8)
            for t in range(4)]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int, "
                                         "text string")
        out = str(tmp_path / "out")
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8")
        try:
            summary = run_resumable(df, out, n_buckets=8, partitions=4)
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        assert summary["rows"] == len(rows)
        got = {(r["conv_id"], r["turn_idx"]): r
               for r in spark.read.parquet(f"{out}/bucket-*.parquet").collect()}
        assert len(got) == len(rows)
        big_row = got[("cBIG", 0)]
        assert big_row["status"] == "ok"
        assert big_row["extracted_text"] == parse_payload(big)["extracted_text"]

    def test_error_isolation(self, spark):
        import pandas as pd

        from bella_domify_spark.engine.extract import extract_transcripts

        bad = pd.DataFrame({
            "conv_id": ["c"] * 3, "turn_idx": [0, 1, 2],
            "role": ["user"] * 3,
            "text": ['{"pages": 42}', None, "fine text"],
            "tool": [""] * 3,
            "ts": pd.to_datetime(["2026-01-01"] * 3).astype("datetime64[us]"),
        })
        res = extract_transcripts(spark.createDataFrame(bad)).collect()
        by_idx = {r["turn_idx"]: r for r in res}
        assert by_idx[0]["status"].startswith("error:")
        assert by_idx[1]["status"] == "skipped_empty"
        assert by_idx[2]["status"] == "ok"
        assert by_idx[2]["extracted_text"] == "fine text\n\n"

    def test_salt_spreads_long_conversation(self, spark):
        from bella_domify_spark.engine.manifest import with_bucket

        rows = [("conv_long", i) for i in range(2000)]
        df = spark.createDataFrame(rows, ["conv_id", "turn_idx"])
        dist = (with_bucket(df, 16).groupBy("pid").count().collect())
        counts = {r["pid"]: r["count"] for r in dist}
        assert len(counts) == 16            # all buckets used
        assert max(counts.values()) < 2000 * 0.2   # no hot bucket

    def test_zipf_corpus_buckets_are_even(self, spark, corpus, tmp_path):
        """north_rule skew evidence: despite Zipf conversation lengths (the
        largest conversation holds ~25% of all turns), per-bucket manifests
        show near-even work distribution after salting."""
        from bella_domify_spark.engine.manifest import read_manifests, run_resumable

        out = str(tmp_path / "skew")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        run_resumable(df, out, n_buckets=16, partitions=4)
        rows = [m["rows"] for m in read_manifests(out)]
        assert len(rows) == 16
        mean = sum(rows) / len(rows)
        assert max(rows) < 1.5 * mean
        assert min(rows) > 0.5 * mean


class TestEntryContract:
    def test_entry_smoke(self, spark):
        import __spark_entry__ as em

        df = em.entry(spark)
        n = df.count()
        assert n > 0
        assert {"conv_id", "turn_idx", "extracted_text", "status"} <= \
            set(df.columns)
        ok = df.filter(F.col("status") == "ok").count()
        assert ok > 0.9 * n

    def test_queries_have_oracles_or_known_exceptions(self):
        import __spark_entry__ as em

        qs, os_ = set(em.queries()), set(em.oracle_sql())
        assert os_ <= qs
        # every query has a full DuckDB oracle (md5 hash family for
        # minhash/simhash, embedded hyperplane coefficients for ann_lsh)
        assert qs == os_


class TestManifestCommit:
    def test_clean_tmp_removes_orphans(self, spark, corpus, tmp_path):
        # crashed attempts leave uniquely-named *.tmp litter; the next run
        # start removes it (data/manifest files untouched)
        from bella_domify_spark.engine.manifest import (
            BucketStore,
            run_resumable,
        )

        out = str(tmp_path / "out_orphan")
        store = BucketStore(out)
        store.makedirs()
        (tmp_path / "out_orphan" / "bucket-00001.parquet.123-ab.tmp"
         ).write_bytes(b"junk")
        (tmp_path / "out_orphan" / "_manifests" /
         "bucket-00001.json.456-cd.tmp").write_text("junk")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet").limit(50)
        run_resumable(df, out, n_buckets=4, partitions=2)
        left = [p.name for p in (tmp_path / "out_orphan").rglob("*.tmp")]
        assert left == []
        assert spark.read.parquet(f"{out}/bucket-*.parquet").count() == 50

    def test_completed_buckets_parses_wide_ids(self, tmp_path):
        # %05d widens beyond 99,999 (the runbook recommends B=2^20); the
        # resume set must parse the full id, not a 5-digit slice
        from bella_domify_spark.engine.manifest import (
            BucketStore,
            completed_buckets,
        )

        store = BucketStore(str(tmp_path / "out"))
        store.makedirs()
        for b in (3, 99999, 123456, 1048575):
            store.write_json(f"_manifests/bucket-{b:05d}.json", {"rows": 1})
        assert completed_buckets(str(tmp_path / "out")) == \
            {3, 99999, 123456, 1048575}

    def test_concurrent_attempts_cannot_corrupt_a_bucket(self, tmp_path):
        # speculative execution: two live attempts write the SAME bucket.
        # With attempt-unique temp names each renames its own complete
        # file; the final file must be one attempt's full content, never
        # an interleaving.
        import pyarrow as pa
        import pyarrow.parquet as pq

        from bella_domify_spark.engine.manifest import BucketStore

        store = BucketStore(str(tmp_path / "out"))
        store.makedirs()
        schema = pa.schema([("v", pa.int64())])
        wa, ca = store.parquet_writer("bucket-00000.parquet", schema)
        wb, cb = store.parquet_writer("bucket-00000.parquet", schema)
        wa.write_table(pa.table({"v": [1, 2, 3]}))
        wb.write_table(pa.table({"v": [10, 20, 30]}))
        wa.close()
        ca()
        wb.close()
        cb()  # last complete attempt wins whole
        got = pq.read_table(str(tmp_path / "out" / "bucket-00000.parquet"))
        assert got.column("v").to_pylist() == [10, 20, 30]  # last commit wins whole
        # no temp litter is ever listed as data or manifest
        leftovers = [p for p in (tmp_path / "out").iterdir()
                     if p.name.endswith(".tmp")]
        assert leftovers == []

    def test_truncated_manifest_tmp_is_not_committed(self, tmp_path):
        # URI-mode manifests commit via tmp+move on rename-capable schemes,
        # so a crash mid-write leaves only a *.json.tmp — which must neither
        # count as completed nor break read_manifests with a JSONDecodeError
        from bella_domify_spark.engine.manifest import (
            BucketStore,
            completed_buckets,
            read_manifests,
        )

        local = tmp_path / "out_trunc"
        out = f"file://{local}"
        store = BucketStore(out)
        assert store.scheme in store.RENAME_SCHEMES
        store.makedirs()
        store.write_json("_manifests/bucket-00001.json", {"run_id": "x"})

        # simulate the crash window: a half-written manifest under the tmp name
        (local / "_manifests" / "bucket-00002.json.tmp").write_text('{"run_id')

        assert completed_buckets(out) == {1}
        assert [m["run_id"] for m in read_manifests(out)] == ["x"]
        # and no tmp residue from the committed write
        assert not (local / "_manifests" / "bucket-00001.json.tmp").exists()


class TestCrashConsistency:
    def test_orphan_data_file_is_rewritten_on_resume(self, spark, corpus,
                                                     tmp_path):
        # crash window: bucket parquet committed but manifest (the commit
        # marker) missing — resume must treat the bucket as incomplete and
        # rewrite the data file without duplicating rows
        from bella_domify_spark.engine.manifest import (
            completed_buckets,
            run_resumable,
        )

        out = str(tmp_path / "out_crash")
        df = spark.read.parquet(f"{corpus}/transcripts.parquet")
        run_resumable(df, out, n_buckets=8, partitions=4, run_id="a")

        b = sorted(completed_buckets(out))[0]
        os.remove(f"{out}/_manifests/bucket-{b:05d}.json")  # orphan the data
        assert os.path.exists(f"{out}/bucket-{b:05d}.parquet")

        s2 = run_resumable(df, out, n_buckets=8, partitions=4, run_id="b")
        assert (s2["buckets_done_before"], s2["buckets_written"]) == (7, 1)

        got = spark.read.parquet(f"{out}/bucket-*.parquet")
        assert got.count() == df.count()
        assert got.select("conv_id", "turn_idx").distinct().count() == df.count()
