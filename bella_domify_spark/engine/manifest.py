"""Checkpointed, resumable extraction runs with per-bucket lineage manifests.

north_rule requirement: "resumable from checkpoint with per-partition
lineage + metrics". The reference's analogue is its md5-keyed S3 result
cache (/root/reference/services/parse_manager.py:99-112) — skip work whose
output already exists.

Design (plain PySpark, no custom Catalyst):

- **Work unit = bucket**, not Spark task: ``pid = pmod(xxhash64(conv_id,
  turn_idx), n_buckets)`` is computed as a Catalyst expression at scan time,
  so it is deterministic across runs and cluster sizes.
- **Resume filters BEFORE the parse**: rows of already-manifested buckets
  are dropped by a pushdown-friendly ``filter`` ahead of the shuffle and the
  Arrow parse stage — resumed runs do not re-parse completed work (unlike a
  sink-side skip, which would still feed the Python workers).
- ``repartition(P, "pid") + sortWithinPartitions("pid")`` routes each bucket
  wholly into one task and clusters its rows, so the Arrow sink can stream
  batches into one ``pyarrow.parquet.ParquetWriter`` per bucket and commit
  each bucket atomically with a manifest JSON carrying lineage + metrics
  (run id, rows, bytes, wall ms).
- **Storage-agnostic, one path**: ``out_dir`` may be a plain local path
  or any URI pyarrow.fs can open (``file://``, ``s3://``, ``hdfs://``) —
  required for a real multi-executor cluster where executors do not share
  the driver's disk. A plain path is opened as ``LocalFileSystem``, so
  every layout is written and listed by the same ``pyarrow.fs`` calls.
  Commit protocol per bucket: data file first, manifest LAST — the
  manifest's existence IS the commit marker. The scheme picks the commit:
  on rename-capable filesystems (plain paths, ``file://``, ``hdfs://``)
  both files are written under an attempt-unique temp name and moved into
  place, so a mid-write crash can never leave a truncated file under its
  committed name; on object stores a single-object PUT is already atomic,
  and rename doesn't exist.
- At 100 TB: buckets are the idempotent commit granule (the same role as
  Iceberg file groups); n_buckets scales with data volume, parallelism P
  scales with the cluster — they are independent knobs.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

# resume-filter strategy switch: up to this many completed buckets the
# filter is a literal NOT IN (pushed into the scan); beyond it, a
# broadcast anti-join keeps the plan O(1) (see run_resumable)
RESUME_ISIN_LIMIT = 1000

_SUMMARY_TYPE = T.StructType([
    T.StructField("bucket", T.IntegerType()),
    T.StructField("rows", T.LongType()),
    T.StructField("bytes", T.LongType()),
    T.StructField("wall_ms", T.DoubleType()),
])


class BucketStore:
    """Minimal filesystem facade for the sink + resume bookkeeping.

    Every ``out_dir`` goes through one ``pyarrow.fs`` filesystem: a plain
    path is ``LocalFileSystem`` (scheme ``file``), a URI is whatever
    ``pyarrow.fs.FileSystem.from_uri`` opens (file://, hdfs://, s3://), so
    local runs execute the same calls as a cluster writing to an object
    store. Only the commit policy depends on the scheme. Constructed from
    a string, so shipping it into a task only captures ``out_dir``.
    """

    #: URI schemes whose filesystems support an (effectively) atomic rename;
    #: files there are committed by attempt-unique temp + move. Object
    #: stores (s3, gcs, ...) are excluded — a single-object PUT is already
    #: atomic and "rename" would be a non-atomic copy+delete.
    RENAME_SCHEMES = ("file", "local", "hdfs", "viewfs")

    #: subset of RENAME_SCHEMES with POSIX replace-on-rename semantics.
    #: HDFS-style renames FAIL when the destination exists, so commits
    #: there must delete-then-move (see _move_commit).
    POSIX_RENAME_SCHEMES = ("file", "local")

    def __init__(self, out_dir: str):
        import pyarrow.fs as pafs

        self.out_dir = out_dir
        if "://" in out_dir:
            self.scheme = out_dir.split("://", 1)[0].lower()
            self.fs, self.base = pafs.FileSystem.from_uri(out_dir)
        else:
            self.scheme = "file"
            self.fs, self.base = pafs.LocalFileSystem(), os.path.abspath(out_dir)

    # -- paths -----------------------------------------------------------
    def path(self, *parts: str) -> str:
        return "/".join([self.base.rstrip("/"), *parts])

    # -- setup / listing ---------------------------------------------------
    def makedirs(self) -> None:
        self.fs.create_dir(self.path("_manifests"), recursive=True)

    def _list(self, *parts: str) -> list:
        """FileInfos directly under ``parts`` (empty if it is missing)."""
        import pyarrow.fs as pafs

        return self.fs.get_file_info(
            pafs.FileSelector(self.path(*parts), allow_not_found=True))

    def clean_tmp(self) -> int:
        """Remove orphaned attempt-temp files (crashed/killed attempts
        leave uniquely-named ``*.tmp`` litter nothing else deletes).
        Called at job start, when no attempt can be live — never during a
        run. Returns the number removed."""
        removed = 0
        for sub in ((), ("_manifests",)):
            for i in self._list(*sub):
                if i.base_name.endswith(".tmp"):
                    self.fs.delete_file(i.path)
                    removed += 1
        return removed

    def manifest_names(self) -> List[str]:
        return sorted(i.base_name for i in self._list("_manifests")
                      if i.base_name.endswith(".json"))

    def read_json(self, *parts: str) -> dict:
        with self.fs.open_input_stream(self.path(*parts)) as f:
            return json.loads(f.read().decode())

    # -- sink-side writes --------------------------------------------------
    @staticmethod
    def _tmp_name(final: str) -> str:
        """Attempt-unique temp path. A FIXED suffix would let two live
        attempts of the same task (speculative execution, or a zombie task
        surviving a driver-side retry) interleave writes into one temp
        file and then rename garbage into place; with a unique name each
        attempt renames its own complete file and the last rename wins
        whole. Ends in .tmp so manifest/bucket listings never pick it up."""
        import uuid

        return f"{final}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"

    def _move_commit(self, tmp: str, final: str) -> None:
        """Commit ``tmp`` to ``final`` on a rename-capable filesystem.

        POSIX-rename schemes (plain paths, file://) replace an existing
        destination, so a plain move is the whole protocol. HDFS/viewfs
        rename does NOT overwrite: after a crash that committed a bucket
        data file but not its manifest, the resume run re-parses the
        bucket and its re-commit move fails on the orphan — accept the
        existing complete ``final`` as committed (every attempt writes the
        same deterministic content, so whichever attempt landed is equally
        valid) and drop our temp. Never delete ``final`` first: a
        speculative attempt killed between a delete and its move would
        permanently destroy an already-committed bucket whose manifest
        (the commit marker) exists — silent data loss no resume would
        repair."""
        import pyarrow.fs as pafs

        if self.scheme in self.POSIX_RENAME_SCHEMES:
            self.fs.move(tmp, final)
            return
        try:
            self.fs.move(tmp, final)
        except OSError:
            if self.fs.get_file_info(final).type == pafs.FileType.File:
                try:
                    self.fs.delete_file(tmp)
                except (FileNotFoundError, OSError):
                    pass
                return
            raise

    def parquet_writer(self, rel: str, schema):
        """(writer, commit) pair; ``commit()`` finalizes the bucket file."""
        import pyarrow.parquet as pq

        final = self.path(rel)
        if self.scheme in self.RENAME_SCHEMES:
            # streams interleave in place, so commit via attempt-unique
            # temp + move exactly like write_json
            tmp = self._tmp_name(final)
            writer = pq.ParquetWriter(tmp, schema, filesystem=self.fs)
            return writer, lambda: self._move_commit(tmp, final)
        # object stores: single-PUT on close is atomic and concurrent
        # attempts each PUT a complete object (last write wins whole)
        writer = pq.ParquetWriter(final, schema, filesystem=self.fs)
        return writer, lambda: None

    def write_json(self, rel: str, obj: dict) -> None:
        """Commit a manifest. The manifest's *existence* marks the bucket
        done, so a truncated manifest must never appear under its final
        name: rename-capable filesystems get tmp+move; object stores rely
        on single-PUT atomicity."""
        final = self.path(rel)
        rename = self.scheme in self.RENAME_SCHEMES
        target = self._tmp_name(final) if rename else final
        with self.fs.open_output_stream(target) as f:
            f.write(json.dumps(obj).encode())
        if rename:
            self._move_commit(target, final)

    def file_size(self, rel: str) -> int:
        return int(self.fs.get_file_info(self.path(rel)).size)


def completed_buckets(out_dir: str) -> set:
    store = BucketStore(out_dir)
    # parse the FULL id: names are bucket-%05d.json, but %05d widens past
    # 99,999 (B=2^20 is the recommended web-scale bucket count) — a fixed
    # [7:12] slice would silently mis-parse bucket 123456 as 12345 and
    # corrupt the resume set
    return {int(n[len("bucket-"):n.index(".")]) for n in store.manifest_names()
            if n.startswith("bucket-")}


RUN_PARAMS_NAME = "_run_params.json"


def _pin_run_params(store: BucketStore, done: set,
                    ocr_provider: Optional[str], n_buckets: int,
                    custom_bucket: bool = False) -> None:
    """Parse-affecting parameters must be IDENTICAL across every run that
    shares one out_dir: resuming with a different ``ocr_provider`` would
    mix provider and provider-less buckets into one silently inconsistent
    dataset, and a different ``n_buckets`` remaps rows into already-"done"
    bucket ids (skipped = silent data loss). The first run pins them in
    ``_manifests/_run_params.json``; resumes verify and fail loud.
    ``custom_bucket`` records that a caller-supplied bucket_expr routed
    this layout — point reads (lookup_turn) refuse such layouts rather
    than silently probing the wrong bucket with the default hash."""
    params = {"ocr_provider": ocr_provider, "n_buckets": int(n_buckets),
              "custom_bucket": bool(custom_bucket)}
    try:
        recorded = store.read_json("_manifests", RUN_PARAMS_NAME)
    except Exception:  # noqa: BLE001 — missing/unreadable = not recorded
        recorded = None
    # defaults for keys a pre-upgrade layout never recorded: a missing
    # key must diff as its default, or a legacy layout could be resumed
    # with e.g. a custom bucket_expr without tripping the guard — rows
    # would remap into already-committed bucket ids (silent data loss,
    # exactly what the pin exists to prevent)
    legacy_defaults = {"custom_bucket": False}
    if recorded is not None:
        mism = {k: {"recorded": recorded.get(k, legacy_defaults.get(k)),
                    "requested": v}
                for k, v in params.items()
                if recorded.get(k, legacy_defaults.get(k)) != v}
        if mism:
            raise ValueError(
                f"resume parameter mismatch for {store.out_dir}: {mism} — "
                f"{len(done)} buckets are committed under the recorded "
                "parameters; rerun with them or use a fresh output dir")
        return
    if done and ocr_provider is not None:
        raise ValueError(
            f"{store.out_dir} has {len(done)} committed buckets but no "
            f"{RUN_PARAMS_NAME} (pre-params layout): cannot prove they "
            f"were parsed with ocr_provider={ocr_provider!r} — use a "
            "fresh output dir")
    store.write_json(f"_manifests/{RUN_PARAMS_NAME}", params)


def read_manifests(out_dir: str) -> List[dict]:
    store = BucketStore(out_dir)
    return [store.read_json("_manifests", n) for n in store.manifest_names()
            if n.startswith("bucket-")]


def with_bucket(df: DataFrame, n_buckets: int,
                bucket_expr=None) -> DataFrame:
    """Deterministic work-unit id — also the salt that spreads a long
    conversation across buckets (skew handling per north_rule).
    ``bucket_expr`` (optional Column in 0..n_buckets-1) overrides the
    default xxhash64 pid — used by oracle-mirrored lineage audits that
    need an md5-family bucket both engines can compute; the default
    path is byte-identical to before."""
    pid = (bucket_expr if bucket_expr is not None
           else F.pmod(F.xxhash64("conv_id", "turn_idx"),
                       F.lit(n_buckets)))
    return df.withColumn("pid", pid.cast("int"))


def run_resumable(df: DataFrame, out_dir: str, n_buckets: int = 64,
                  partitions: Optional[int] = None, run_id: str = "run",
                  ocr_provider: Optional[str] = None,
                  bucket_expr=None) -> dict:
    """Full resumable extraction: bucket → resume-filter → shuffle → parse →
    per-bucket atomic sink. ``df`` is the raw transcript table; ``out_dir``
    is a local path or a pyarrow-compatible URI.

    The parse runs INSIDE the sink's Arrow stage (``parse_batch``, the
    same body as ``extract.parse_udf``): one Python worker set and one
    JVM↔Python crossing, instead of parse-worker → JVM → sink-worker for
    the fat result columns. Bucket files carry ``extract.OUTPUT_COLUMNS``
    (the input's ``role``/``tool``/``ts`` only when present).

    One driver per ``out_dir`` at a time: the resume set is read once at
    start and orphaned attempt-temps are swept then (safe because no task
    attempt can be live). Concurrent DRIVERS against one out_dir would
    race both; resubmit sequentially instead — speculative/retried task
    attempts WITHIN a run are fully supported (attempt-unique temps,
    manifest-last commit).

    Returns {buckets_total, buckets_done_before, buckets_written, rows,
    bytes, wall_ms}.
    """
    # imported here, not in the sink: the Python workers never import
    # engine.extract
    from bella_domify_spark.engine.extract import OUTPUT_COLUMNS

    _store = BucketStore(out_dir)
    _store.makedirs()
    _store.clean_tmp()  # orphans from crashed attempts; no attempt is live

    done = completed_buckets(out_dir)
    _pin_run_params(_store, done, ocr_provider, n_buckets,
                    custom_bucket=bucket_expr is not None)
    df = with_bucket(df, n_buckets, bucket_expr)
    if done and len(done) <= RESUME_ISIN_LIMIT:
        # literal NOT IN pushes into the scan stage (rows of completed
        # buckets are dropped at the source)
        df = df.filter(~F.col("pid").isin(*[int(b) for b in done]))
    elif done:
        # a web-scale resume can carry 10^5-10^6 completed buckets — that
        # many literals blow up the Catalyst expression tree/codegen, so
        # switch to a broadcast anti-join: map-side, no shuffle of the big
        # table, plan size O(1)
        done_df = df.sparkSession.createDataFrame(
            [(int(b),) for b in sorted(done)], "pid int")
        df = df.join(F.broadcast(done_df), "pid", "left_anti")

    p = partitions or df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(min(p, n_buckets), "pid").sortWithinPartitions("pid")

    def sink(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:  # noqa: F821
        import time

        import pyarrow as pa

        from bella_domify_spark.parsers.dispatch import parse_batch

        store = BucketStore(out_dir)
        out_schema = pa.schema([("bucket", pa.int32()), ("rows", pa.int64()),
                                ("bytes", pa.int64()), ("wall_ms", pa.float64())])

        def parse(batch: "pa.RecordBatch") -> "pa.RecordBatch":
            """Raw transcript batch → bucket-file columns + pid."""
            parsed = parse_batch(batch.column("text"), ocr_provider)
            cols = {**{n: batch.column(n) for n in batch.schema.names},
                    **{f.name: parsed.field(f.name) for f in parsed.type}}
            names = [n for n in OUTPUT_COLUMNS if n in cols] + ["pid"]
            return pa.RecordBatch.from_arrays([cols[n] for n in names],
                                              names=names)

        cur_pid, writer, commit, rows, t0 = None, None, None, 0, 0.0
        results = []

        def close_current():
            nonlocal writer, commit, rows, cur_pid, t0
            if writer is None:
                return
            writer.close()
            commit()
            fname = f"bucket-{cur_pid:05d}.parquet"
            wall_ms = (time.monotonic() - t0) * 1000.0
            nbytes = store.file_size(fname)
            manifest = {"bucket": cur_pid, "run_id": run_id, "rows": rows,
                        "bytes": nbytes, "wall_ms": round(wall_ms, 2),
                        "file": fname}
            # manifest write LAST = commit marker (atomic on local via
            # rename, single PUT on object stores)
            store.write_json(f"_manifests/bucket-{cur_pid:05d}.json", manifest)
            results.append({"bucket": cur_pid, "rows": rows, "bytes": nbytes,
                            "wall_ms": wall_ms})
            writer, rows = None, 0

        for batch in batches:
            batch = parse(batch)
            pids = batch.column("pid").to_pylist()
            data = batch.drop_columns(["pid"])
            # split the batch at pid boundaries (rows are pid-sorted)
            start = 0
            for i in range(1, len(pids) + 1):
                if i == len(pids) or pids[i] != pids[start]:
                    pid = pids[start]
                    if pid != cur_pid:
                        close_current()
                        cur_pid = pid
                        t0 = time.monotonic()
                        writer, commit = store.parquet_writer(
                            f"bucket-{pid:05d}.parquet", data.schema)
                    writer.write_batch(data.slice(start, i - start))
                    rows += i - start
                    start = i
        close_current()
        yield pa.RecordBatch.from_pylist(results, schema=out_schema)

    summaries = df.mapInArrow(sink, _SUMMARY_TYPE).collect()
    return {
        "buckets_total": n_buckets,
        "buckets_done_before": len(done),
        "buckets_written": len(summaries),
        "rows": sum(r["rows"] for r in summaries),
        "bytes": sum(r["bytes"] for r in summaries),
        "wall_ms": max((r["wall_ms"] for r in summaries), default=0.0),
    }


def lookup_turn(spark, out_dir: str, conv_id, turn_idx) -> DataFrame:
    """Point lookup of one extracted turn WITHOUT scanning the dataset —
    the serving-side payoff of deterministic bucket routing (the Hive/
    Iceberg bucket-pruning read): recompute the row's bucket from the
    pinned ``n_buckets`` (``_run_params.json``), read ONLY that one
    parquet file, and filter inside it.

    At 100 TB with 10^5 buckets this touches one file (+ one footer for
    schema inference) instead of the full corpus — the difference between
    a sub-second point read and a cluster-wide scan. Key-column dtypes are
    inferred from a committed bucket's parquet schema because xxhash64 is
    type-sensitive: hashing turn_idx as INT when the writer hashed BIGINT
    routes to the wrong bucket (silently empty results), so the contract
    is pinned to the written files, not to caller guesses.

    Returns a DataFrame (possibly empty) with the bucket-file schema; a
    key routing to a never-committed bucket yields an empty frame.
    """
    from pyspark.sql import functions as F

    store = BucketStore(out_dir)
    params = store.read_json("_manifests", RUN_PARAMS_NAME)
    if params.get("custom_bucket"):
        raise ValueError(
            f"{out_dir} was written with a caller-supplied bucket_expr; "
            "lookup_turn's default-hash routing would probe the wrong "
            "bucket — read the layout with spark.read.parquet instead")
    n_buckets = int(params["n_buckets"])
    manifests = read_manifests(out_dir)
    if not manifests:
        raise FileNotFoundError(f"no committed buckets under {out_dir}")
    # Spark reads paths under out_dir itself: store.path is relative to
    # the filesystem and drops an object store's scheme (s3://b/out -> b/out)
    root = out_dir.rstrip("/") + "/"
    schema = spark.read.parquet(root + manifests[0]["file"]).schema
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    one = spark.range(1).select(
        F.lit(conv_id).cast(types["conv_id"]).alias("conv_id"),
        F.lit(turn_idx).cast(types["turn_idx"]).alias("turn_idx"))
    pid = int(with_bucket(one, n_buckets).collect()[0]["pid"])
    fname = f"bucket-{pid:05d}.parquet"
    if not any(m["file"] == fname for m in manifests):
        return spark.createDataFrame([], schema)
    return (spark.read.parquet(root + fname)
            .filter((F.col("conv_id") == F.lit(conv_id).cast(types["conv_id"]))
                    & (F.col("turn_idx")
                       == F.lit(turn_idx).cast(types["turn_idx"]))))
