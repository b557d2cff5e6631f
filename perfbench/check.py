"""Correctness gates: committed extraction output against the in-process
oracle, and query results against the DuckDB oracle SQL."""

from __future__ import annotations

import os


_KEYS = ["conv_id", "turn_idx"]
_VALUES = ["extracted_text", "status"]


class ExtractOracle:
    """Expected ``(extracted_text, status)`` per ``(conv_id, turn_idx)``,
    from the ``expected.parquet`` the input generator wrote."""

    def __init__(self, input_dir: str):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(input_dir, "expected.parquet"),
                          columns=_KEYS + _VALUES + ["fmt"])
        self.fmt_counts: dict[str, int] = {}
        for f in t.column("fmt").to_pylist():
            self.fmt_counts[f] = self.fmt_counts.get(f, 0) + 1
        self.table = t.select(_KEYS + _VALUES).sort_by(
            [(k, "ascending") for k in _KEYS]).combine_chunks()
        self._expected = None
        self.bucket_of: dict[tuple, int] = {}

    def __len__(self) -> int:
        return self.table.num_rows

    @property
    def expected(self) -> dict:
        if self._expected is None:
            self._expected = {
                (c, i): (x, s) for c, i, x, s in
                zip(*(self.table.column(n).to_pylist() for n in _KEYS + _VALUES))}
        return self._expected

    def check_layout(self, out_dir: str, record_buckets: bool = False):
        """(turns checked, turns failed) for every committed bucket file
        under ``out_dir``. A turn fails when it is missing, duplicated,
        unexpected, differs from the oracle, or carries an ``error:``
        status. ``record_buckets`` fills ``bucket_of`` (resume probe)."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from bella_domify_spark.engine.manifest import read_manifests

        parts = []
        for m in read_manifests(out_dir):
            t = pq.read_table(os.path.join(out_dir, m["file"]),
                              columns=_KEYS + _VALUES)
            parts.append(t.append_column(
                "bucket", pa.array([m["bucket"]] * t.num_rows, pa.int32())))
        got = (pa.concat_tables(parts) if parts else
               self.table.slice(0, 0).append_column(
                   "bucket", pa.array([], pa.int32())))
        got = got.sort_by([(k, "ascending") for k in _KEYS]).combine_chunks()
        if record_buckets:
            self.bucket_of = dict(zip(
                zip(*(got.column(k).to_pylist() for k in _KEYS)),
                got.column("bucket").to_pylist()))
        if got.select(_KEYS).equals(self.table.select(_KEYS)):
            failed = pc.invert(pc.and_(
                pc.equal(got.column("extracted_text"),
                         self.table.column("extracted_text")),
                pc.equal(got.column("status"), self.table.column("status"))))
            failed = pc.or_(failed, pc.starts_with(got.column("status"),
                                                   "error:"))
            return len(self), int(pc.sum(pc.fill_null(failed, True)).as_py() or 0)
        return len(self), self._count_failures(got)

    def _count_failures(self, got) -> int:
        """Row-by-row count when the committed keys differ from the
        oracle's (missing, duplicated or unexpected turns)."""
        seen: set = set()
        failed = 0
        for c, i, x, s in zip(*(got.column(n).to_pylist()
                                for n in _KEYS + _VALUES)):
            key = (c, i)
            if (key in seen or self.expected.get(key) != (x, s)
                    or (s or "").startswith("error:")):
                failed += 1
            seen.add(key)
        return failed + len(self.expected.keys() - seen)

    def check_lookup(self, key: tuple, rows: list) -> bool:
        return (len(rows) == 1
                and (rows[0]["extracted_text"], rows[0]["status"])
                == self.expected.get(key))


def query_digest(pdf) -> tuple[int, str]:
    """(row count, order-insensitive value hash) with the exact
    normalization of tools/check_oracle.py."""
    from tools.check_oracle import normalize, value_hash

    rows = normalize(pdf)
    return len(rows), value_hash(rows)


def duckdb_digests(docs_dir: str, names: list[str], cache_path: str,
                   tmp_root: str) -> dict[str, list]:
    """Oracle digests of ``names`` over the documents table at
    ``docs_dir``, cached in ``cache_path`` (one file per table set)."""
    import json

    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
        if all(n in cached for n in names):
            return cached
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_root}/duckdb'")
        con.execute("SET threads=2")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{docs_dir}/documents.parquet'")
        out = {n: list(query_digest(con.execute(sql[n]).df())) for n in names}
    finally:
        con.close()
    tmp = f"{cache_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out
