"""The benchmark workloads.

Each workload builds its seeded input (outside the timed region), starts
a local session, warms it up, then repeats a clean ``run_resumable`` into
a fresh output directory until the summed walls reach ``--seconds`` (at
least ``MIN_REPS`` times), and reports medians. Every repetition's
committed output is checked against the oracle, outside the timed region.

- extract_mixed:      the fixtures/gen_corpus format mix (parse-bound).
- extract_plain_skew: plaintext + markdown turns with three giant
                      conversations (scan, shuffle, Arrow crossing and
                      sink bound; parse is cheap).

A traced run adds the per-layer probes: the prefix-plan layer split and
the in-process parse probes on both workloads; the resume + point-lookup
probe on extract_mixed's committed layout; the four shingle queries over
a seeded documents table on extract_plain_skew.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

import check
import inputs
import layers
import procs
import sparkenv
import sparkstats
from spans import Tracer

N_BUCKETS = 64         # run_resumable's default
MIN_REPS = 3
STEAL_LIMIT = 0.03     # share of CPU time stolen that marks a repetition
TIMED_CAP = 1.25       # bounds re-runs of disturbed repetitions
WARM_SLICE_PER_CORE = 64
WARM_FULL_REPS = 2
MIXED_TURNS = 6000
PLAIN_TURNS = 30000
RESUME_SHARE = 0.25
RESUME_REPS = 3
LOOKUPS = 12
DOCS = 400
SHINGLE_QUERIES = ("dedup_minhash_lsh", "ppjoin_pairs", "fuzzy_decontaminate",
                   "blocking_quality")
PREFIX_REPS = 2
PARSE_SAMPLE = 120     # turns per format for the in-process parse probe
PDF_PROFILE_SAMPLE = 40
GEN_TIMEOUT_S = 120

END_TO_END = {"turns_per_s": "1/s", "setup_s": "s"}


class Run:
    """State of one benchmark run: settings, tracer, counters, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tmp_root: str, cache_root: str, cores: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp_root = tmp_root
        self.cache_root = cache_root
        self.cores = cores
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: list[str] = []

    def out_dir(self, name: str) -> str:
        return os.path.join(self.tmp_root, "out", name)

    def tally(self, checked: int, failed: int) -> None:
        self.attempted += checked
        self.failed += failed


def host_probe_ms() -> float:
    """Median wall of a fixed single-thread CPU task: a same-run reading
    of how loaded the host is."""
    import hashlib

    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        h = b"probe"
        for _ in range(20000):
            h = hashlib.sha256(h).digest()
        walls.append((time.perf_counter() - t0) * 1000)
    return statistics.median(walls)


# ------------------------------------------------------------------ common

def _timed_run(run: Run, df, out: str) -> tuple[float, dict]:
    from bella_domify_spark.engine.manifest import run_resumable

    with run.tracer.span("engine.manifest.run_resumable", out=out):
        t0 = time.perf_counter()
        summary = run_resumable(df, out, n_buckets=N_BUCKETS)
        wall = time.perf_counter() - t0
    return wall, summary


def _setup(run: Run, spark, input_dir: str, oracle):
    """Load the input and warm the session up: one clean run over a
    ``cores * WARM_SLICE_PER_CORE``-row slice (Python worker start-up,
    imports, code generation), then WARM_FULL_REPS full clean runs (the
    first full runs after the slice are still ~15% slower)."""
    t0 = time.perf_counter()
    with run.tracer.span("input.load"):
        df = spark.read.parquet(os.path.join(input_dir, "transcripts.parquet"))
        n = df.count()
    if n != len(oracle):
        raise RuntimeError(f"input has {n} rows, oracle {len(oracle)}")
    run.layer["input.load_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    with run.tracer.span("session.warm"):
        _timed_run(run, df.limit(run.cores * WARM_SLICE_PER_CORE),
                   run.out_dir("warm-slice"))
        for i in range(WARM_FULL_REPS):
            _timed_run(run, df, run.out_dir(f"warm-full{i}"))
    run.layer["session.warm_s"] = time.perf_counter() - t0
    shutil.rmtree(run.out_dir("warm-slice"))
    for i in range(WARM_FULL_REPS):
        run.tally(*oracle.check_layout(run.out_dir(f"warm-full{i}")))
        shutil.rmtree(run.out_dir(f"warm-full{i}"))
    return df


def _repeat(run: Run, op) -> list[float]:
    """Call ``op(rep)`` -> wall seconds until the undisturbed walls sum to
    ``run.seconds`` over at least MIN_REPS repetitions, or all walls sum
    to TIMED_CAP times that. A repetition is disturbed when the hypervisor
    stole more than STEAL_LIMIT of the CPU time while it ran; its output
    is checked like any other, but its wall is used only when the
    disturbed ones are the majority. In a traced run every other
    repetition runs with spans off, to measure their overhead. Returns the
    walls used."""
    traced, untraced = [], []  # (wall, disturbed)
    rep = 0
    while True:
        walls = traced + untraced
        clean = [w for w, d in walls if not d]
        if rep >= MIN_REPS and (
                (len(clean) >= MIN_REPS and sum(clean) >= run.seconds)
                or sum(w for w, _ in walls) >= TIMED_CAP * run.seconds):
            break
        spans_on = not (run.trace and rep % 2 == 1)
        steal0, total0 = procs.cpu_ticks()
        run.tracer.enabled = run.trace and spans_on
        try:
            wall = op(rep)
        finally:
            run.tracer.enabled = run.trace
        steal1, total1 = procs.cpu_ticks()
        disturbed = steal1 - steal0 > STEAL_LIMIT * max(1, total1 - total0)
        (traced if spans_on else untraced).append((wall, disturbed))
        rep += 1

    def used(samples):
        clean = [w for w, d in samples if not d]
        if 2 * len(clean) >= len(samples):
            return clean
        return [w for w, _ in samples]

    run.layer["host.disturbed_reps"] = sum(d for _, d in traced + untraced)
    run.report.append("run_resumable walls (s, * = disturbed by CPU steal): "
                      + " ".join(f"{w:.3f}{'*' if d else ''}"
                                 for w, d in traced + untraced))
    if run.trace:
        run.layer["trace.overhead_share"] = (
            statistics.median(used(traced))
            / statistics.median(used(untraced)) - 1.0)
        run.layer["trace.untraced_op_s"] = statistics.median(used(untraced))
    return used(traced)


@contextlib.contextmanager
def _session(run: Run, sampler):
    """The run's Spark session; records its start time and, when the
    workload body finishes, the session-wide Spark counters."""
    t0 = time.perf_counter()
    with sparkenv.local_session(run.tmp_root, run.cores,
                                f"perfbench-{run.workload}") as spark:
        run.layer["session.start_s"] = time.perf_counter() - t0
        sampler.sample()
        yield spark
        run.layer["spark.task_failures"] = sparkstats.failed_tasks(spark)
        run.layer["spark.storage_mem_held_mb"] = (
            sparkstats.storage_mem_held_mb(spark))


# ------------------------------------------------------------------ workloads

def _extract(run: Run, kind: str, n_turns: int, sampler, probe) -> None:
    input_dir, gen_s = inputs.transcripts(
        run.cache_root, kind, run.seed, n_turns, run.cores, GEN_TIMEOUT_S)
    run.layer["input.gen_s"] = gen_s
    oracle = check.ExtractOracle(input_dir)
    with _session(run, sampler) as spark:
        df = _setup(run, spark, input_dir, oracle)
        last = [None]

        def op(rep: int) -> float:
            out = run.out_dir(f"rep{rep}")
            wall, summary = _timed_run(run, df, out)
            if summary["rows"] != n_turns:
                raise RuntimeError(f"rep {rep} committed {summary['rows']} "
                                   f"of {n_turns} turns")
            run.tally(*oracle.check_layout(out))
            if last[0] is not None:
                shutil.rmtree(last[0])
            last[0] = out
            return wall

        steal0, total0 = procs.cpu_ticks()
        walls = _repeat(run, op)
        steal1, total1 = procs.cpu_ticks()
        run.layer["host.steal_share"] = (
            (steal1 - steal0) / max(1, total1 - total0))
        op_s = statistics.median(walls)
        run.layer["extract.run_resumable_s"] = op_s
        run.e2e["turns_per_s"] = n_turns / op_s
        run.e2e["setup_s"] = (run.layer["session.start_s"]
                              + run.layer["input.load_s"]
                              + run.layer["session.warm_s"])
        if run.trace:
            _trace_extract(run, spark, input_dir, oracle, last[0], op_s)
            probe(run, spark, df, oracle, last[0])


def _trace_extract(run: Run, spark, input_dir: str, oracle, out: str,
                   op_s: float) -> None:
    """Layer split, in-process parse probes and manifest counters."""
    import pyarrow.parquet as pq

    from bella_domify_spark.engine.manifest import read_manifests
    from bella_domify_spark.parsers.dispatch import detect_format

    manifests = read_manifests(out)
    ms = [m["wall_ms"] for m in manifests]
    run.layer["manifest.bucket_ms_p50"] = statistics.median(ms)
    run.layer["manifest.bucket_ms_max"] = max(ms)
    in_bytes = os.path.getsize(os.path.join(input_dir, "transcripts.parquet"))
    run.layer["manifest.bytes_out_per_byte_in"] = (
        sum(m["bytes"] for m in manifests) / in_bytes)

    pre = layers.pipeline_prefixes(
        spark, run.tracer, os.path.join(input_dir, "transcripts.parquet"),
        run.out_dir, N_BUCKETS, run.cores, reps=PREFIX_REPS)
    names = {"scan": "scan.s", "shuffle": "extract.shuffle_s",
             "arrow_cross": "extract.arrow_cross_s",
             "parse": "extract.parse_s", "sink": "manifest.sink_s"}
    for layer, name in names.items():
        run.layer[name] = pre["self"][layer]
    run.layer.update(pre["extra"])
    untraced = run.layer["trace.untraced_op_s"]
    run.layer["trace.layers_over_untraced"] = (
        pre["cumulative"]["sink"] / untraced)

    # in-process probes on a sample of the same turns
    texts = pq.read_table(os.path.join(input_dir, "transcripts.parquet"),
                          columns=["text"]).column("text").to_pylist()
    by_fmt: dict[str, list] = {}
    for text in texts:
        fmt = detect_format(text)
        if len(by_fmt.setdefault(fmt, [])) < PARSE_SAMPLE:
            by_fmt[fmt].append(text)
    with run.tracer.span("parsers.dispatch.parse_payload"):
        run.layer.update(layers.parse_by_format(by_fmt, oracle.fmt_counts))
    pdfs = by_fmt.get("pdflike", [])[:PDF_PROFILE_SAMPLE]
    with run.tracer.span("parsers.pdflike.pipeline.parse"):
        run.layer.update(layers.pdflike_stages(pdfs))
    with run.tracer.span("core.tree"):
        run.layer.update(layers.tree_serialization(pdfs))

    rows = [("layer", "self s", "cumulative s", "share of untraced op")]
    for layer in layers.PIPELINE_LAYERS:
        rows.append((layer, f"{pre['self'][layer]:.3f}",
                     f"{pre['cumulative'][layer]:.3f}",
                     f"{pre['self'][layer] / untraced:.1%}"))
    rows.append(("sum", f"{pre['cumulative']['sink']:.3f}", "",
                 f"{pre['cumulative']['sink'] / untraced:.1%}"))
    run.report += _table(f"pipeline layers ({run.workload}, untraced "
                         f"run_resumable {untraced:.3f} s, traced "
                         f"{op_s:.3f} s, overhead "
                         f"{run.layer['trace.overhead_share']:+.1%})", rows)
    rows = [("format", "turns", "us/turn", "cpu share")]
    for fmt in layers.FORMATS:
        rows.append((fmt, str(run.layer[f"parse.turns.{fmt}"]),
                     f"{run.layer[f'parse.us_per_turn.{fmt}']:.0f}",
                     f"{run.layer[f'parse.cpu_share.{fmt}']:.1%}"))
    run.report += _table("parse by format (in-process)", rows)
    if pdfs:
        rows = [("pdflike stage", "share of parse")]
        rows += [(s, f"{run.layer[f'pdflike.share.{s}']:.1%}")
                 for s, _ in layers.PDF_STAGES]
        run.report += _table(f"pdflike stages (cProfile, {len(pdfs)} docs, "
                             "nested stages overlap)", rows)


def _trace_resume_lookup(run: Run, spark, df, oracle, layout: str) -> None:
    """On the committed layout: delete a seeded quarter of the buckets and
    time the resumed ``run_resumable`` (3 times); then closed-loop
    ``lookup_turn`` point reads of seeded keys from one client."""
    import numpy as np

    from bella_domify_spark.engine.manifest import lookup_turn

    oracle.check_layout(layout, record_buckets=True)
    per_bucket: dict[int, int] = {}
    for b in oracle.bucket_of.values():
        per_bucket[b] = per_bucket.get(b, 0) + 1
    n_drop = int(N_BUCKETS * RESUME_SHARE)
    walls, ratios = [], []
    for rep in range(RESUME_REPS):
        rng = np.random.RandomState(inputs.rng_seed(run.seed, rep))
        drop = sorted(rng.choice(sorted(per_bucket), n_drop, replace=False))
        for b in drop:
            os.remove(os.path.join(layout, "_manifests",
                                   f"bucket-{b:05d}.json"))
            os.remove(os.path.join(layout, f"bucket-{b:05d}.parquet"))
        missing = sum(per_bucket[b] for b in drop)
        wall, summary = _timed_run(run, df, layout)
        walls.append(wall)
        ratios.append(summary["rows"] / missing)
        run.tally(*oracle.check_layout(layout))
    run.layer["manifest.resume_s"] = statistics.median(walls)
    run.layer["manifest.resume_rows_reparsed_over_missing"] = (
        statistics.median(ratios))

    rng = np.random.RandomState(inputs.rng_seed(run.seed, "lookup"))
    keys = sorted(oracle.expected)
    lat = []
    for k in rng.choice(len(keys), LOOKUPS, replace=False):
        key = keys[k]
        with run.tracer.span("engine.manifest.lookup_turn"):
            t0 = time.perf_counter()
            rows = [r.asDict() for r in
                    lookup_turn(spark, layout, key[0], key[1]).collect()]
            lat.append((time.perf_counter() - t0) * 1000)
        run.tally(1, 0 if oracle.check_lookup(key, rows) else 1)
    run.layer["manifest.lookup_ms_p50"] = statistics.median(lat)
    run.layer["manifest.lookup_ms_max"] = max(lat)
    run.report += _table("resume + lookup (extract_mixed layout)", [
        ("probe", "value"),
        (f"resume of {n_drop}/{N_BUCKETS} buckets, median of {RESUME_REPS}",
         f"{run.layer['manifest.resume_s']:.3f} s"),
        ("rows re-parsed / rows missing",
         f"{run.layer['manifest.resume_rows_reparsed_over_missing']:.3f}"),
        (f"lookup_turn p50 of {LOOKUPS}",
         f"{run.layer['manifest.lookup_ms_p50']:.0f} ms"),
        (f"lookup_turn max of {LOOKUPS}",
         f"{run.layer['manifest.lookup_ms_max']:.0f} ms")])


def _trace_shingle_ops(run: Run, spark, *_) -> None:
    """The four shingle queries, once each, over a seeded documents
    table; results checked against the DuckDB oracle."""
    import __spark_entry__ as entry

    docs_dir, _ = inputs.documents(run.cache_root, run.seed, DOCS)
    digests = check.duckdb_digests(
        docs_dir, list(SHINGLE_QUERIES),
        os.path.join(docs_dir, "oracle_digests.json"), run.tmp_root)
    qs = entry.queries()
    rows = [("query", "wall s", "shuffle write MB", "spill MB",
             "storage held MB")]
    total = 0.0
    for q in SHINGLE_QUERIES:
        with run.tracer.span(f"ops.{q}"), sparkstats.job_group(spark, q):
            t0 = time.perf_counter()
            pdf = qs[q](spark, docs_dir).toPandas()
            wall = time.perf_counter() - t0
        total += wall
        m = sparkstats.group_metrics(spark, q)
        held = sparkstats.storage_mem_held_mb(spark)
        run.layer[f"ops.{q}_s"] = wall
        run.layer[f"ops.{q}.shuffle_write_mb"] = m["shuffle_write_mb"]
        run.layer[f"ops.{q}.spill_mb"] = m["spill_mb"]
        run.layer[f"ops.{q}.storage_mem_held_mb"] = held
        run.tally(1, 0 if list(check.query_digest(pdf)) == digests[q] else 1)
        rows.append((q, f"{wall:.3f}", f"{m['shuffle_write_mb']:.2f}",
                     f"{m['spill_mb']:.2f}", f"{held:.2f}"))
    run.layer["ops.analytics_s"] = total
    run.report += _table(f"shingle queries ({DOCS} documents, one cold "
                         "pass each)", rows)


WORKLOADS = {
    "extract_mixed": lambda run, s: _extract(run, "mixed", MIXED_TURNS, s,
                                             _trace_resume_lookup),
    "extract_plain_skew": lambda run, s: _extract(
        run, "plain_skew", PLAIN_TURNS, s, _trace_shingle_ops),
}


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric; a traced run
    reports each, as 0 where its workload does not exercise the layer."""
    out = [
        ("host.probe_ms", "ms", "lower"),
        ("host.steal_share", "share", "lower"),
        ("host.disturbed_reps", "count", "lower"),
        ("extract.run_resumable_s", "s", "lower"),
        ("input.gen_s", "s", "lower"),
        ("input.load_s", "s", "lower"),
        ("session.start_s", "s", "lower"),
        ("session.warm_s", "s", "lower"),
        ("scan.s", "s", "lower"),
        ("extract.shuffle_s", "s", "lower"),
        ("extract.arrow_cross_s", "s", "lower"),
        ("extract.parse_s", "s", "lower"),
        ("manifest.sink_s", "s", "lower"),
        ("extract.shuffle_write_mb", "MB", "lower"),
        ("extract.partition_rows_max_over_mean", "ratio", "lower"),
        ("extract.extract_transcripts_s", "s", "lower"),
    ]
    for fmt in layers.FORMATS:
        out += [(f"parse.us_per_turn.{fmt}", "us", "lower"),
                (f"parse.cpu_share.{fmt}", "share", "lower"),
                (f"parse.turns.{fmt}", "count", "higher")]
    out += [(f"pdflike.share.{s}", "share", "lower")
            for s, _ in layers.PDF_STAGES]
    out += [("tree.to_markdown_us", "us", "lower"),
            ("tree.to_json_us", "us", "lower"),
            ("manifest.bucket_ms_p50", "ms", "lower"),
            ("manifest.bucket_ms_max", "ms", "lower"),
            ("manifest.bytes_out_per_byte_in", "ratio", "lower"),
            ("manifest.resume_s", "s", "lower"),
            ("manifest.resume_rows_reparsed_over_missing", "ratio", "lower"),
            ("manifest.lookup_ms_p50", "ms", "lower"),
            ("manifest.lookup_ms_max", "ms", "lower")]
    for q in SHINGLE_QUERIES:
        out += [(f"ops.{q}_s", "s", "lower"),
                (f"ops.{q}.shuffle_write_mb", "MB", "lower"),
                (f"ops.{q}.spill_mb", "MB", "lower"),
                (f"ops.{q}.storage_mem_held_mb", "MB", "lower")]
    out += [("ops.analytics_s", "s", "lower"),
            ("spark.storage_mem_held_mb", "MB", "lower"),
            ("spark.task_failures", "count", "lower"),
            ("proc.peak_rss_mb", "MB", "lower"),
            ("proc.jvm_rss_mb", "MB", "lower"),
            ("proc.py_worker_rss_mb", "MB", "lower"),
            ("trace.overhead_share", "share", "lower"),
            ("trace.untraced_op_s", "s", "lower"),
            ("trace.layers_over_untraced", "ratio", "higher")]
    return out


def run_workload(run: Run) -> None:
    """Run ``run.workload``; fills run.e2e / run.layer / run.report."""
    run.layer["host.probe_ms"] = host_probe_ms()
    # the RSS metrics are per-layer: an untimed /proc scan every 100 ms
    # would only compete with the timed work of an untraced run
    sampler = procs.RssSampler()
    if run.trace:
        sampler.start()
    try:
        WORKLOADS[run.workload](run, sampler)
    finally:
        sampler.stop()
    run.layer["proc.peak_rss_mb"] = sampler.peak_mb
    run.layer["proc.jvm_rss_mb"] = sampler.peak_by_kind["jvm"]
    run.layer["proc.py_worker_rss_mb"] = sampler.peak_by_kind["py_worker"]


def _table(title: str, rows: list[tuple]) -> list[str]:
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    lines = [f"== {title}"]
    for r in rows:
        lines.append("  ".join(c.ljust(w) for c, w in zip(r, widths)))
    return lines
