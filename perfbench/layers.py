"""Per-layer probes for the traced run.

Spark layers of the extraction pipeline come from cumulative prefix plans
that rebuild ``run_resumable``'s own plan over the same input, each
materialized with the noop sink:

    scan          read the transcript parquet
    shuffle       + ``with_bucket`` + repartition(pid) + sortWithinPartitions
    arrow_cross   + mapInArrow that only counts rows (JVM -> Python batches)
    parse         + mapInArrow that runs ``parse_payload`` on every turn
    sink          ``run_resumable`` itself (+ bucket parquet + manifests)

A layer's self time is its plan's median wall minus the previous plan's,
so the five self times sum to the ``run_resumable`` wall. Parse costs per
format, pdflike stage shares and ``core.tree`` serialization costs are
measured in this process on a sample of the same turns.
"""

from __future__ import annotations

import cProfile
import pstats
import statistics
import time

import pandas as pd  # module level: pandas_udf resolves its pd.Series hints here

FORMATS = ("plaintext", "markdown", "pdflike", "docxlike", "htmllike",
           "xlsxlike", "pptxlike")
PIPELINE_LAYERS = ("scan", "shuffle", "arrow_cross", "parse", "sink")

# (stage name, [(module suffix, function name), ...]) whose cumulative
# cProfile time counts for the stage; some stages nest inside others
PDF_STAGES = [
    ("load_doc", [("glyphdoc.py", "load_doc")]),
    ("docscan", [("docscan.py", "identify_header_footer"),
                 ("docscan.py", "detect_cover"),
                 ("docscan.py", "parse_catalog"),
                 ("docscan.py", "mark_titles_from_catalog")]),
    ("tables", [("tables.py", "parse_lattice_tables")]),
    ("sections", [("sections.py", "parse_sections")]),
    ("join_lines_vertically", [("paragraphs.py", "join_lines_vertically")]),
    ("split_blocks", [("pipeline.py", "_split_blocks")]),
    ("parse_alignment_spacing", [("metadata.py", "parse_alignment_spacing")]),
    ("group_physical_rows", [("cluster.py", "group_physical_rows")]),
    ("identify_titles", [("paragraphs.py", "identify_titles")]),
    ("build_tree", [("treebuild.py", "build_tree")]),
]


def _median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def pipeline_prefixes(spark, tracer, input_path: str, out_dir_for,
                      n_buckets: int, partitions: int, reps: int) -> dict:
    """Median wall (s) of each cumulative prefix plan, keyed by the layer
    the plan adds, plus self times and shuffle counters."""
    from pyspark.sql import functions as F

    from bella_domify_spark.engine.extract import extract_transcripts
    from bella_domify_spark.engine.manifest import run_resumable, with_bucket

    import sparkstats

    # nested, so they pickle by value: the Python workers cannot import
    # this directory
    def count_batches(batches):
        import pyarrow as pa

        for batch in batches:
            yield pa.RecordBatch.from_pydict({"rows": [batch.num_rows]})

    def parse_batches(batches):
        import pyarrow as pa

        from bella_domify_spark.parsers.dispatch import parse_payload

        for batch in batches:
            recs = [parse_payload(t if isinstance(t, str) else None)
                    for t in batch.column("text").to_pylist()]
            yield pa.RecordBatch.from_pydict(
                {"rows": [batch.num_rows],
                 "chars": [sum(len(r["extracted_text"]) for r in recs)]})

    def scan():
        return spark.read.parquet(input_path)

    def shuffled():
        return (with_bucket(scan(), n_buckets)
                .repartition(min(partitions, n_buckets), "pid")
                .sortWithinPartitions("pid"))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    counter = iter(range(10**6))

    def sink():
        with tracer.span("engine.manifest.run_resumable"):
            run_resumable(scan(), out_dir_for(f"prefix-{next(counter)}"),
                          n_buckets=n_buckets, partitions=partitions)

    plans = [
        ("scan", lambda: noop(scan())),
        ("shuffle", lambda: noop(shuffled())),
        ("arrow_cross", lambda: noop(
            shuffled().mapInArrow(count_batches, "rows long"))),
        ("parse", lambda: noop(
            shuffled().mapInArrow(parse_batches, "rows long, chars long"))),
        ("sink", sink),
    ]
    cumulative, extra = {}, {}
    for layer, fn in plans:
        with tracer.span(f"prefix.{layer}"), \
                sparkstats.job_group(spark, f"prefix.{layer}"):
            cumulative[layer] = _median_wall(fn, reps)
    m = sparkstats.group_metrics(spark, "prefix.shuffle")
    extra["extract.shuffle_write_mb"] = m["shuffle_write_mb"] / reps
    counts = [r[0] for r in shuffled().groupBy(F.spark_partition_id())
              .count().select("count").collect()]
    extra["extract.partition_rows_max_over_mean"] = (
        max(counts) * len(counts) / sum(counts))
    # the two-stage public path (pandas struct UDF, no sink), for reference
    with tracer.span("engine.extract.extract_transcripts"):
        extra["extract.extract_transcripts_s"] = _median_wall(
            lambda: noop(extract_transcripts(scan(), partitions=partitions)),
            reps)
    self_s, prev = {}, 0.0
    for layer in PIPELINE_LAYERS:
        self_s[layer] = cumulative[layer] - prev
        prev = cumulative[layer]
    return {"cumulative": cumulative, "self": self_s, "extra": extra}


def parse_by_format(texts_by_fmt: dict, fmt_counts: dict) -> dict:
    """In-process ``parse_payload`` cost per format on the sampled turns.

    us_per_turn is the sample's mean wall per turn; cpu_share weights it
    by the format's turn count in the whole input."""
    from bella_domify_spark.parsers.dispatch import parse_payload

    us = {}
    for fmt in FORMATS:
        texts = texts_by_fmt.get(fmt, [])
        if not texts:
            us[fmt] = 0.0
            continue
        t0 = time.perf_counter()
        for t in texts:
            parse_payload(t)
        us[fmt] = (time.perf_counter() - t0) / len(texts) * 1e6
    total = sum(us[f] * fmt_counts.get(f, 0) for f in FORMATS) or 1.0
    out = {}
    for fmt in FORMATS:
        out[f"parse.us_per_turn.{fmt}"] = us[fmt]
        out[f"parse.cpu_share.{fmt}"] = us[fmt] * fmt_counts.get(fmt, 0) / total
        out[f"parse.turns.{fmt}"] = fmt_counts.get(fmt, 0)
    return out


def pdflike_stages(payloads: list[str]) -> dict:
    """Share of ``pdflike.pipeline.parse`` time spent under each stage
    (cProfile cumulative; nested stages overlap)."""
    from bella_domify_spark.parsers.pdflike import pipeline

    prof = cProfile.Profile()
    prof.enable()
    for p in payloads:
        pipeline.parse(p)
    prof.disable()
    stats = pstats.Stats(prof).stats
    cum = {}
    for (path, _, func), (_, _, _, ct, _) in stats.items():
        cum[(path, func)] = cum.get((path, func), 0.0) + ct
    total = sum(ct for (path, func), ct in cum.items()
                if path.endswith("pdflike/pipeline.py") and func == "parse")
    out = {}
    for stage, funcs in PDF_STAGES:
        t = sum(ct for (path, func), ct in cum.items()
                for suffix, name in funcs
                if func == name and path.endswith("pdflike/" + suffix))
        out[f"pdflike.share.{stage}"] = t / total if total else 0.0
    return out


def tree_serialization(payloads: list[str]) -> dict:
    """Mean ``DomTree.to_markdown`` / ``to_json`` cost (us) per pdflike
    tree."""
    from bella_domify_spark.parsers.pdflike import pipeline

    trees = [pipeline.parse(p) for p in payloads]
    if not trees:
        return {"tree.to_markdown_us": 0.0, "tree.to_json_us": 0.0}
    out = {}
    for name in ("to_markdown", "to_json"):
        t0 = time.perf_counter()
        for tree in trees:
            getattr(tree, name)()
        out[f"tree.{name}_us"] = (time.perf_counter() - t0) / len(trees) * 1e6
    return out
