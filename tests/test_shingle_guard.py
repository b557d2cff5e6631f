"""Shingle-substrate guard: ops/dedup.py builds the word array, the
n-gram shingles, the frequency-capped pair count and the LSH band
candidates in one place each, and explodes its arrays only through
_elements (the shape contract in its module docstring)."""

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEDUP = os.path.join(ROOT, "bella_domify_spark", "ops", "dedup.py")

# pattern -> what it builds; each occurs exactly once (zero means the
# pattern went stale and no longer guards anything)
SINGLE = {
    r"split\(F\.lower\(": "the word split",
    r"F\.arrays_zip\(": "the n-gram construction",
    r"<= max_shingle_freq": "the stop-shingle cap",
    r"\.join\(\w+, \[\"band\", \"bucket\"\]\)": "the band self-join",
}
# a bare-column explode of a substrate array (must go through _elements)
BARE_EXPLODE = re.compile(r"explode\(\"(sharr|w)\"\)")
# only the word-array substrate widens the input
WIDEN_OK = {"_words"}


def test_substrate_built_once():
    with open(DEDUP, encoding="utf-8") as f:
        src = f.read()
    lines = src.splitlines()
    hits = []
    for pat, what in SINGLE.items():
        at = [i for i, line in enumerate(lines, 1) if re.search(pat, line)]
        if len(at) != 1:
            hits.append(f"{what}: {len(at)} copies, at lines {at}")
    hits += [f"bare explode at line {i}: {line.strip()}"
             for i, line in enumerate(lines, 1) if BARE_EXPLODE.search(line)]
    for fn in ast.parse(src).body:
        if not isinstance(fn, ast.FunctionDef) or fn.name in WIDEN_OK:
            continue
        hits += [f"_widen call in {fn.name} at line {node.lineno}"
                 for node in ast.walk(fn)
                 if isinstance(node, ast.Call)
                 and isinstance(node.func, ast.Name)
                 and node.func.id == "_widen"]
    assert not hits, "\n".join(hits)


# what Catalyst infers for a generator over a nullable bare column:
# size(col) > 0 and isnotnull(col), with col then inlined by the pushdown
INFERRED = re.compile(r"Filter .*(size\(.*split\(.*\) > 0\)|isnotnull\(size)")


def test_construction_is_not_copied_into_a_filter(spark):
    # an inferred filter pushed through the projections would run the
    # split (and for shingles the whole n-gram construction) once more,
    # below _widen
    import contextlib
    import io

    from bella_domify_spark.ops import dedup

    df = spark.createDataFrame(
        [(0, "a b c d e f g h i j"), (1, "a b c d e f g h x y")],
        "doc_id long, text string")
    ops = {"word_shingles": dedup.word_shingles(df),
           "jaccard_pairs": dedup.jaccard_pairs(df),
           "containment_pairs": dedup.containment_pairs(df),
           "cooccurrence_pairs": dedup.cooccurrence_pairs(df),
           "minhash_signatures": dedup.minhash_signatures(df),
           "simhash": dedup.simhash(df),
           "dup_span_stats": dedup.dup_span_stats(df),
           "remove_dup_spans": dedup.remove_dup_spans(df)}
    bad = []
    for name, q in ops.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        bad += [f"{name}: {line.strip()[:120]}"
                for line in buf.getvalue().splitlines()
                if INFERRED.search(line)]
    assert not bad, "\n".join(bad)
