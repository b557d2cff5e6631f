"""Seeded inputs for the benchmark workloads, plus their oracles.

Every input is a pure function of (workload, seed, size): the same seed
gives byte-identical parquet files. Generation fans out over a fixed
number of chunks (independent of the host's core count, so the bytes do
not depend on it) executed by at most ``nproc`` spawned processes. The
oracle for the extraction tables is the program's single-process parser
``parsers.dispatch.parse_payload`` applied to every turn in the same
chunk worker that generated it.

Results are cached on disk under ``<cache>/<key>/`` so a repeated seed
skips generation; the cache key carries the program's ``GEN_VERSION`` and
this module's ``INPUT_VERSION``.
"""

from __future__ import annotations

import hashlib
import multiprocessing as mp
import os
import shutil
import subprocess
import sys
import time

INPUT_VERSION = 2
N_CHUNKS = 16
CACHE_KEEP = 24  # most recently used inputs kept on disk

# fixtures/gen_corpus mix: (format, share of turns)
MIXED_SHARES = [("plaintext", 0.44), ("markdown", 0.20), ("pdflike", 0.15),
                ("docxlike", 0.07), ("htmllike", 0.06), ("xlsxlike", 0.03),
                ("pptxlike", 0.03), ("null", 0.01), ("blank", 0.01)]
PLAIN_SHARES = [("plaintext", 0.69), ("markdown", 0.31)]


def rng_seed(*parts) -> int:
    """A ``RandomState`` seed in [0, 2**32) derived from ``parts``: the
    run's ``--seed`` may be negative or wider than 32 bits."""
    digest = hashlib.sha256(repr(parts).encode()).digest()
    return int.from_bytes(digest[:4], "little")


# ---------------------------------------------------------------- transcripts

def _conversation_lengths(rng, n_turns: int, giants: list[int]) -> list[int]:
    """Zipf(1.2) lengths capped at 512, plus fixed giant conversations,
    summing to exactly ``n_turns``."""
    lengths = list(giants)
    left = n_turns - sum(giants)
    while left > 0:
        n = int(min(512, rng.zipf(1.2), left))
        lengths.append(n)
        left -= n
    rng.shuffle(lengths)
    return lengths


def _format_plan(rng, n_turns: int, shares) -> list[str]:
    """Exactly ``round(share * n_turns)`` turns of each format (the first
    format takes the rounding remainder), in seeded random order."""
    plan = []
    for fmt, share in shares[1:]:
        plan += [fmt] * int(round(share * n_turns))
    plan = [shares[0][0]] * (n_turns - len(plan)) + plan
    rng.shuffle(plan)
    return plan


def _gen_chunk(args):
    """Rows + oracle records for one chunk (runs in a pool worker)."""
    seed, chunk, rows = args
    import datetime as dt

    from bella_domify_spark import synthdocs as sd
    from bella_domify_spark.parsers.dispatch import parse_payload

    gens = {"plaintext": sd.gen_plaintext, "markdown": sd.gen_markdown,
            "pdflike": sd.gen_pdflike, "docxlike": sd.gen_docxlike,
            "htmllike": sd.gen_htmllike, "xlsxlike": sd.gen_xlsxlike,
            "pptxlike": sd.gen_pptxlike}
    r = sd._Rng(rng_seed(seed, chunk))
    base = dt.datetime(2026, 1, 1)
    roles = ("user", "assistant", "tool")
    out, expected = [], []
    for conv, turn, fmt in rows:
        if fmt == "null":
            text = None
        elif fmt == "blank":
            text = ""
        else:
            text = gens[fmt](r)
        tool = "doc_upload" if fmt in ("pdflike", "docxlike", "xlsxlike",
                                       "pptxlike") else ""
        conv_id = f"conv{conv:08d}"
        out.append((conv_id, turn, roles[turn % 3], text, tool,
                    base + dt.timedelta(seconds=conv * 3600 + turn * 7)))
        p = parse_payload(text)
        expected.append((conv_id, turn, p["fmt"], p["extracted_text"],
                         p["status"]))
    return out, expected


def _transcript_rows(seed: int, n_turns: int, shares, giants: list[int]):
    import numpy as np

    rng = np.random.RandomState(rng_seed(seed))
    lengths = _conversation_lengths(rng, n_turns, giants)
    formats = _format_plan(rng, n_turns, shares)
    keys = [(c, t) for c, n in enumerate(lengths) for t in range(n)]
    order = rng.permutation(len(keys))  # rows arrive in no particular order
    rows = [(keys[i][0], keys[i][1], formats[j]) for j, i in enumerate(order)]
    step = -(-len(rows) // N_CHUNKS)
    return [(seed, c, rows[c * step:(c + 1) * step]) for c in range(N_CHUNKS)]


def _write_transcripts(path: str, chunks, processes: int) -> None:
    import pandas as pd

    ctx = mp.get_context("spawn")
    with ctx.Pool(processes) as pool:
        results = pool.map(_gen_chunk, chunks, chunksize=1)
        pool.close()
        pool.join()
    rows = [r for out, _ in results for r in out]
    exp = [e for _, ex in results for e in ex]
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                     "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    # Spark rejects TIMESTAMP(NANOS) parquet
    df["ts"] = df["ts"].astype("datetime64[us]")
    df.to_parquet(os.path.join(path, "transcripts.parquet"), index=False,
                  row_group_size=8192)
    ex = pd.DataFrame(exp, columns=["conv_id", "turn_idx", "fmt",
                                    "extracted_text", "status"])
    ex["turn_idx"] = ex["turn_idx"].astype("int32")
    ex.sort_values(["conv_id", "turn_idx"]).to_parquet(
        os.path.join(path, "expected.parquet"), index=False)


# ---------------------------------------------------------------- documents

_VOCAB = ("spark batch part line column order small sort fast value scan hash "
          "slow group agg filter query big key window row table stream merge "
          "data join vector customer the a of index page shard cache plan "
          "node edge graph token model train eval score rank text word").split()


def _write_documents(path: str, seed: int, n_docs: int) -> None:
    """Word-salad documents over a small vocabulary (many shared shingles)
    where a third are edited copies of earlier documents (planted
    near-duplicates); schema of the ``documents`` table ``queries()`` reads."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(rng_seed(seed, "documents"))
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.rand() < 0.33:
            words = texts[rng.randint(i)].split()
            for _ in range(max(1, len(words) // 12)):
                op, at = rng.randint(3), rng.randint(len(words))
                if op == 0:
                    words[at] = _VOCAB[rng.randint(len(_VOCAB))]
                elif op == 1:
                    words.insert(at, _VOCAB[rng.randint(len(_VOCAB))])
                elif len(words) > 4:
                    del words[at]
        else:
            words = [_VOCAB[k] for k in rng.randint(len(_VOCAB),
                                                   size=rng.randint(6, 60))]
        texts.append(" ".join(words))
    langs = np.array(["en", "zh", "de", "fr"])[rng.randint(4, size=n_docs)]
    df = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{rng.randint(8)}" for _ in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    df.to_parquet(os.path.join(path, "documents.parquet"), index=False)


# ---------------------------------------------------------------- cache

def _cached(cache_root: str, key: str, build) -> tuple[str, float]:
    """Directory holding the input for ``key``; built on a miss into a
    temp dir and renamed into place. Returns (dir, build seconds), with
    0 seconds on a cache hit."""
    final = os.path.join(cache_root, key)
    if os.path.exists(os.path.join(final, "_COMPLETE")):
        os.utime(final)
        return final, 0.0
    tmp = f"{final}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    try:
        build(tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    built = time.perf_counter() - t0
    entries = sorted((e for e in os.scandir(cache_root)
                      if e.is_dir() and not e.name.endswith(".tmp")),
                     key=lambda e: e.stat().st_mtime, reverse=True)
    for e in entries[CACHE_KEEP:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return final, built


TRANSCRIPT_KINDS = {
    # name: (format shares, giant conversation lengths as shares of turns)
    "mixed": (MIXED_SHARES, []),
    "plain_skew": (PLAIN_SHARES, [0.1, 0.1, 0.1]),
}


def transcripts(cache_root: str, kind: str, seed: int, n_turns: int,
                processes: int, timeout_s: float):
    """Generate in a child interpreter: its pool workers and the
    resource tracker that ``spawn`` starts end with it."""
    from bella_domify_spark.synthdocs import GEN_VERSION

    key = f"{kind}-g{GEN_VERSION}-i{INPUT_VERSION}-s{seed}-n{n_turns}"

    def build(d):
        subprocess.run([sys.executable, os.path.abspath(__file__), kind, d,
                        str(seed), str(n_turns), str(processes)],
                       check=True, timeout=timeout_s)

    return _cached(cache_root, key, build)


def documents(cache_root: str, seed: int, n_docs: int):
    key = f"documents-i{INPUT_VERSION}-s{seed}-n{n_docs}"
    return _cached(cache_root, key,
                   lambda d: _write_documents(d, seed, n_docs))


def _main(argv: list[str]) -> None:
    kind, out_dir, seed, n_turns, processes = argv
    shares, giant_shares = TRANSCRIPT_KINDS[kind]
    giants = [int(g * int(n_turns)) for g in giant_shares]
    _write_transcripts(out_dir, _transcript_rows(int(seed), int(n_turns),
                                                 shares, giants),
                       int(processes))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    _main(sys.argv[1:])
