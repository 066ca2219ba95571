"""Seeded inputs for the three workloads, generated once per (seed, size)
and cached under ``.perfbench/cache`` in the checkout.

The program never sees a seed: every workload reads only the tables
written here. Each generator plants a structure whose size is a fixed
share of the input, so two seeds give different rows but the same
counts of planted structure (the self-tests pin this).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Repeated boilerplate turns: identical payloads repeated across
# conversations (system prompts, tool acks, policy pages). They are what
# the extract UDF's per-batch dedupe memo exploits; the share is large
# enough that its 2048-row probe sees < 7/8 unique texts.
BOILERPLATE = (
    "You are a careful assistant. Answer only from the provided context, cite "
    "the source document for every claim, and say so when the context does "
    "not contain the answer.",
    "<!DOCTYPE html><html><head><title>Terms</title><script>var t=0;</script>"
    "</head><body><nav><a href='/'>Home</a> <a href='/tos'>Terms</a></nav>"
    "<article><p>By continuing you accept the terms of service and the data "
    "retention policy of this workspace.</p></article><footer>copyright</footer>"
    "</body></html>",
    '{"content": "tool call completed without output", "summary": "ok", "n": 0}',
    "%PDF-SYNTH 1.0\n%%Page: 1\nstandard disclaimer page one\n%%Page: 2\n"
    "this transcript may contain generated content\n",
)
BOILER_SHARE = 0.20

# curate_docs planted structure, as shares of n_docs
EXACT_SHARE = 0.02   # byte-identical copies of a random base doc
NEAR_SHARE = 0.04    # copies with NEAR_EDIT of the words replaced
NEAR_EDIT = 0.02
HOT_SHARE = 0.10     # docs carrying the one hot gram
HOT_GRAM = "please review the attached quarterly compliance summary before friday"
VOCAB_SIZE = 3000

_CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cache_root(root: str) -> str:
    return os.path.join(root, ".perfbench", "cache")


def _ensure(root: str, kind: str, seed: int, n: int) -> str:
    """The cache entry for (kind, seed, n), built on a miss in a child
    process, so the generator's memory never counts in the driver's peak
    RSS."""
    d = os.path.join(cache_root(root), f"{kind}-s{seed}-n{n}")
    if not os.path.isdir(d):
        subprocess.run([sys.executable, "-m", "perfbench.inputs", root, kind, str(seed), str(n)],
                       cwd=_CHECKOUT, check=True)
    return d


def _build(root: str, kind: str, seed: int, n: int) -> None:
    """Build one entry into a temp dir and rename it into place, so a run
    killed mid-build never leaves a half-written entry."""
    final = os.path.join(cache_root(root), f"{kind}-s{seed}-n{n}")
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    {"transcripts": _build_transcripts, "docs": _build_docs}[kind](tmp, seed, n)
    try:
        os.rename(tmp, final)
    except OSError:  # another run finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)


def transcripts(root: str, seed: int, n_turns: int) -> dict:
    """datagen transcripts (full payload mix, 8% megaconv-0 skew) with
    BOILER_SHARE of turns replaced by BOILERPLATE payloads, plus the
    matching expected table. Returns paths and planted counts."""
    d = _ensure(root, "transcripts", seed, n_turns)
    with open(os.path.join(d, "planted.json")) as f:
        planted = json.load(f)
    return {"transcripts": os.path.join(d, "transcripts.parquet"),
            "expected": os.path.join(d, "expected.parquet"), **planted}


def _build_transcripts(d: str, seed: int, n_turns: int) -> None:
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.functions.extractors import extract

    paths = generate_transcripts(d, n_turns=n_turns, seed=seed)
    tbl = pq.read_table(paths["transcripts"])
    exp = pq.read_table(paths["expected"])
    rng = np.random.default_rng([seed, 1])
    rows = rng.choice(n_turns, size=int(n_turns * BOILER_SHARE), replace=False)
    which = rng.integers(0, len(BOILERPLATE), size=len(rows))
    texts = tbl.column("text").to_pylist()
    cols = {c: exp.column(c).to_pylist() for c in
            ("expected_text", "expected_spans", "expected_mime", "expected_error")}
    for r, w in zip(rows.tolist(), which.tolist()):
        t = BOILERPLATE[w]
        res = extract(t)
        texts[r] = t
        cols["expected_text"][r] = res.extracted
        cols["expected_spans"][r] = [{"start": s, "end": e} for s, e in res.spans]
        cols["expected_mime"][r] = res.mime
        cols["expected_error"][r] = res.error
    tbl = tbl.set_column(tbl.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
    for c, v in cols.items():
        exp = exp.set_column(exp.schema.get_field_index(c), c, pa.array(v, exp.schema.field(c).type))
    pq.write_table(tbl, paths["transcripts"], row_group_size=10_000)
    pq.write_table(exp, paths["expected"])
    with open(os.path.join(d, "planted.json"), "w") as f:
        json.dump({"n_turns": n_turns, "boilerplate_turns": len(rows),
                   "megaconv_turns": int(n_turns * 0.08)}, f)


def _vocab() -> list[str]:
    # seed-independent pseudo-words: the vocabulary is part of the
    # workload's shape, the seed only picks which words a doc uses
    cons, vow = "bcdfghjklmnprstvz", "aeiou"
    rng = np.random.default_rng(0)
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(2, 4))
        words.add("".join(cons[rng.integers(len(cons))] + vow[rng.integers(len(vow))] for _ in range(n)))
    return sorted(words)


def curate_docs(root: str, seed: int, n_docs: int) -> dict:
    """A docs table (doc_id, text) with planted exact duplicates,
    near-duplicates and one hot gram. Returns the path and the planted
    id lists the output checks use."""
    d = _ensure(root, "docs", seed, n_docs)
    with open(os.path.join(d, "planted.json")) as f:
        planted = json.load(f)
    return {"docs": os.path.join(d, "docs.parquet"), **planted}


def _build_docs(d: str, seed: int, n_docs: int) -> None:
    vocab = np.array(_vocab())
    rng = np.random.default_rng([seed, 2])
    # Zipf-like word frequencies so the word LM sees a realistic
    # head and tail
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    p /= p.sum()
    n_exact, n_near = int(n_docs * EXACT_SHARE), int(n_docs * NEAR_SHARE)
    n_base = n_docs - n_exact - n_near
    docs = [list(vocab[rng.choice(len(vocab), size=int(rng.integers(40, 120)), p=p)])
            for _ in range(n_base)]
    # distinct sources; the hot gram goes only into docs that are no
    # copy's source, so exact copies stay byte-identical and near
    # copies keep their planted similarity
    sources = rng.choice(n_base, size=n_exact + n_near, replace=False).tolist()
    exact_pairs, near_pairs = [], []
    for src in sources[:n_exact]:
        exact_pairs.append((src, len(docs)))
        docs.append(list(docs[src]))
    for src in sources[n_exact:]:
        w = list(docs[src])
        for i in rng.choice(len(w), size=max(1, int(len(w) * NEAR_EDIT)), replace=False):
            w[i] = vocab[rng.integers(len(vocab))]
        near_pairs.append((src, len(docs)))
        docs.append(w)
    texts = [" ".join(w) for w in docs]
    others = np.setdiff1d(np.arange(n_base), sources)
    hot = rng.choice(others, size=int(n_docs * HOT_SHARE), replace=False)
    for i in hot.tolist():
        texts[i] = f"{texts[i]} {HOT_GRAM}"
    ids = [f"d{i:07d}" for i in range(len(texts))]
    order = rng.permutation(len(texts))  # planted copies are not adjacent
    pq.write_table(
        pa.table({"doc_id": pa.array([ids[i] for i in order]),
                  "text": pa.array([texts[i] for i in order])}),
        os.path.join(d, "docs.parquet"),
    )
    with open(os.path.join(d, "planted.json"), "w") as f:
        json.dump({
            "n_docs": len(texts),
            "exact_pairs": [(ids[a], ids[b]) for a, b in exact_pairs],
            "near_pairs": [(ids[a], ids[b]) for a, b in near_pairs],
            "hot_docs": sorted(ids[i] for i in hot.tolist()),
        }, f)


if __name__ == "__main__":
    _build(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
