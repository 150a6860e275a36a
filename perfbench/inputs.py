"""Benchmark inputs: the committed sf0.01 and sf0.1 tables, the 10x corpus
built from sf0.1 by the repo's own tools/make_scale_corpus.py, and the
seeded Zipf-word text for the DFS/MapReduce verbs."""
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np

HERE = Path(__file__).resolve().parent
SF01 = HERE / "data" / "sf0.1"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# Zipf text: a 32 MB, 600k-line shape (about 53 bytes a line) scaled down
# so one pass of the four verbs fits a run.
TEXT_LINES = 75_000
TEXT_VOCAB = 50_000
TEXT_ZIPF_S = 1.1


def tree_hash(paths):
    """sha256 over the names and bytes of `paths`, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(p.name.encode())
        with open(p, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
    return h.hexdigest()


def table_files(d):
    return [Path(d) / f"{t}.parquet" for t in TABLES]


def describe(d):
    """Content hash and byte size of a table directory."""
    files = table_files(d)
    return {"dir": str(d), "sha256": tree_hash(files),
            "bytes": sum(p.stat().st_size for p in files)}


def committed(name):
    """One of the table sets committed under data/ (sf0.1, sf0.01)."""
    return describe(HERE / "data" / name)


def corpus10x(work, root):
    """The 10x corpus, rebuilt whenever its content hash differs from the
    one recorded when it was built (or the recipe that built it changed)."""
    out = Path(work) / "sf10x"
    stamp = out / "content.json"
    script = Path(root) / "tools" / "make_scale_corpus.py"
    recipe = tree_hash([script] + table_files(SF01))
    if stamp.exists():
        recorded = json.loads(stamp.read_text())
        if recorded.get("recipe") == recipe and all(
                p.exists() for p in table_files(out)):
            now = describe(out)
            if now["sha256"] == recorded["sha256"]:
                return now
    shutil.rmtree(out, ignore_errors=True)
    subprocess.run([sys.executable, str(script), str(SF01), str(out)],
                   check=True, stdout=subprocess.DEVNULL)
    now = describe(out)
    stamp.write_text(json.dumps({"recipe": recipe, **now}))
    return now


def zipf_words():
    """Vocabulary by frequency rank: distinct lower-case pseudo-words."""
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
            "do", "gu", "he", "ji", "bo", "fe"]
    words = []
    for r in range(TEXT_VOCAB):
        w, n = "", r + 1
        while n:
            n, d = divmod(n, len(syll))
            w += syll[d]
        words.append(w)
    return words


def zipf_text(work, seed):
    """Writes the seed's text file; returns its path, size, hash and the
    word counts a correct word count must reproduce."""
    d = Path(work) / "text"
    path = d / f"zipf-{seed}.txt"
    meta = d / f"zipf-{seed}.json"
    if path.exists() and meta.exists():
        m = json.loads(meta.read_text())
        if tree_hash([path]) == m["sha256"]:
            return path, m
    d.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, TEXT_VOCAB + 1) ** TEXT_ZIPF_S
    lengths = rng.integers(4, 13, size=TEXT_LINES)
    ranks = rng.choice(TEXT_VOCAB, size=int(lengths.sum()), p=p / p.sum())
    vocab = np.array(zipf_words())
    tokens = vocab[ranks]
    ends = np.cumsum(lengths)
    lines = (" ".join(tokens[e - n:e]) for e, n in zip(ends, lengths))
    path.write_text("\n".join(lines) + "\n")
    counts = np.bincount(ranks, minlength=TEXT_VOCAB)
    m = {"sha256": tree_hash([path]), "bytes": path.stat().st_size,
         "lines": TEXT_LINES,
         "counts": {vocab[i]: int(c) for i, c in enumerate(counts) if c}}
    meta.write_text(json.dumps(m))
    return path, m
