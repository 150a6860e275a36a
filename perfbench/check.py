"""Output checks, run after the timed calls.

- An entry with a `SparkEntry.oracleSql` twin must equal the twin's
  DuckDB result over the same tables, compared in the canonical form of
  tools/verify_local.py (columns by name, rows sorted, exact values and
  dtypes).
- A rows-only entry must have the row count pinned in pins.json.
- READ must reproduce the source file byte for byte.
- Both MapReduce forms must equal the word counts the generator recorded.

Each check returns {call name: None if it passed, else a reason}.
"""
import glob
import json
import re
import sys
from pathlib import Path

import duckdb
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent / "tools"))
from verify_local import TABLES, canon  # noqa: E402

PINS = HERE / "pins.json"
DUCKDB_MEMORY = "2GB"


def ctes(sql):
    """Splits "WITH a AS (...), b AS (...) SELECT ..." into ([(a, ...),
    (b, ...)], "SELECT ..."), or returns None for any other shape."""
    m = re.match(r"\s*WITH\s+(?!RECURSIVE\b)", sql, re.I)
    if not m:
        return None
    defs, i = [], m.end()
    while True:
        d = re.compile(r"\s*(\w+)\s+AS\s*\(", re.I).match(sql, i)
        if not d:
            return None
        depth, j = 1, d.end()
        while depth and j < len(sql):
            depth += {"(": 1, ")": -1}.get(sql[j], 0)
            j += 1
        if depth:
            return None
        defs.append((d.group(1), sql[d.end():j - 1]))
        comma = re.compile(r"\s*,").match(sql, j)
        if not comma:
            return defs, sql[j:]
        i = comma.end()


def oracle(con, sql):
    """Runs an oracle query, evaluating each top-level CTE once into a temp
    table: DuckDB inlines CTEs, and re-evaluating them makes some twins
    (q74's four PageRank rounds) outgrow memory at sf0.1."""
    split = ctes(sql)
    if split is None:
        return con.sql(sql).df()
    defs, body = split
    for name, q in defs:
        con.sql(f"CREATE OR REPLACE TEMP TABLE {name} AS {q}")
    return con.sql(body).df()


def mismatch(got, exp):
    """Why two result frames differ in canonical form, or None."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} vs {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    got, exp = canon(got), canon(exp)
    dt = [(c, str(got[c].dtype), str(exp[c].dtype)) for c in got.columns
          if str(got[c].dtype) != str(exp[c].dtype)]
    if dt:
        return f"dtypes {dt}"
    try:
        pd.testing.assert_frame_equal(got, exp, check_exact=True)
    except AssertionError as e:
        return "values: " + " ".join(str(e).split())[:300]
    return None


def entries(out_dir, data_dir, names, oracle_sql, pins_key):
    """Checks each entry's parquet output under out_dir/entries/<name>."""
    pins = json.loads(PINS.read_text()).get(pins_key, {})
    verdict = {}
    for name in names:
        con = duckdb.connect()
        con.sql(f"SET memory_limit = '{DUCKDB_MEMORY}'")
        con.sql(f"SET temp_directory = '{out_dir}/duckdb.tmp'")
        con.sql("SET max_temp_directory_size = '4GB'")
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        files = sorted(glob.glob(f"{out_dir}/entries/{name}/*.parquet"))
        if not files:
            verdict[name] = "no output"
            continue
        scan = f"read_parquet({files!r})"
        try:
            if name in oracle_sql:
                verdict[name] = mismatch(con.sql(f"SELECT * FROM {scan}").df(),
                                         oracle(con, oracle_sql[name]))
            else:
                rows = con.sql(f"SELECT count(*) FROM {scan}").fetchone()[0]
                want = pins.get(name)
                verdict[name] = (None if rows == want else
                                 f"rows {rows}, pinned {want}")
        except Exception as e:  # an unreadable output fails its call
            verdict[name] = f"{type(e).__name__}: {e}"[:300]
    return verdict


def word_counts(text_dir):
    """{word: count} from a word-count output dataset of "word,n" lines,
    or a reason string if a word repeats or a line is malformed."""
    counts = {}
    for f in sorted(glob.glob(f"{text_dir}/part-*")):
        for line in Path(f).read_text().splitlines():
            word, _, n = line.rpartition(",")
            if not word or not n.isdigit() or word in counts:
                return f"bad line {line!r}"
            counts[word] = int(n)
    return counts


def dfs(out_dir, src, expected_counts):
    """Checks the four verbs' outputs under out_dir/dfs and out_dir/read.txt."""
    read = Path(out_dir) / "read.txt"
    verdict = {
        "dfs_write": None if glob.glob(f"{out_dir}/dfs/corpus/part-*")
        else "no chunks",
        "dfs_read": None if read.exists() and
        read.read_bytes() == Path(src).read_bytes()
        else "READ differs from the source",
    }
    for call, d in (("mr_pipe", "corpus_out"), ("mr_closure", "corpus_closure")):
        got = word_counts(f"{out_dir}/dfs/{d}")
        verdict[call] = (None if got == expected_counts else
                         got if isinstance(got, str) else
                         f"{len(got)} words, {len(expected_counts)} expected")
    return verdict


def corrupt(out_dir, name):
    """Damages one call's output on purpose, to show the check catches it."""
    if name == "dfs_read":
        with open(Path(out_dir) / "read.txt", "ab") as f:
            f.write(b"x")
    elif name in ("dfs_write", "mr_pipe", "mr_closure"):
        d = {"dfs_write": "corpus", "mr_pipe": "corpus_out",
             "mr_closure": "corpus_closure"}[name]
        for f in glob.glob(f"{out_dir}/dfs/{d}/part-*"):
            Path(f).unlink()
    else:
        files = sorted(glob.glob(f"{out_dir}/entries/{name}/*.parquet"))
        df = duckdb.sql(f"SELECT * FROM read_parquet({files!r})").df()
        for f in files:
            Path(f).unlink()
        df.iloc[1:].to_parquet(f"{out_dir}/entries/{name}/part-corrupt.parquet")
