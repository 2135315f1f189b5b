"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is cached
under ``<cache>/<workload>-s<seed>-<size>/``; a cache entry is built in a
temporary directory and renamed into place only when complete. The
program under test sees only these files.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dataquality_cli_spark.sources.synth import gen_corpus

CORPUS_COLS = ("repo", "path", "commit", "lang", "content")
ROW_GROUP_ROWS = 5000


def cached(cache_dir: str, workload: str, seed: int, size: str, build) -> str:
    """Directory holding the input for (workload, seed, size); ``build(d)``
    fills an empty directory ``d`` the first time."""
    final = os.path.join(cache_dir, f"{workload}-s{seed}-{size}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another process finished the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def write_corpus(rows: list[tuple], path: str) -> None:
    cols = list(zip(*rows)) if rows else [()] * len(CORPUS_COLS)
    table = pa.table({n: pa.array(list(c), pa.string())
                      for n, c in zip(CORPUS_COLS, cols)})
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def corpus_rows(n_files: int, seed: int) -> list[tuple]:
    return [(r.repo, r.path, r.commit, r.lang, r.content)
            for r in gen_corpus(n_files, seed=seed)]


# -- filter_files ----------------------------------------------------------

def filter_input(d: str, n_files: int, seed: int) -> None:
    """One parquet file of ``gen_corpus`` rows (11 strata, 30 % of files
    in two giant repos) in 5k-row groups."""
    write_corpus(corpus_rows(n_files, seed), os.path.join(d, "corpus.parquet"))


# -- build_corpus ----------------------------------------------------------

def _edit_one_line(content: str, rng: random.Random) -> str:
    lines = content.split("\n")
    filled = [i for i, line in enumerate(lines) if line.strip()]
    i = rng.choice(filled) if filled else 0
    lines[i] = lines[i] + f"  # rev {rng.randrange(10**6)}"
    return "\n".join(lines)


def build_input(d: str, n_base: int, seed: int,
                exact_share: float = 0.2, edited_share: float = 0.1) -> None:
    """``n_base`` synth files plus planted duplicates: ``exact_share`` of
    them copied byte for byte and ``edited_share`` copied with one line
    edited, each copy under its own (repo, path, commit)."""
    base = corpus_rows(n_base, seed)
    rng = random.Random(seed * 7919 + 1)
    picks = rng.sample(range(n_base), int(n_base * (exact_share + edited_share)))
    n_exact = int(n_base * exact_share)
    rows = list(base)
    for k, i in enumerate(picks):
        repo, path, _commit, lang, content = base[i]
        edited = k >= n_exact
        if edited:
            content = _edit_one_line(content, rng)
        kind = "edit" if edited else "copy"
        commit = hashlib.sha1(f"{seed}:{kind}:{k}".encode()).hexdigest()
        rows.append((f"mirror{k % 7}/{repo.split('/')[-1]}", path, commit, lang, content))
    rng.shuffle(rows)
    write_corpus(rows, os.path.join(d, "corpus.parquet"))


# -- stream_filter ---------------------------------------------------------

def stream_input(d: str, n_files: int, rows_per_file: int, seed: int) -> None:
    """``n_files`` parquet files of ``rows_per_file`` rows with strictly
    increasing modification times, so micro-batch order is the file order."""
    rows = corpus_rows(n_files * rows_per_file, seed)
    base = 1_600_000_000
    for i in range(n_files):
        p = os.path.join(d, f"part{i:04d}.parquet")
        write_corpus(rows[i * rows_per_file:(i + 1) * rows_per_file], p)
        os.utime(p, (base + i, base + i))


# -- describe_csv ----------------------------------------------------------

DESCRIBE_COLS = ("id", "user", "category", "status", "amount", "qty",
                 "score", "city", "code", "flag", "note")


def describe_file(path: str, n_rows: int, file_seed: int) -> None:
    """One CSV shaped like bench.py's describe corpus (11 mixed numeric and
    string columns), drawn from its own seed."""
    rng = np.random.default_rng(file_seed)
    n = n_rows
    cols = [
        range(n),
        (f"user_{v}" for v in rng.integers(0, 5000, n).tolist()),
        rng.choice(["alpha", "beta", "gamma", "delta", "epsilon"], n).tolist(),
        rng.choice(["ok", "fail", "retry", ""], n, p=[.7, .1, .1, .1]).tolist(),
        (f"{v:.2f}" for v in rng.lognormal(3, 1, n).tolist()),
        rng.integers(1, 100, n).tolist(),
        (f"{v:.4f}" for v in rng.uniform(0, 1, n).tolist()),
        rng.choice(["london", "paris", "tokyo", "lima", "oslo", "cairo"], n).tolist(),
        (f"C{v}" for v in rng.integers(100000, 999999, n).tolist()),
        rng.choice(["true", "false"], n).tolist(),
        rng.choice(["", "checked", "manual review", "auto"], n).tolist(),
    ]
    line = ",".join(["{}"] * len(cols)).format
    with open(path, "w") as f:
        f.write(",".join(DESCRIBE_COLS) + "\n")
        f.write("\n".join(line(*row) for row in zip(*cols)))
        f.write("\n")


def describe_input(d: str, n_files: int, n_rows: int, seed: int) -> None:
    for i in range(n_files):
        describe_file(os.path.join(d, f"part_{i:03d}.csv"), n_rows,
                      file_seed=seed * 100_003 + i)
