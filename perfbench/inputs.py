"""Seeded benchmark inputs, generated once per seed and cached on disk.

Two input sets:

- ``contract``: the code-table fixture from ``fixtures/generate.py`` (two
  snapshots plus the commits dim) and its pandas golden violation key-sets.
- ``leaf``: the ``documents`` and ``embeddings`` tables the swept registry
  queries read, drawn from the seed at a fixed scale factor. The generator
  is fitted to figures measured on the sf0.001-sf0.1 testdata tables; they
  are listed in ``perfbench/README.md``.

Run as a script to generate one set into a directory (the benchmark does
this in a child process, so generation never counts in the benchmark's RSS):

    python3 perfbench/inputs.py contract <seed> <out_dir>
    python3 perfbench/inputs.py leaf <seed> <out_dir>
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pandas as pd

# Contract fixture size: ~44k s2 rows (six 8192-row row groups, so the s2
# scan runs on every core of a 4-core host) with ~440 injected 1 MB content
# outliers. On a 4-core host the per-row scan, derive and check work is
# ~17% of the first batched contract call (median 23.5 s at 4k files,
# 28.2 s at 40k, three seeds with the sizes alternating); the rest is fixed
# per-job and code-generation cost.
CONTRACT_FILES = 40_000
CONTRACT_REPOS = 64
# Leaf tables at the row counts of testdata sf0.05 (documents 2.5k,
# embeddings 1k).
LEAF_SF = 0.05

# golden key-set name (fixtures/generate.py) -> violating check_name of
# default_contract(), as paired in tests/test_stats_checks.py and
# tests/test_keyed_checks.py
GOLDEN_CHECKS = {
    "uniqueness": "uniqueness",
    "ref_integrity": "ref_integrity",
    "null_content": "null_rate_content",
    "empty_content": "empty_content",
    "length_outlier": "bounds_content_length",
    "null_lang": "null_rate_lang",
}


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# ---------------------------------------------------------------- contract


def write_contract_inputs(seed: int, out: str) -> None:
    sys.path.insert(0, _repo_root())
    from fixtures.generate import _sha, generate, write_fixture

    fx = generate(n_files=CONTRACT_FILES, n_repos=CONTRACT_REPOS, seed=seed)
    write_fixture(fx, out)
    golden = {
        GOLDEN_CHECKS[k]: sorted(map(list, fx.golden[k])) for k in GOLDEN_CHECKS
    }
    with open(os.path.join(out, "golden.json"), "w") as f:
        json.dump(golden, f)
    # golden violation ROW counts: s2 rows whose key is in a golden key-set
    # (a duplicate group's rows share one key)
    s2 = fx.s2
    keys = list(zip(s2["repo"], s2["path"], s2["commit"], s2["content"].map(_sha)))
    golden_rows = {
        check: sum(k in fx.golden[name] for k in keys)
        for name, check in GOLDEN_CHECKS.items()
    }
    meta = {
        "seed": seed,
        "n_files": CONTRACT_FILES,
        "n_repos": CONTRACT_REPOS,
        "s1_rows": len(fx.s1),
        "s2_rows": len(fx.s2),
        "commits_rows": len(fx.commits),
        "golden_rows": golden_rows,
        "bytes": dir_stats(out)[1],
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


# -------------------------------------------------------------------- leaf

# The testdata documents' vocabulary: every word of every non-duplicate
# document is drawn uniformly from these 30 words.
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def leaf_frames(seed: int, sf: float = LEAF_SF) -> dict[str, pd.DataFrame]:
    """The two registry tables the swept leaves read, fitted to the testdata
    tables: ``documents`` (10-100 uniform words, exactly 5% of the rows
    overwritten by another row's text plus " dup") and ``embeddings``
    (uniformly random unit 64-d vectors, labels 0-9 independent of them)."""
    rng = np.random.default_rng(seed)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t: dict[str, pd.DataFrame] = {}
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(_LANGS, dtype=object)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs.astype(np.float32)),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_leaf_inputs(seed: int, out: str) -> None:
    frames = leaf_frames(seed)
    os.makedirs(out, exist_ok=True)
    for name, df in frames.items():
        # one row group per table, like the testdata parquet files
        df.to_parquet(
            os.path.join(out, f"{name}.parquet"), index=False,
            row_group_size=len(df),
        )
    meta = {
        "seed": seed,
        "sf": LEAF_SF,
        "rows": {k: len(v) for k, v in frames.items()},
        "bytes": dir_stats(out)[1],
    }
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)


# ------------------------------------------------------------------- cache


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(number of files, total bytes) under path whose names end in suffix."""
    sizes = [
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(suffix)
    ]
    return len(sizes), sum(sizes)


def ensure(kind: str, seed: int, cache_dir: str) -> tuple[str, float]:
    """Return (input dir, seconds spent generating; 0.0 on a cache hit).
    Generation runs in a child process and lands atomically by rename."""
    out = os.path.join(cache_dir, f"{kind}-seed{seed}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out, 0.0
    t0 = time.perf_counter()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), kind, str(seed), tmp],
        check=True, stdout=subprocess.DEVNULL,
    )
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, time.perf_counter() - t0


def load_meta(path: str) -> dict:
    with open(os.path.join(path, "meta.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    kind, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    {"contract": write_contract_inputs, "leaf": write_leaf_inputs}[kind](seed, out)
