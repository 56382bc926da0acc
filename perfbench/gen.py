"""Seeded input generators for the benchmark.

Everything here is numpy on the driver side: the engine under test only
ever sees the parquet tables written by :func:`cached_inputs`, and the
oracles in ``oracle.py`` read the same arrays back.  The program's own
``synthetic_repo_files`` is deliberately not used: it takes no seed and
its import targets are fixed by the row id.

Two graph shapes, both "file imports file" graphs over
``n_repos x files_per_repo`` files, each file importing 0..max_imports
distinct other files:

- ``uniform``: every import target is a uniformly random file (cross-repo
  almost always), so PageRank keeps a full frontier for all supersteps;
- ``zipf``: with probability ``local_frac`` an import goes to a file at
  distance 1..local_window inside the same repo (which closes triangles);
  otherwise the provider repo and the file inside it are both drawn from
  Zipf(s) popularity, which makes hub files with very large in-degree.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np


def _rng(seed: int, params: dict) -> np.random.Generator:
    # the parameters join the seed so two workloads with one seed differ
    key = json.dumps(params, sort_keys=True).encode()
    mix = int.from_bytes(hashlib.sha256(key).digest()[:8], "little")
    return np.random.default_rng([int(seed), mix])


def _zipf_pick(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from ranks 0..n-1 with P(rank r) proportional to 1/(r+1)^s."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1) ** s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(size), side="right"), n - 1)


def import_graph(
    seed: int,
    n_repos: int,
    files_per_repo: int,
    max_imports: int,
    shape: str = "uniform",
    zipf_s: float = 1.1,
    local_frac: float = 0.5,
    local_window: int = 3,
) -> tuple[np.ndarray, np.ndarray, int]:
    """Distinct directed file->file edges ``(src, dst)`` as dense file
    indices in ``[0, n_files)``, no self-loops, sorted by (src, dst)."""
    params = dict(
        n_repos=n_repos, files_per_repo=files_per_repo, max_imports=max_imports,
        shape=shape, zipf_s=zipf_s, local_frac=local_frac, local_window=local_window,
    )
    rng = _rng(seed, params)
    n = n_repos * files_per_repo
    src = np.repeat(np.arange(n, dtype=np.int64), rng.integers(0, max_imports + 1, size=n))
    m = src.size
    if shape == "uniform":
        dst = rng.integers(0, n, size=m, dtype=np.int64)
    elif shape == "zipf":
        # popularity rank -> repo / file through seeded permutations, so
        # the hubs are not simply the lowest ids
        repo_of_rank = rng.permutation(n_repos)
        file_of_rank = rng.permutation(files_per_repo)
        repo = repo_of_rank[_zipf_pick(rng, n_repos, zipf_s, m)]
        fidx = file_of_rank[_zipf_pick(rng, files_per_repo, zipf_s, m)]
        dst = repo.astype(np.int64) * files_per_repo + fidx
        local = rng.random(m) < local_frac
        off = rng.integers(1, local_window + 1, size=m) * np.where(rng.random(m) < 0.5, -1, 1)
        near = (src // files_per_repo) * files_per_repo + (src % files_per_repo + off) % files_per_repo
        dst = np.where(local, near, dst)
    else:
        raise ValueError(f"unknown shape {shape!r}")
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n, n


def vertex_ids(seed: int, n: int) -> np.ndarray:
    """A seeded injective map from file index to a 63-bit vertex id, so
    id order (which label propagation and WCC results depend on) is
    unrelated to the generator's structure."""
    rng = _rng(seed, {"ids": n})
    ids = np.unique(rng.integers(1, 1 << 62, size=n + n // 8 + 16, dtype=np.int64))
    return rng.permutation(ids)[:n]


# ---------------------------------------------------------------------------
# raw (repo, path, commit, lang, content) table for the extraction layer
# ---------------------------------------------------------------------------

_EXT = {"python": "py", "java": "java", "javascript": "js"}
_LANGS = ("python", "java", "javascript")
# imports with no provider file in the table: parsed, then dropped by the join
_UNRESOLVED = {
    "python": ("import os", "from typing import Any"),
    "java": ("import java.util.List;",),
    "javascript": ("const fs = require('fs');", "import path from 'path';"),
}


def _import_line(lang: str, module: str, variant: int) -> str:
    if lang == "python":
        return f"import {module}" if variant else f"from {module} import helper"
    if lang == "java":
        return f"import {module};" if variant else f"import static {module};"
    if variant:
        return f"const {module} = require('{module}');"
    return f"import {{ run }} from '{module}';"


def repo_table(seed: int, n_repos: int, files_per_repo: int, max_imports: int):
    """Rows of a source-repo table plus the file->file edge list its
    imports resolve to.

    Returns ``(columns, edges)``: ``columns`` maps repo/path/commit/lang/
    content to python lists, ``edges`` is the set of distinct
    ``(src_file, dst_file)`` names with ``name = repo + "::" + path``.
    Module names are the file stems ``m<repo>_<idx>``, unique across the
    table, so every import resolves to exactly one provider."""
    src, dst, n = import_graph(seed, n_repos, files_per_repo, max_imports, "uniform")
    rng = _rng(seed, {"repo_table": n})
    lang_of = rng.integers(0, len(_LANGS), size=n)
    variant = rng.integers(0, 2, size=src.size)
    unresolved = rng.random(n) < 0.3
    commits = [rng.bytes(20).hex() for _ in range(n_repos)]
    repos, paths, langs, contents, names = [], [], [], [], []
    starts = np.searchsorted(src, np.arange(n + 1))
    for f in range(n):
        r, i = divmod(f, files_per_repo)
        lang = _LANGS[lang_of[f]]
        repo = f"org{r % 97}/repo{r:05d}"
        path = f"src/pkg{i % 7}/m{r}_{i}.{_EXT[lang]}"
        lines = [
            _import_line(lang, f"m{t // files_per_repo}_{t % files_per_repo}", variant[j])
            for j, t in zip(range(starts[f], starts[f + 1]), dst[starts[f]:starts[f + 1]])
        ]
        if unresolved[f]:
            lines.insert(0, _UNRESOLVED[lang][f % len(_UNRESOLVED[lang])])
        body = f"// file {f} of repo {r}\n" + "\n".join(lines) + f"\n\nvalue_{f} = {f * 7 % 1000}\n"
        repos.append(repo)
        paths.append(path)
        langs.append(lang)
        contents.append(body)
        names.append(f"{repo}::{path}")
    columns = {
        "repo": repos,
        "path": paths,
        "commit": [commits[f // files_per_repo] for f in range(n)],
        "lang": langs,
        "content": contents,
    }
    edges = (np.asarray(names, dtype=object)[src], np.asarray(names, dtype=object)[dst])
    return columns, edges


# ---------------------------------------------------------------------------
# input cache
# ---------------------------------------------------------------------------


def cached_inputs(work_dir: str, name: str, seed: int, params: dict, build) -> str:
    """Directory holding the inputs for ``(name, seed, params)``; calls
    ``build(dir)`` to write them only when they are not cached yet.
    The directory is published by an atomic rename, so a killed run
    never leaves a half-written cache entry behind."""
    key = hashlib.sha256(json.dumps([name, seed, params], sort_keys=True).encode()).hexdigest()[:16]
    final = os.path.join(work_dir, "inputs", f"{name}-s{seed}-{key}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run published the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return final
