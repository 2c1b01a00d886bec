"""Workload definitions and seeded input generators.

Inputs are generated here with numpy, never by graftpark, so the
correctness references in ``reference.py`` see exactly the data the
engine is given.  Each generated input is cached under a key of
(generator, size, seed) together with the sha256 of every file; a cached
input is reused only when its checksums still match.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: graphs with more vertices than this take the packed (block) path under
#: ``strategy="auto"``.  At the library default (1M) one packed kernel call
#: alone outlasts the time a run may take on 4 cores, so the benchmark
#: lowers the crossover and sizes one input on each side of it.
BROADCAST_V_LIMIT = 10_000

# name -> spec.  "kernels" run in this order after set-up, once per round.
WORKLOADS = {
    # the corpus input path on the dataframe strategy: corpus -> graph,
    # per-superstep Catalyst loop, join-based triangles, MIS coloring
    "corpus": {
        "generator": "corpus",
        "size": {"repos": 6_000, "edges": 6_000},
        "kernels": ["pagerank", "triangles", "coloring"],
        "superstep_kernels": ["pagerank"],
        "packed": False,
    },
    # the packed block path over symmetrized blocks (int64 min and mode
    # semirings) with a durable checkpoint after every superstep
    "powerlaw-sym-ckpt": {
        "generator": "powerlaw",
        "size": {"ids": 15_000, "edges": 150_000},
        "kernels": ["components", "labelprop", "resume"],
        "superstep_kernels": ["components", "resume"],
        "packed": True,
    },
}

_LANGS = ("python", "javascript", "go")
_EXT = {"python": "py", "javascript": "js", "go": "go"}


def powerlaw_edges(n_edges: int, n_ids: int, seed: int) -> np.ndarray:
    """Directed edges with truncated power-law out- and in-degrees.

    Returns an (E, 2) int64 array of distinct (src, dst) pairs, ids in
    1..n_ids, no self-loops, in a seed-determined order.
    """
    rng = np.random.default_rng(seed)
    m = int(n_edges * 1.4)

    def draw(s: float) -> np.ndarray:
        u = rng.random(m)
        return np.clip(np.ceil(n_ids * u ** (1.0 / (1.0 - s))).astype(np.int64), 1, n_ids)

    src = draw(0.7)
    # rotate the in-degree ranking so hub sinks are not hub sources
    dst = (draw(0.5) + n_ids // 2 - 1) % n_ids + 1
    keep = src != dst
    pairs = np.stack([src[keep], dst[keep]], axis=1)
    _, first = np.unique(pairs[:, 0] * (n_ids + 1) + pairs[:, 1], return_index=True)
    pairs = pairs[np.sort(first)][:n_edges]
    if len(pairs) < n_edges:
        raise ValueError(f"generator produced {len(pairs)} < {n_edges} distinct edges")
    return pairs


#: the graph shape of a workload is fixed; ``--seed`` picks its labelling
#: (which id each vertex gets), the edge order and the corpus text.  Seeds
#: then differ in ids, partitioning and tie-breaks but not in superstep or
#: color counts, so timings compare across seeds.
SHAPE_SEED = 20_261_017


def relabeled_powerlaw_edges(n_edges: int, n_ids: int, seed: int) -> np.ndarray:
    """The workload's fixed power-law graph under a seed-chosen random
    relabelling of its ids, in a seed-chosen edge order."""
    rng = np.random.default_rng(seed)
    perm = rng.permutation(n_ids) + 1
    edges = perm[powerlaw_edges(n_edges, n_ids, SHAPE_SEED) - 1]
    return edges[rng.permutation(len(edges))]


def repo_name(i: int) -> str:
    return f"repo_{i:06d}"


def _import_line(lang: str, target: str) -> str:
    if lang == "python":
        return f"import {target}"
    if lang == "javascript":
        return f"const m_{target} = require('{target}');"
    return f'import "{target}"'


def corpus_rows(n_repos: int, n_edges: int, seed: int) -> tuple[pa.Table, np.ndarray]:
    """Corpus table ``(repo, path, commit, lang, content)`` planting a
    power-law repo->repo import graph, plus the planted edges.

    Every repo has a file, so every repo is a vertex.  Repos with many
    imports spread them over two files, and every file also imports a
    few modules that are not repos, which the extractor must ignore.
    """
    rng = np.random.default_rng(seed + 17)
    edges = relabeled_powerlaw_edges(n_edges, n_repos, seed)
    langs = rng.integers(0, len(_LANGS), n_repos + 1)
    order = np.lexsort((edges[:, 1], edges[:, 0]))
    src, dst = edges[order, 0], edges[order, 1]
    starts = np.searchsorted(src, np.arange(1, n_repos + 2))
    cols: dict[str, list] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    for r in range(1, n_repos + 1):
        lang = _LANGS[langs[r]]
        name = repo_name(r)
        targets = [repo_name(int(d)) for d in dst[starts[r - 1]:starts[r]]]
        files = [targets] if len(targets) <= 8 else [targets[::2], targets[1::2]]
        for k, tg in enumerate(files):
            header = _import_line(lang, "os" if lang != "javascript" else "fs")
            body = "\n".join(_import_line(lang, t) for t in tg)
            cols["repo"].append(name)
            cols["path"].append(f"src/{name}/{'main' if k == 0 else 'util'}.{_EXT[lang]}")
            cols["commit"].append(f"{(r * 2654435761 + seed) & 0xFFFFFFFFFFFF:012x}")
            cols["lang"].append(lang)
            cols["content"].append(f"// {name} module {k}\n{header}\n{body}\nVALUE = {r % 1009}\n")
    return pa.table(cols), edges


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _verified(entry: str) -> bool:
    try:
        with open(os.path.join(entry, "checksums.json")) as f:
            sums = json.load(f)
    except (OSError, ValueError):
        return False
    return bool(sums) and all(
        os.path.isfile(os.path.join(entry, name)) and _sha256(os.path.join(entry, name)) == digest
        for name, digest in sums.items()
    )


def prepare_input(cache_root: str, workload: str, seed: int) -> dict:
    """Generate (or reuse a verified cached copy of) a workload's input.

    Returns ``{"dir", "data", "edges", "n_edges", "n_ids"}`` where
    ``data`` is the parquet the engine reads and ``edges`` the planted
    directed edge list as .npy, for the references.
    """
    spec = WORKLOADS[workload]
    gen, size = spec["generator"], spec["size"]
    key = (f"{gen}-" + "-".join(f"{k}{v}" for k, v in sorted(size.items()))
           + f"-shape{SHAPE_SEED}-seed{seed}")
    entry = os.path.join(cache_root, key)
    if not _verified(entry):
        shutil.rmtree(entry, ignore_errors=True)
        tmp = entry + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        if gen == "corpus":
            table, edges = corpus_rows(size["repos"], size["edges"], seed)
        else:
            edges = relabeled_powerlaw_edges(size["edges"], size["ids"], seed)
            table = pa.table({"src": edges[:, 0], "dst": edges[:, 1]})
        pq.write_table(table, os.path.join(tmp, "data.parquet"), row_group_size=1 << 16)
        np.save(os.path.join(tmp, "edges.npy"), edges)
        sums = {n: _sha256(os.path.join(tmp, n)) for n in ("data.parquet", "edges.npy")}
        with open(os.path.join(tmp, "checksums.json"), "w") as f:
            json.dump(sums, f)
        os.replace(tmp, entry)
    edges = np.load(os.path.join(entry, "edges.npy"))
    return {
        "dir": entry,
        "data": os.path.join(entry, "data.parquet"),
        "edges": edges,
        "n_edges": int(len(edges)),
        "n_ids": int(size.get("ids", size.get("repos"))),
    }
