"""Seeded benchmark inputs: NumPy + pyarrow only, one process, no Spark.

Every input is a pure function of ``(workload, seed)`` and the size
constants below, so the same seed always yields byte-identical parquet
files. The program under test receives only these files (for
incremental-refresh including its base state, computed by the NumPy
reference); the ``truth/`` files are read by the benchmark's own checks.

Inputs are cached under ``<cache_root>/<workload>-s<seed>-v<GEN_VERSION>``;
a directory counts as complete once its ``props.json`` exists (it is
written last).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from reference import connected_components, pagerank

GEN_VERSION = 2

# PageRank's adjacency chunk size (linkgraph.partitioning.DEFAULT_CHUNK_SIZE):
# out-hubs are sized above it so the salting path runs.
CHUNK_SIZE = 4096

# Where each shape parameter comes from. "cited" values come from the
# source named beside them; "assumed" values are unverified choices with
# no measured or published figure behind them (perfbench/README.md lists
# them too).

# -- power-law link graph (pagerank-cold, incremental-refresh) -------------
# Size, not shape: about 0.8M edges, so linkgraph.graph.choose_partitions
# (TARGET_EDGES_PER_PARTITION = 250k) runs the PageRank loop on 4
# partitions -- one per core of a 4-core local[4] master -- and the
# symmetrized CC loop on 7.
PL_VERTICES = 107_000
# cited: Broder et al., "Graph structure in the Web" (WWW9 / Computer
# Networks 33, 2000): 1.5 billion links over some 200 million pages, i.e.
# about 7.5 out-links per page on average (dangling pages included).
PL_MEAN_OUT = 7.5
# assumed: share of vertices with no out-edges (pages never crawled or
# without links); the geometric out-degree of the others is also assumed.
PL_DANGLING = 0.3
# cited: Broder et al. (above) fit the web's in-degree distribution with a
# power law of exponent 2.1. Expected in-degree ~ rank^-s gives a degree
# exponent of 1 + 1/s, so s = 1 / (2.1 - 1).
PL_ZIPF = 1 / 1.1
# by design, not a traffic estimate: a few out-hubs above CHUNK_SIZE so
# the hub-salting path runs.
PL_OUT_HUBS = (5_000, 9_000, 13_000)
# assumed: the 1% delta of the warm-refresh probe this workload was
# specified from (2.15M edges, 16 warm supersteps); no measured refresh
# size backs it.
DELTA_SHARE = 0.01
# assumed: how many of the delta's endpoints are newly ingested vertices.
DELTA_NEW_VERTICES = 100

# -- code_files corpus (corpus-structure) -----------------------------------
# All assumed: no measured import graph of a code corpus backs these.
CORPUS_REPOS = 140
CORPUS_FILES_PER_REPO = 100
CORPUS_MEAN_IMPORTS = 4.0
CORPUS_LOCAL_SHARE = 0.6     # imports that stay inside the importing repo
CORPUS_MISSING_SHARE = 0.1   # imports naming a file that does not exist
CORPUS_ZIPF = 1.1            # popularity of cross-repo import targets
CORPUS_FILLER_LINES = (20, 60)

LANGS = np.array(["python", "java", "go", "rust", "scala"])
_WORDS = np.array(
    "def class return static void func let mut pub fn val table join scan "
    "hash sort merge shuffle partition vertex edge rank label component "
    "triangle graph superstep message combine".split()
)

WORKLOADS = ("pagerank-cold", "corpus-structure", "incremental-refresh")


_STREAMS = {"power-law": 1, "delta": 2, "corpus": 3}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream)."""
    return np.random.default_rng([int(seed), _STREAMS[stream]])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _edge_table(src: np.ndarray, dst: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(src, pa.int64()), "dst": pa.array(dst, pa.int64())})


def _pair_keys(src: np.ndarray, dst: np.ndarray, m: int) -> np.ndarray:
    """One int64 per (src, dst) pair of non-negative ids below ``m``."""
    return src.astype(np.int64) * m + dst


def dedup_edges(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs without self-loops, sorted by (src, dst)."""
    keep = src != dst
    m = int(max(src.max(), dst.max())) + 1
    keys = np.unique(_pair_keys(src[keep], dst[keep], m))
    return keys // m, keys % m


def power_law_edges(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Directed graph with Zipf in-degree and a few out-hubs above
    CHUNK_SIZE. Vertex ids are a seeded permutation of 0..N-1 (scaled so
    they are not dense), so neither partitioning nor the reference can
    lean on id order."""
    rng = _rng(seed, "power-law")
    n = PL_VERTICES
    ids = rng.permutation(n).astype(np.int64) * 7 + 3
    # non-dangling vertices carry the whole mean out-degree
    outdeg = rng.geometric((1.0 - PL_DANGLING) / PL_MEAN_OUT, size=n)
    outdeg[rng.random(n) < PL_DANGLING] = 0
    hubs = rng.choice(n, size=len(PL_OUT_HUBS), replace=False)
    outdeg[hubs] = PL_OUT_HUBS
    src_idx = np.repeat(np.arange(n), outdeg)
    weights = (np.arange(1, n + 1, dtype=np.float64)) ** -PL_ZIPF
    popular = rng.permutation(n)
    dst_idx = popular[
        np.searchsorted(np.cumsum(weights / weights.sum()), rng.random(len(src_idx)))
        .clip(0, n - 1)
    ]
    # a hub's targets are uniform, not Zipf: a Zipf sample of 13k draws
    # would collapse onto a few hundred popular vertices after dedup
    hub_rows = np.isin(src_idx, hubs)
    dst_idx[hub_rows] = rng.integers(0, n, size=int(hub_rows.sum()))
    return dedup_edges(ids[src_idx], ids[dst_idx])


def edge_delta(seed: int, src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """New edges for incremental-refresh: DELTA_SHARE of the base edge
    count, drawn between existing vertices and DELTA_NEW_VERTICES newly
    ingested ones; none duplicates a base edge."""
    rng = _rng(seed, "delta")
    old = np.unique(np.concatenate([src, dst]))
    new = old.max() + 1 + np.arange(DELTA_NEW_VERTICES, dtype=np.int64) * 5
    pool = np.concatenate([old, new])
    m = int(len(src) * DELTA_SHARE)
    s = pool[rng.integers(0, len(pool), size=2 * m)]
    d = pool[rng.integers(0, len(pool), size=2 * m)]
    s, d = dedup_edges(s, d)
    bound = int(pool.max()) + 1
    fresh = ~np.isin(_pair_keys(s, d, bound), _pair_keys(src, dst, bound))
    s, d = s[fresh], d[fresh]
    pick = np.sort(rng.choice(len(s), size=min(m, len(s)), replace=False))
    return s[pick], d[pick]


def code_files(seed: int) -> tuple[pa.Table, np.ndarray, np.ndarray, np.ndarray]:
    """The ``code_files`` table plus its ground truth.

    Returns ``(table, fqn, truth_src, truth_dst)``: ``fqn[i]`` is row i's
    ``repo/path``; the truth arrays hold row indices of the distinct
    ``import`` references whose target exists (self-imports excluded) —
    exactly the edges ``derive_graph`` must find. Filler lines never
    contain the word ``import``.
    """
    rng = _rng(seed, "corpus")
    r, f = CORPUS_REPOS, CORPUS_FILES_PER_REPO
    n = r * f
    repo_of = np.repeat(np.arange(r), f)
    repos = np.array([f"org{i % 7}/proj{i:03d}" for i in range(r)])
    paths = np.array([f"src/m{j % 9}/file{j:04d}.py" for j in range(f)] * r)
    fqn = np.char.add(np.char.add(repos[repo_of], "/"), paths)

    n_imp = rng.poisson(CORPUS_MEAN_IMPORTS, size=n)
    src = np.repeat(np.arange(n), n_imp)
    k = len(src)
    local = rng.random(k) < CORPUS_LOCAL_SHARE
    weights = np.arange(1, n + 1, dtype=np.float64) ** -CORPUS_ZIPF
    popular = rng.permutation(n)
    dst = popular[
        np.searchsorted(np.cumsum(weights / weights.sum()), rng.random(k)).clip(0, n - 1)
    ]
    dst[local] = repo_of[src[local]] * f + rng.integers(0, f, size=int(local.sum()))
    missing = rng.random(k) < CORPUS_MISSING_SHARE
    ref = fqn[dst].astype(object)
    ref[missing] = [f"{repos[repo_of[s]]}/src/gone/file{i}.py" for i, s in
                    zip(np.flatnonzero(missing), src[missing])]

    commits = [f"{x:040x}" for x in rng.integers(0, 2**62, size=n, dtype=np.int64)]
    langs = LANGS[rng.integers(0, len(LANGS), size=n)]
    filler_n = rng.integers(*CORPUS_FILLER_LINES, size=n)
    words = _WORDS[rng.integers(0, len(_WORDS), size=(int(filler_n.sum()), 6))]
    filler = [" ".join(w) for w in words.tolist()]
    starts = np.concatenate([[0], np.cumsum(n_imp)])
    fstarts = np.concatenate([[0], np.cumsum(filler_n)])
    contents = []
    for i in range(n):
        lines = [f"# {fqn[i]}"]
        lines += [f"import {x}" for x in ref[starts[i]:starts[i + 1]]]
        lines += filler[fstarts[i]:fstarts[i + 1]]
        contents.append("\n".join(lines) + "\n")

    table = pa.table({
        "repo": pa.array(repos[repo_of]),
        "path": pa.array(paths),
        "commit": pa.array(commits),
        "lang": pa.array(langs),
        "content": pa.array(contents),
    })
    ts, td = dedup_edges(src[~missing], dst[~missing])
    return table, fqn, ts, td


def degree_props(src: np.ndarray, dst: np.ndarray) -> dict:
    """Vertex/edge counts, max degrees, hub chunks (adjacency rows with
    salt > 0 at CHUNK_SIZE) and the ordered wedge count over the
    undirected simple graph (the triangle join's intermediate size)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    outdeg = np.bincount(s, minlength=len(ids))
    indeg = np.bincount(d, minlength=len(ids))
    chunks = -(-outdeg // CHUNK_SIZE)
    # np.unique sorts, so index order is id order: in each undirected
    # edge (lo, hi), hi gains a smaller neighbour and lo a larger one,
    # and center b's ordered wedges a < b < c number lower[b] * upper[b]
    n = len(ids)
    und = np.unique(_pair_keys(np.minimum(s, d), np.maximum(s, d), n))
    lower = np.bincount(und % n, minlength=n).astype(np.int64)
    upper = np.bincount(und // n, minlength=n).astype(np.int64)
    return {
        "vertices": int(len(ids)),
        "edges": int(len(src)),
        "max_in_degree": int(indeg.max()),
        "max_out_degree": int(outdeg.max()),
        "hub_chunks": int(np.maximum(chunks - 1, 0).sum()),
        "wedges": int((lower * upper).sum()),
    }


def _generate(workload: str, seed: int, out: str) -> dict:
    if workload == "corpus-structure":
        table, fqn, ts, td = code_files(seed)
        _write(table, os.path.join(out, "code_files.parquet"))
        _write(pa.table({"src": pa.array(fqn[ts]), "dst": pa.array(fqn[td])}),
               os.path.join(out, "truth", "edges.parquet"))
        props = degree_props(ts, td)
        props.update(files=int(table.num_rows),
                     content_mb=round(sum(len(c) for c in table.column("content").to_pylist()) / 2**20, 3))
        return props
    src, dst = power_law_edges(seed)
    props = degree_props(src, dst)
    if workload == "pagerank-cold":
        _write(_edge_table(src, dst), os.path.join(out, "edges.parquet"))
        return props
    ds, dd = edge_delta(seed, src, dst)
    ranks = pagerank(src, dst, tol=1e-6)[0]
    labels = connected_components(src, dst)
    _write(_edge_table(src, dst), os.path.join(out, "base_edges.parquet"))
    _write(_edge_table(ds, dd), os.path.join(out, "delta_edges.parquet"))
    _write(pa.table({"id": pa.array(ranks[0], pa.int64()), "rank": pa.array(ranks[1])}),
           os.path.join(out, "base_ranks.parquet"))
    _write(pa.table({"id": pa.array(labels[0], pa.int64()),
                     "component": pa.array(labels[1], pa.int64())}),
           os.path.join(out, "base_labels.parquet"))
    props = degree_props(np.concatenate([src, ds]), np.concatenate([dst, dd]))
    props.update(delta_edges=int(len(ds)), delta_share=round(len(ds) / len(src), 5))
    return props


def ensure_inputs(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of ``workload`` at ``seed``;
    returns (directory, input properties)."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    out = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    props_path = os.path.join(out, "props.json")
    if os.path.exists(props_path):
        with open(props_path) as fh:
            return out, json.load(fh)
    shutil.rmtree(out, ignore_errors=True)
    props = _generate(workload, seed, out)
    with open(props_path + ".tmp", "w") as fh:
        json.dump(props, fh, sort_keys=True)
    os.replace(props_path + ".tmp", props_path)
    return out, props
