"""Output checks: every analytic's written result against a reference.

Each check reads the parquet a job wrote (with pyarrow, not Spark) and
returns an error message, or None when the output is correct.
The PageRank and incremental CC references are memoised per input
directory, so the repeated jobs of a run pay for them once.
"""

from __future__ import annotations

import functools
import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

import reference

PAGERANK_TOL = 1e-6
PAGERANK_REL_ERR = 1e-6


def _cols(path: str, *names: str) -> list[np.ndarray]:
    t = pq.read_table(path, columns=list(names))
    order = np.argsort(t.column(names[0]).to_numpy(), kind="stable")
    return [t.column(n).to_numpy()[order] for n in names]


@functools.lru_cache(maxsize=None)
def _edges(path: str) -> tuple[np.ndarray, np.ndarray]:
    t = pq.read_table(path)
    return t.column("src").to_numpy(), t.column("dst").to_numpy()


@functools.lru_cache(maxsize=None)
def _graph(inputs: str, workload: str) -> tuple[np.ndarray, np.ndarray]:
    if workload == "pagerank-cold":
        return _edges(os.path.join(inputs, "edges.parquet"))
    bs, bd = _edges(os.path.join(inputs, "base_edges.parquet"))
    ds, dd = _edges(os.path.join(inputs, "delta_edges.parquet"))
    return np.concatenate([bs, ds]), np.concatenate([bd, dd])


@functools.lru_cache(maxsize=None)
def _pagerank_ref(inputs: str, workload: str, updates: int):
    src, dst = _graph(inputs, workload)
    init = None
    if workload == "incremental-refresh":
        init = tuple(_cols(os.path.join(inputs, "base_ranks.parquet"), "id", "rank"))
    return reference.pagerank(src, dst, tol=PAGERANK_TOL, init=init, updates=updates)


def check_pagerank(inputs: str, workload: str, loop: dict, out: str) -> str | None:
    ids, rank = _cols(out, "id", "rank")
    k = loop["supersteps"]
    (rid, rrank), _, deltas = _pagerank_ref(inputs, workload, k)
    if not np.array_equal(ids, rid):
        return f"vertex set differs ({len(ids)} vs {len(rid)} reference)"
    rel = float(np.max(np.abs(rank - rrank) / rrank))
    if rel > PAGERANK_REL_ERR:
        return f"max relative rank error {rel:.3g} > {PAGERANK_REL_ERR}"
    # the engine must stop at the first update whose L1 change is <= tol
    slack = 1e-6 * PAGERANK_TOL
    if not loop["converged"] or deltas[-1] > PAGERANK_TOL + slack or (
            k > 1 and deltas[-2] <= PAGERANK_TOL - slack):
        return f"stopped after {k} updates; reference L1 changes {deltas[-2:]}"
    return None


def _exact(out: str, col: str, ids_ref: np.ndarray, vals_ref: np.ndarray) -> str | None:
    ids, vals = _cols(out, "id", col)
    if not np.array_equal(ids, ids_ref):
        return f"vertex set differs ({len(ids)} vs {len(ids_ref)} reference)"
    bad = int(np.count_nonzero(vals != vals_ref))
    return f"{bad} of {len(ids)} {col} values differ from the reference" if bad else None


@functools.lru_cache(maxsize=None)
def _cc_incremental_ref(inputs: str):
    return reference.connected_components(*_graph(inputs, "incremental-refresh"))


def check_cc_incremental(inputs: str, out: str) -> str | None:
    return _exact(out, "component", *_cc_incremental_ref(inputs))


@functools.lru_cache(maxsize=None)
def _corpus_truth(inputs: str):
    code = pq.read_table(os.path.join(inputs, "code_files.parquet"))
    fqn = [f"{r}/{p}" for r, p in zip(code.column("repo").to_pylist(),
                                     code.column("path").to_pylist())]
    sha = {f: hashlib.sha256(c.encode()).hexdigest()
           for f, c in zip(fqn, code.column("content").to_pylist())}
    t = pq.read_table(os.path.join(inputs, "truth", "edges.parquet"))
    edges = set(zip(t.column("src").to_pylist(), t.column("dst").to_pylist()))
    return sha, edges


def check_corpus(inputs: str, job: dict, lpa_cap: int) -> dict[str, str | None]:
    """Derive (sha256 per row, exact edge set), then CC, LPA and
    triangles on the ground-truth graph expressed in the program's ids."""
    sha, truth = _corpus_truth(inputs)
    outs = job["outputs"]
    res: dict[str, str | None] = {}
    v = pq.read_table(outs["vertices"])
    ids = v.column("id").to_numpy()
    fqn = [f"{r}/{p}" for r, p in zip(v.column("repo").to_pylist(), v.column("path").to_pylist())]
    id_of = dict(zip(fqn, ids.tolist()))
    fqn_of = dict(zip(ids.tolist(), fqn))
    e = pq.read_table(outs["edges"])
    got = {(fqn_of.get(s), fqn_of.get(d)) for s, d in
           zip(e.column("src").to_pylist(), e.column("dst").to_pylist())}
    if len(id_of) != len(sha) or set(id_of) != set(sha) or len(fqn_of) != len(ids):
        res["derive"] = "vertex rows do not map one-to-one onto the input files"
    elif any(sha[f] != h for f, h in zip(fqn, v.column("sha256").to_pylist())):
        res["derive"] = "sha256 differs from hashlib on some rows"
    elif got != truth or e.num_rows != len(truth):
        res["derive"] = (f"edge set differs: {len(got - truth)} extra, "
                         f"{len(truth - got)} missing, {e.num_rows} rows")
    else:
        res["derive"] = None
    if res["derive"] is not None:
        return {**res, **{n: "not checked: derive output is wrong" for n in ("cc", "lpa", "triangles")}}

    src = np.array([id_of[s] for s, _ in truth], np.int64)
    dst = np.array([id_of[d] for _, d in truth], np.int64)
    verts = np.sort(ids.astype(np.int64))
    if "cc" in outs:
        res["cc"] = _exact(outs["cc"], "component",
                           *reference.connected_components(src, dst, verts))
    if "lpa" in outs:
        res["lpa"] = _exact(outs["lpa"], "label",
                            *reference.label_propagation(src, dst, lpa_cap, verts))
    if "triangles" in outs:
        res["triangles"] = _exact(outs["triangles"], "triangles",
                                  *reference.triangle_counts(src, dst, verts))
    return res


def check_job(workload: str, inputs: str, job: dict, lpa_cap: int) -> dict[str, str | None]:
    """{analytic: error or None} for every analytic the job ran; an
    analytic that raised or wrote nothing is an error too."""
    expected = {
        "pagerank-cold": ["pagerank"],
        "corpus-structure": ["derive", "cc", "lpa", "triangles"],
        "incremental-refresh": ["pagerank", "cc"],
    }[workload]
    outs, loops = job["outputs"], job["loops"]
    res: dict[str, str | None] = {}
    try:
        if workload == "corpus-structure":
            res = check_corpus(inputs, job, lpa_cap) if "edges" in outs else {}
        else:
            if "ranks" in outs:
                res["pagerank"] = check_pagerank(inputs, workload, loops["pagerank"], outs["ranks"])
            if "cc" in outs:
                res["cc"] = check_cc_incremental(inputs, outs["cc"])
    except (OSError, KeyError, ValueError) as exc:
        res = {name: f"output unreadable: {type(exc).__name__}: {exc}" for name in expected}
    for name in expected:
        if name in job["errors"]:
            res[name] = "raised " + job["errors"][name]
        elif name not in res:
            res[name] = "no output written"
    return res
