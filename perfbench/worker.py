"""One benchmark process: a fresh SparkSession running batch jobs.

Started by ``run.py`` once per timed run (and once more for the traced
pass), the way ``spark-submit`` starts a job: it pays JVM start, input
load and code generation itself. It runs the workload's job in a closed
loop (one job at a time) until ``--seconds`` have elapsed, starting a
next job only if the previous one's duration still fits. Each job's
outputs go to parquet under ``--workdir/out/job<i>``; ``run.py`` checks
them against the references after this process exits.

Writes ``--result`` (JSON): per-job timings, loop histories and output
paths, the session start time and the process tree's peak RSS; with
``--trace 1`` also the spans and the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

LPA_MAX_SUPERSTEPS = 6
SHUFFLE_PARTITIONS = 8


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its live
    descendants (the Spark JVM and any Python workers), from /proc."""
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total_kb / 1024.0


def du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


class Job:
    """State of one batch job: spans, loop records, outputs, errors."""

    def __init__(self, tracer, out_dir: str):
        self.tr = tracer
        self.out_dir = out_dir
        self.loops: dict[str, dict] = {}
        self.outputs: dict[str, str] = {}
        self.errors: dict[str, str] = {}
        self.counts: dict[str, float] = {}

    def write(self, name: str, df) -> None:
        path = os.path.join(self.out_dir, name)
        with self.tr.span(f"io.write.{name}"):
            df.write.mode("overwrite").parquet(path)
        self.outputs[name] = path

    def analytic(self, name: str, fn, edges_n: int | None = None):
        """Run one public analytic call inside an ``algorithms.<name>``
        span; a raise is recorded as that analytic's failure."""
        try:
            with self.tr.span(f"algorithms.{name}") as sp:
                out = fn()
        except Exception as exc:  # the benchmark must report, not die
            self.errors[name] = f"{type(exc).__name__}: {exc}"
            return None
        if isinstance(out, tuple):
            df, res = out
            self.tr.add_supersteps(sp, res.history)
            loop_s = sum(h.wall_sec for h in res.history)
            self.loops[name] = {
                "supersteps": res.supersteps, "converged": res.converged,
                "loop_s": loop_s, "call_s": sp["end"] - sp["start"], "edges": edges_n,
                "history": [{"wall": h.wall_sec, "rows": h.rows, "changed": h.changed}
                            for h in res.history],
            }
            return df
        return out


def make_ckpt_class(tracer):
    from linkgraph import CheckpointManager

    class TimedCheckpointManager(CheckpointManager):
        """Times every durable save and load as a ``checkpoint.*`` span."""

        def save(self, superstep, state, metrics):
            with tracer.span("checkpoint.save"):
                return super().save(superstep, state, metrics)

        def load(self, superstep):
            with tracer.span("checkpoint.load"):
                df, m = super().load(superstep)
                df.count()
                return df, m

    return TimedCheckpointManager


# -- workloads ------------------------------------------------------------
# Each has load(spark, inputs) -> dict of persisted, counted frames (the
# set-up) and run(spark, job, frames, ckpt_root, ckpt_cls) (the timed job).

def _read(spark, path):
    df = spark.read.parquet(path).persist()
    return df, df.count()


def load_pagerank_cold(spark, inputs):
    edges, n = _read(spark, os.path.join(inputs, "edges.parquet"))
    return {"edges": edges, "n_edges": n}


def run_pagerank_cold(spark, job, f, ckpt_root, ckpt_cls):
    from linkgraph import pagerank

    ranks = job.analytic("pagerank", lambda: pagerank(f["edges"], tol=1e-6), f["n_edges"])
    if ranks is not None:
        job.write("ranks", ranks)


def load_corpus(spark, inputs):
    return {"code": _read(spark, os.path.join(inputs, "code_files.parquet"))[0]}


def run_corpus(spark, job, f, ckpt_root, ckpt_cls):
    from linkgraph import (connected_components, derive_edges, derive_files,
                           label_propagation, triangle_counts)

    # kept in ``f`` so the caller unpersists them and the traced probes
    # see the derived edge table
    with job.tr.span("derive.files"):
        files = f["files"] = derive_files(f["code"]).persist()
        files.count()
    with job.tr.span("derive.edges"):
        edges = f["edges"] = derive_edges(files).persist()
        n = f["n_edges"] = edges.count()
        job.counts["edges_out"] = n
    vertices = files.select("id", "repo", "path", "sha256")
    job.write("vertices", vertices)
    job.write("edges", edges)
    verts = vertices.select("id")
    cc = job.analytic("cc", lambda: connected_components(edges, vertices=verts), n)
    if cc is not None:
        job.write("cc", cc)
    lpa = job.analytic("lpa", lambda: label_propagation(
        edges, max_supersteps=LPA_MAX_SUPERSTEPS, vertices=verts), n)
    if lpa is not None:
        job.write("lpa", lpa)

    def triangles():
        # triangle_counts is lazy: materialise inside the span
        df = triangle_counts(edges, vertices=verts).persist()
        df.count()
        return df

    tri = job.analytic("triangles", triangles)
    if tri is not None:
        job.write("triangles", tri)
        tri.unpersist()


def load_incremental(spark, inputs):
    delta = _read(spark, os.path.join(inputs, "delta_edges.parquet"))[0]
    base = spark.read.parquet(os.path.join(inputs, "base_edges.parquet"))
    edges = base.unionByName(delta).persist()
    return {
        "edges": edges,
        "n_edges": edges.count(),
        "delta": delta,
        "ranks": _read(spark, os.path.join(inputs, "base_ranks.parquet"))[0],
        "labels": _read(spark, os.path.join(inputs, "base_labels.parquet"))[0],
    }


def run_incremental(spark, job, f, ckpt_root, ckpt_cls):
    from pyspark.sql import functions as F

    from linkgraph import connected_components, pagerank

    n = f["n_edges"]
    pr_ck = ckpt_cls(spark, os.path.join(ckpt_root, "pagerank"), every=1)
    ranks = job.analytic("pagerank", lambda: pagerank(
        f["edges"], tol=1e-6, init_ranks=f["ranks"], ckpt=pr_ck), n)
    if ranks is not None:
        job.write("ranks", ranks)
    active = f["delta"].select(F.col("src").alias("id")).unionByName(
        f["delta"].select(F.col("dst").alias("id")))
    cc_ck = ckpt_cls(spark, os.path.join(ckpt_root, "cc"), every=1)
    cc = job.analytic("cc", lambda: connected_components(
        f["edges"], init_labels=f["labels"], initial_active=active, ckpt=cc_ck), n)
    if cc is not None:
        job.write("cc", cc)


WORKLOADS = {
    "pagerank-cold": (load_pagerank_cold, run_pagerank_cold),
    "corpus-structure": (load_corpus, run_corpus),
    "incremental-refresh": (load_incremental, run_incremental),
}


def traced_probes(spark, workload, frames, ckpt_root, ckpt_cls):
    """Per-layer counts that need extra Spark work; run after the timed
    job, outside its span, so they do not inflate it. The adjacency
    probes rebuild the adjacency of the workload's first loop the way the
    engine builds it: directed for PageRank, symmetrized (and sized at
    twice the edge count) for the corpus's CC, under iteration_conf."""
    from pyspark.sql import functions as F

    from linkgraph.graph import choose_partitions
    from linkgraph.partitioning import build_adjacency, symmetrize
    from linkgraph.superstep import iteration_conf

    out = {}
    edges = frames.get("edges")
    if edges is not None:
        undirected = workload == "corpus-structure"
        p = choose_partitions(edges, (2 if undirected else 1) * frames["n_edges"])
        e = symmetrize(edges) if undirected else edges.select("src", "dst")
        with iteration_conf(spark, p):
            adj = build_adjacency(e, num_partitions=p).persist()
            out["partitioning.hub_chunks"] = float(adj.filter("salt > 0").count())
            per_part = [r["e"] for r in adj.groupBy(F.spark_partition_id().alias("pid"))
                        .agg(F.sum(F.size("dsts")).alias("e")).collect()]
        out["partitioning.adj_skew"] = max(per_part) / (sum(per_part) / p)
        adj.unpersist()
    if workload == "incremental-refresh":
        # the resume path a restarted refresh pays: load the newest snapshot
        ck = ckpt_cls(spark, os.path.join(ckpt_root, "pagerank"), every=1)
        if ck.latest() is not None:
            ck.load(ck.latest())
        out["checkpoint.mb_written"] = du_mb(ckpt_root)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    from linkgraph import CheckpointManager, get_spark
    from spans import Tracer, read_event_log, self_times, superstep_metrics

    tr = Tracer(run_id=os.path.basename(args.workdir))
    conf = {"spark.ui.showConsoleProgress": "false"}
    events = os.path.join(args.workdir, "events")
    if args.trace:
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    load, run = WORKLOADS[args.workload]
    ckpt_cls = make_ckpt_class(tr) if args.trace else CheckpointManager

    start = tr.add("session.start", args.spawned_at, 0.0)
    spark = get_spark(app_name=f"perfbench-{args.workload}", master=f"local[{args.cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    tr.spans[start]["end"] = time.time()
    app_id = spark.sparkContext.applicationId

    jobs = []
    t_begin = time.time()
    try:
        while True:
            i = len(jobs)
            out_dir = os.path.join(args.workdir, "out", f"job{i}")
            ckpt_root = os.path.join(args.workdir, "ckpt", f"job{i}")
            with tr.span("io.load") as load_span:
                frames = load(spark, args.inputs)
            job = Job(tr, out_dir)
            with tr.span("job") as job_span:
                run(spark, job, frames, ckpt_root, ckpt_cls)
            rec = {
                "setup_s": load_span["end"] - (args.spawned_at if i == 0 else load_span["start"]),
                "load_s": load_span["end"] - load_span["start"],
                "job_s": job_span["end"] - job_span["start"],
                "loops": job.loops, "outputs": job.outputs, "errors": job.errors,
                "counts": job.counts,
            }
            if args.trace:
                rec["probes"] = traced_probes(spark, args.workload, frames, ckpt_root, ckpt_cls)
            jobs.append(rec)
            for v in frames.values():
                if not isinstance(v, int):
                    v.unpersist()
            shutil.rmtree(ckpt_root, ignore_errors=True)
            elapsed = time.time() - t_begin
            if args.trace or elapsed + rec["job_s"] + rec["load_s"] > args.seconds:
                break
        peak = tree_peak_rss_mb(os.getpid())
    finally:
        spark.stop()

    result = {"app_id": app_id, "session_start_s": tr.spans[start]["end"] - args.spawned_at,
              "peak_rss_mb": peak, "jobs": jobs}
    if args.trace:
        ev_jobs = read_event_log(os.path.join(events, app_id))
        result["spans"] = tr.spans
        result["layers"] = superstep_metrics(tr.spans, ev_jobs)
        result["self"] = self_times(tr.spans)
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
