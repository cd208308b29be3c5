#!/usr/bin/env python3
"""linkgraph benchmark: seeded workloads, reference-checked outputs.

Run from the repository root::

    python3 perfbench/run.py --workload pagerank-cold --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload pagerank-cold --seed 1 --scaling

Run model: a closed loop with one client. Each run starts one fresh
worker process with its own SparkSession on ``local[<cores>]`` with
SHUFFLE_PARTITIONS shuffle partitions (JVM start, input load and code
generation are paid like a ``spark-submit`` job), and that worker submits
one batch job at a time until ``--seconds`` have passed. The engine
receives only the generated parquet inputs; after the worker exits every
output is checked against an independent reference (``checks.py``).

``--trace 1`` runs one worker with the Spark event log on, checkpoint
saves/loads timed, and spans recorded around each public call; it
reports the per-layer metrics, each layer's self time and the tracing
overhead: traced job_s minus the median untraced job_s. That median is
taken over the correct untraced runs of the workload recorded in
``.perfbench/untraced_job_s.jsonl``; when none is recorded yet, the
traced run first times one untraced worker itself.

``--scaling`` is a one-off report, not part of the timed contract: one
traced pagerank-cold job at ``local[1]`` and one at ``local[<cores>]``,
with the edge throughput at both and the 1 -> N scaling efficiency.

Everything the benchmark writes goes under ``.perfbench/`` in the
current directory: inputs cached by workload and seed, and one scratch
directory per run (Spark temp and local dirs, outputs, checkpoints,
event log) that is deleted when the run ends; a traced run also leaves
its spans in ``.perfbench/traces/``, an untraced one its job times in
``.perfbench/untraced_job_s.jsonl``. The last stdout line is
one JSON object: ``correct``, ``attempted`` (analytic calls), ``failed``
(calls that raised or whose output failed its check) and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run leaves nothing beside the sources

import checks  # noqa: E402
import gen  # noqa: E402
from worker import LPA_MAX_SUPERSTEPS, SHUFFLE_PARTITIONS  # noqa: E402

RUN_TIMEOUT_S = 170
# job_s of every correct untraced run, the tracing-overhead baseline
JOB_S_LOG = os.path.join(".perfbench", "untraced_job_s.jsonl")

END_TO_END = {
    "job_s": "s",
    "setup_s": "s",
    "edge_throughput": "edges/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "io.load_s": "s",
    "io.write_s": "s",
    "derive.files_s": "s",
    "derive.edges_s": "s",
    "derive.content_mb_per_s": "MB/s",
    "derive.edges_out": "count",
    "partitioning.prep_s": "s",
    "partitioning.hub_chunks": "count",
    "partitioning.adj_skew": "ratio",
    "superstep.count": "count",
    "superstep.first_s": "s",
    "superstep.steady_s": "s",
    "superstep.shuffle_mb": "MB",
    "superstep.spill_mb": "MB",
    "superstep.task_skew": "ratio",
    "superstep.gc_share": "ratio",
    "superstep.driver_gap_s": "s",
    "superstep.skew_sample_s": "s",
    "checkpoint.save_s": "s",
    "checkpoint.load_s": "s",
    "checkpoint.mb_written": "MB",
    "algorithms.pagerank_s": "s",
    "algorithms.cc_s": "s",
    "algorithms.lpa_s": "s",
    "algorithms.triangles_s": "s",
    "algorithms.wedges": "count",
    "algorithms.cc_active_share": "ratio",
    **{f"self.{layer}_s": "s" for layer in
       ("session", "io", "derive", "partitioning", "superstep", "checkpoint", "algorithms")},
    "trace.job_s": "s",
    "trace.overhead_s": "s",
}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker's whole process group (worker, Spark JVM, Python
    daemons) and wait until every member has ended."""
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    deadline = time.time() + 20
    sig = signal.SIGTERM
    while _group_alive(proc.pid):
        if time.time() > deadline - 10:
            sig = signal.SIGKILL
        if time.time() > deadline:
            raise RuntimeError(f"worker process group {proc.pid} did not exit")
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        time.sleep(0.2)


def spawn_worker(workload, inputs, run_dir, tag, seconds, trace, cores, timeout) -> dict:
    workdir = os.path.join(run_dir, tag)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (os.getcwd(), env.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    result = os.path.join(workdir, "result.json")
    worker_log = os.path.join(workdir, "worker.log")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--workdir", workdir, "--result", result,
           "--seconds", str(seconds), "--cores", str(cores), "--trace", str(trace)]
    with open(worker_log, "w") as out:
        spawned = time.time()
        proc = subprocess.Popen(cmd + ["--spawned-at", repr(spawned)], cwd=workdir, env=env,
                                stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _stop_group(proc)
    if code != 0 or not os.path.exists(result):
        with open(worker_log) as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker {tag} failed (exit {code}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


# The loops edge_throughput covers. On corpus-structure only the LPA loop:
# it always runs its fixed cap of supersteps, while the delta-frontier CC
# loop runs 6-8 depending on the seed, and its cheap tail supersteps make
# edges x supersteps / loop time swing with that count.
THROUGHPUT_LOOPS = {
    "pagerank-cold": ("pagerank",),
    "corpus-structure": ("lpa",),
    "incremental-refresh": ("pagerank", "cc"),
}


def end_to_end(workload: str, res: dict) -> dict[str, float]:
    jobs = res["jobs"]
    work = loop_s = 0.0
    for job in jobs:
        for name in THROUGHPUT_LOOPS[workload]:
            lp = job["loops"].get(name)  # absent when the analytic raised
            if lp is None:
                continue
            work += lp["edges"] * lp["supersteps"]
            loop_s += lp["loop_s"]
    return {
        # the JVM starts once per process, so set-up is sampled once per run
        "setup_s": jobs[0]["setup_s"],
        "job_s": statistics.median(j["job_s"] for j in jobs),
        "edge_throughput": work / loop_s if loop_s else 0.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _span_total(spans, prefix):
    return sum(s["end"] - s["start"] for s in spans if s["name"].startswith(prefix))


def per_layer(traced: dict, untraced_job_s: float, inputs_props: dict, wedges: int) -> dict[str, float]:
    job = traced["jobs"][0]
    spans = traced["spans"]
    loops = job["loops"]
    derive_s = _span_total(spans, "derive.")
    cc = loops.get("cc", {}).get("history", [])
    m = {
        "session.start_s": traced["session_start_s"],
        "io.load_s": job["load_s"],
        "io.write_s": _span_total(spans, "io.write."),
        "derive.files_s": _span_total(spans, "derive.files"),
        "derive.edges_s": _span_total(spans, "derive.edges"),
        "derive.content_mb_per_s": inputs_props.get("content_mb", 0.0) / derive_s if derive_s else 0.0,
        "derive.edges_out": float(job["counts"].get("edges_out", 0)),
        "partitioning.prep_s": _span_total(spans, "partitioning.prep"),
        "partitioning.hub_chunks": job["probes"].get("partitioning.hub_chunks", 0.0),
        "partitioning.adj_skew": job["probes"].get("partitioning.adj_skew", 0.0),
        **traced["layers"],
        "checkpoint.save_s": _span_total(spans, "checkpoint.save"),
        "checkpoint.load_s": _span_total(spans, "checkpoint.load"),
        "checkpoint.mb_written": job["probes"].get("checkpoint.mb_written", 0.0),
        "algorithms.pagerank_s": _span_total(spans, "algorithms.pagerank"),
        "algorithms.cc_s": _span_total(spans, "algorithms.cc"),
        "algorithms.lpa_s": _span_total(spans, "algorithms.lpa"),
        "algorithms.triangles_s": _span_total(spans, "algorithms.triangles"),
        "algorithms.wedges": float(wedges),
        "algorithms.cc_active_share": (
            statistics.mean(h["changed"] / h["rows"] for h in cc if h["rows"]) if cc else 0.0),
        **{f"self.{k}_s": v for k, v in traced["self"].items()},
        "trace.job_s": job["job_s"],
        "trace.overhead_s": job["job_s"] - untraced_job_s,
    }
    return {k: m[k] for k in PER_LAYER}


def check_all(workload, inputs, jobs) -> tuple[int, int, list[str]]:
    attempted = failed = 0
    problems = []
    for i, job in enumerate(jobs):
        for name, err in checks.check_job(workload, inputs, job, LPA_MAX_SUPERSTEPS).items():
            attempted += 1
            if err is not None:
                failed += 1
                problems.append(f"job{i} {name}: {err}")
    return attempted, failed, problems


def _wedges_of(job: dict) -> int:
    """Ordered wedges the triangle join enumerates, on the program's own
    derived edges (0 when the job counts no triangles)."""
    if "triangles" not in job["outputs"]:
        return 0
    import pyarrow.parquet as pq

    t = pq.read_table(job["outputs"]["edges"])
    return gen.degree_props(t.column("src").to_numpy(), t.column("dst").to_numpy())["wedges"]


def record_job_s(workload: str, seed: int, jobs: list[dict]) -> None:
    """Append a correct untraced run's job times to JOB_S_LOG."""
    with open(JOB_S_LOG, "a") as fh:
        for job in jobs:
            fh.write(json.dumps({"workload": workload, "seed": seed, "job_s": job["job_s"]}) + "\n")


def recorded_job_s(workload: str) -> list[float]:
    if not os.path.exists(JOB_S_LOG):
        return []
    with open(JOB_S_LOG) as fh:
        rows = [json.loads(line) for line in fh if line.strip()]
    return [r["job_s"] for r in rows if r["workload"] == workload]


def cpu_times() -> list[int]:
    """The machine's cumulative CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def report(label, values, units):
    for k, v in values.items():
        log(f"  {label} {k:<28} {v:>16.6g} {units[k]}")


def run(args, run_dir) -> int:
    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    cpu0 = cpu_times()
    inputs, props = gen.ensure_inputs(args.workload, args.seed, os.path.abspath(os.path.join(".perfbench", "inputs")))
    log(f"perfbench {args.workload} seed={args.seed} cores={cores} "
        f"shuffle_partitions={SHUFFLE_PARTITIONS} inputs={json.dumps(props, sort_keys=True)} "
        f"(generated/cached in {time.time() - t0:.1f}s)")
    budget = lambda: RUN_TIMEOUT_S - (time.time() - t0)  # noqa: E731

    if args.scaling:
        out = {}
        for n in sorted({1, cores}):
            res = spawn_worker(args.workload, inputs, run_dir, f"local{n}", 0, 1, n, 600)
            attempted, failed, problems = check_all(args.workload, inputs, res["jobs"])
            out[f"local[{n}]"] = {"edge_throughput": end_to_end(args.workload, res)["edge_throughput"],
                                  "job_s": res["jobs"][0]["job_s"], "failed": failed}
            log(f"  local[{n}]: {json.dumps(out[f'local[{n}]'])} {problems}")
        t1, tn = out["local[1]"]["edge_throughput"], out[f"local[{cores}]"]["edge_throughput"]
        out["scaling_efficiency"] = tn / t1 / cores
        print(json.dumps(out, sort_keys=True))
        return 0

    traced = None
    if args.trace:
        # the overhead baseline: untraced job_s recorded by earlier timed
        # runs of this workload in this checkout, else one untraced worker
        baseline = recorded_job_s(args.workload)
        res = None
        if not baseline:
            res = spawn_worker(args.workload, inputs, run_dir, "timed", args.seconds, 0, cores, budget())
            baseline = [j["job_s"] for j in res["jobs"]]
        log(f"  tracing overhead baseline: median of {len(baseline)} untraced job_s")
        traced = spawn_worker(args.workload, inputs, run_dir, "traced", 0, 1, cores, budget())
        jobs = (res["jobs"] if res else []) + traced["jobs"]
    else:
        res = spawn_worker(args.workload, inputs, run_dir, "timed", args.seconds, 0, cores, budget())
        jobs = list(res["jobs"])
        metrics = end_to_end(args.workload, res)
    attempted, failed, problems = check_all(args.workload, inputs, jobs)
    for p in problems:
        log(f"  CHECK FAILED {p}")
    for i, job in enumerate(jobs):
        log(f"  job{i} setup_s={job['setup_s']:.3f} load_s={job['load_s']:.3f} job_s={job['job_s']:.3f}")
        for name, lp in job["loops"].items():
            log(f"    {name}: prep_s={lp['call_s'] - lp['loop_s']:.3f} supersteps={lp['supersteps']} "
                f"walls={[round(h['wall'], 3) for h in lp['history']]}")
    log(f"  error_rate {failed / attempted:.4f} ({failed} of {attempted} analytic calls)")
    # time the hypervisor gave to other guests: it slows every metric of the run
    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    log(f"  host steal {100 * cpu[7] / max(sum(cpu), 1):.1f}% of CPU time during the run")
    if traced is None:
        if failed == 0:
            record_job_s(args.workload, args.seed, res["jobs"])
        report("e2e", metrics, END_TO_END)
        out_metrics = {k: {"value": metrics[k], "unit": END_TO_END[k]} for k in END_TO_END}
    else:
        layers = per_layer(traced, statistics.median(baseline), props, _wedges_of(traced["jobs"][0]))
        spans_path = os.path.abspath(os.path.join(
            ".perfbench", "traces", f"{args.workload}-s{args.seed}.spans.json"))
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as fh:
            json.dump(traced["spans"], fh)
        log(f"  spans written to {spans_path}")
        report("layer", layers, PER_LAYER)
        out_metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scaling", action="store_true")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join("linkgraph", "__init__.py")):
        log("perfbench: run from the root of a linkgraph checkout (no ./linkgraph package here)")
        return 2
    run_dir = os.path.abspath(os.path.join(".perfbench", "runs", f"{args.workload}-{os.getpid()}"))
    os.makedirs(run_dir)
    try:
        return run(args, run_dir)
    except RuntimeError as exc:
        log(f"perfbench: {exc}")
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
