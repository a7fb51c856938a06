"""Benchmark of the KG-embedding pipeline, end to end and per layer.

    python3 perfbench/run.py --workload web_kg --seed 1 --seconds 30 --trace 0

Run from the repository root. Generates the workload's seeded input (once
per seed, outside timing), then starts worker processes, each of which
builds a SparkSession and makes one pipeline call into an empty work_dir.
This process times every worker from its start, samples its process tree
from /proc, and checks the call's outputs and quality from what it left
in work_dir. Workers are started until --seconds have passed since the
first one started (at least one); timings are medians over them.

--trace 0 prints the end-to-end metrics; --trace 1 makes one traced call
and prints its per-layer metrics, with the tracing overhead taken against
the median untraced call this checkout has recorded (making one first if
there is none). The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The line before it is context, not a metric: loadavg and a spin
calibration of this host.
"""

from __future__ import annotations

import argparse
import ctypes
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

import procfs  # noqa: E402
from spans import self_intervals  # noqa: E402
from workloads import LAYERS, STAGE_LAYER, WORKLOADS  # noqa: E402

# a run must end within 180 s; workers past this many seconds from the
# run's start are killed and counted as failed
RUN_DEADLINE_S = 170
END_TO_END_UNITS = {
    "pipeline_s": "s", "setup_s": "s", "cpu_s": "s",
    "triple_f1": "ratio", "mrr": "ratio", "link_auc": "ratio", "final_cost": "cost",
}
LAYER_UNITS = {
    "wall_s": "s", "cpu_s": "s", "py_cpu_s": "s", "cpu_util": "ratio",
    "rows_out": "rows", "part_skew": "ratio", "bytes_out": "bytes",
}
COUNTER_UNITS = {
    "extract.link_yield": "ratio", "extract.empty_text": "pages",
    "sources.parse_rejects": "lines", "graph.sim_pairs": "pairs",
    "bca.entries_per_root": "entries", "glove.epoch_s": "s", "glove.entries_per_s": "1/s",
    "pipeline.unattributed_s": "s", "pipeline.span_coverage": "ratio",
    "pipeline.trace_overhead_s": "s", "pipeline.peak_rss_mb": "MB",
}
PR_SET_CHILD_SUBREAPER = 36


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{k}": u for layer in LAYERS for k, u in LAYER_UNITS.items()}
    units.update(COUNTER_UNITS)
    return units


def spin_calibration(n: int = 2_000_000) -> float:
    """Seconds for a fixed single-thread loop: context for comparing hosts."""
    t = time.perf_counter()
    x = 0
    for i in range(n):
        x += i
    return time.perf_counter() - t


def stop_descendants(timeout: float = 20.0) -> None:
    """Kill every process below this one and reap it. This process is a
    child subreaper, so the JVM and the Python worker daemons (which leave
    the worker's process group) come back to it when the worker exits."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        alive = procfs.descendants(os.getpid(), procfs.scan())[1:]
        if not alive:
            return
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
    raise RuntimeError("processes of the run did not end")


def run_worker(root: str, state: str, workload: str, seed: int, input_path: str,
               trace: int, tag: str, deadline: float) -> dict:
    """Start one worker and wait for it; return its result with setup_s,
    pipeline_s, and cpu_s and peak RSS of the call."""
    run_dir = os.path.join(state, "runs", f"{workload}-{seed}-{os.getpid()}-{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": root + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # local[N] with N = this host's cores: pin the clamp get_spark applies
        "SPARK_GRAFT_CORE_CLAMP": str(os.cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(run_dir, "spark_local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
        "--seed", str(seed), "--input", input_path, "--work-dir", os.path.join(run_dir, "work"),
        "--trace", str(trace), "--result", result_path,
    ]
    with open(os.path.join(run_dir, "worker.log"), "wb") as log:
        t_start = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        sampler = procfs.TreeSampler(proc.pid).start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            sampler.stop()
            stop_descendants()
            for d in ("spark_local", "tmp"):
                shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    if code != 0 or not os.path.exists(result_path):
        return {"error": f"worker exited with {code}, see {run_dir}/worker.log"}
    with open(result_path) as f:
        res = json.load(f)
    t0, t1 = res["call"]
    res["work_dir"] = os.path.join(run_dir, "work")
    res["setup_s"] = res["ready"] - t_start
    res["pipeline_s"] = t1 - t0
    res["cpu_s"] = procfs.cpu_between(sampler.samples, t0, t1)[0]
    res["peak_rss_mb"] = procfs.peak_rss(sampler.samples, t0, t1) / 2**20
    res["samples"] = sampler.samples
    return res


def evaluate(res: dict, workload: str, seed: int) -> None:
    """Add output checks and quality metrics to a worker's result."""
    import checks
    from workloads import config

    if res.get("error"):
        return
    cfg = config(workload)
    work = res["work_dir"]
    if workload == "web_kg":
        from graph_embeddings_spark.corpus import expected_triples_for_page
        from inputs import WEB_PAGES, seeded_world

        world = seeded_world(seed)
        expected = {
            (s, p, o) for pid in range(WEB_PAGES)
            for _url, s, p, o, _kind in expected_triples_for_page(world, pid)
        }
    else:
        from inputs import dblp_triples

        expected = {(s, p, o) for s, p, o, _lit in dblp_triples(seed)}
    got = checks.produced_triples(work, workload, sorted({t[1] for t in expected}))
    p, r = checks.triple_scores(got, expected)
    res["triple_f1"] = 2 * p * r / (p + r) if p + r else 0.0
    res["checks"] = checks.output_checks(work, workload, cfg, res["cost_history"], p, r)
    res["mrr"] = checks.mrr(work)
    res["link_auc"] = checks.link_auc(work)
    # Spark sums the epoch cost in task order, which can move its last
    # digits between runs of one seed; 12 significant digits are stable
    res["final_cost"] = float(f"{res['cost_history'][-1]:.12g}")


def passed(res: dict) -> bool:
    return not res.get("error") and bool(res.get("checks")) and all(res["checks"].values())


def _skew(rows: list[int]) -> float:
    """Max rows per partition over the mean."""
    return max(rows) / (sum(rows) / len(rows)) if rows and sum(rows) else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _dn, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dp, f)) for f in files
            if not f.startswith(".") and not f.startswith("_")
        )
    return total


def layer_outputs(res: dict, workload: str) -> dict[str, dict]:
    """rows_out, part_skew and bytes_out per layer, from `<stage>/_lineage`
    rows per partition and the checkpoint files the call wrote."""
    import pyarrow.parquet as pq

    from workloads import EPOCHS

    work = res["work_dir"]
    out = {layer: (0, 0.0, 0) for layer in LAYERS}
    for stage, layer in STAGE_LAYER.items():
        lineage = os.path.join(work, stage, "_lineage")
        if os.path.isdir(lineage):
            rows = pq.read_table(lineage).column("rows").to_pylist()
            out[layer] = (sum(rows), _skew(rows), _dir_bytes(os.path.join(work, stage, "data")))
    last = os.path.join(work, "params", f"params_epoch={EPOCHS[workload] - 1:04d}")
    rows = [
        pq.ParquetFile(os.path.join(last, f)).metadata.num_rows
        for f in sorted(os.listdir(last)) if f.endswith(".parquet")
    ]
    out["glove.train"] = (sum(rows), _skew(rows), _dir_bytes(os.path.join(work, "params")))
    export = os.path.join(work, "export")
    vec_dir = next(os.path.join(export, d) for d in os.listdir(export) if d.endswith(".vectors.tsv"))
    rows = []
    for f in sorted(os.listdir(vec_dir)):
        if f.startswith("part-"):
            with open(os.path.join(vec_dir, f), encoding="utf-8") as fh:
                rows.append(sum(1 for line in fh if not line.startswith("#")))
    out["output.export"] = (sum(rows), _skew(rows), _dir_bytes(export))
    if workload == "rdf_kg":
        rows = res["spark_counters"]["parse_rows"]
        out["sources.parse"] = (sum(rows), _skew(rows), 0)
    return {
        layer: {"rows_out": r, "part_skew": k, "bytes_out": b} for layer, (r, k, b) in out.items()
    }


def layer_metrics(res: dict, workload: str, untraced_s: float) -> dict[str, float]:
    """Per-layer self time and CPU from the traced call's spans and /proc
    samples, plus outputs and counters read from its work_dir."""
    import pyarrow.parquet as pq

    import checks

    spans, samples, work = res["spans"], res["samples"], res["work_dir"]
    gaps = self_intervals(spans)
    agg = {layer: [0.0, 0.0, 0.0] for layer in LAYERS}
    root = next(s for s in spans if s["parent"] is None)
    for s in spans:
        if s is root:
            continue
        a = agg[s["name"]]
        for g0, g1 in gaps[s["id"]]:
            cpu, py = procfs.cpu_between(samples, g0, g1)
            a[0] += g1 - g0
            a[1] += cpu
            a[2] += py
    outputs = layer_outputs(res, workload)
    out: dict[str, float] = {}
    cores = os.cpu_count()
    for layer, (wall, cpu, py) in agg.items():
        out[f"{layer}.wall_s"] = wall
        out[f"{layer}.cpu_s"] = cpu
        out[f"{layer}.py_cpu_s"] = py
        out[f"{layer}.cpu_util"] = cpu / (wall * cores) if wall > 0 else 0.0
        for k, v in outputs[layer].items():
            out[f"{layer}.{k}"] = v
    counters = res.get("spark_counters", {})
    if workload == "web_kg":
        linked = outputs["extract.triples"]["rows_out"]
        out["extract.link_yield"] = linked / counters["surface_triples"]
        text = pq.read_table(os.path.join(work, "extract", "data")).column("text").to_pylist()
        out["extract.empty_text"] = sum(1 for t in text if t == "")
    else:
        out["extract.link_yield"] = 0.0
        out["extract.empty_text"] = 0
    out["sources.parse_rejects"] = counters.get("parse_rejects", 0)
    out["graph.sim_pairs"] = outputs["graph.sim_edges"]["rows_out"] // 2
    meta = checks.cooc_meta(work)
    out["bca.entries_per_root"] = meta["co_count"] / meta["vocab_size"]
    params = os.path.join(work, "params")
    marks = sorted(
        os.path.getmtime(os.path.join(params, d, "_SUCCESS"))
        for d in os.listdir(params) if d.startswith("params_epoch=")
    )
    out["glove.epoch_s"] = statistics.median(b - a for a, b in zip(marks, marks[1:]))
    train_s = agg["glove.train"][0]
    out["glove.entries_per_s"] = meta["co_count"] * len(res["cost_history"]) / train_s
    pipeline_s = res["pipeline_s"]
    root_self = sum(e - s for s, e in gaps[root["id"]])
    out["pipeline.unattributed_s"] = pipeline_s - sum(a[0] for a in agg.values())
    out["pipeline.span_coverage"] = 1.0 - root_self / pipeline_s
    out["pipeline.trace_overhead_s"] = pipeline_s - untraced_s
    out["pipeline.peak_rss_mb"] = res["peak_rss_mb"]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    deadline = time.monotonic() + RUN_DEADLINE_S
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "graph_embeddings_spark", "pipeline.py")):
        print("perfbench: run from the repository root (graph_embeddings_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    state = os.path.join(root, ".perfbench_run")
    from inputs import ensure_inputs

    input_path = ensure_inputs(os.path.join(state, "inputs"), args.workload, args.seed)
    context = {"loadavg": os.getloadavg(), "spin_s": spin_calibration(), "cores": os.cpu_count()}
    print(json.dumps({"context": context}), flush=True)
    history = os.path.join(state, f"untraced-{args.workload}.jsonl")

    def worker(trace: int, tag: str) -> dict:
        res = run_worker(root, state, args.workload, args.seed, input_path, trace, tag, deadline)
        evaluate(res, args.workload, args.seed)
        if passed(res) and not trace:
            with open(history, "a") as f:
                f.write(json.dumps({"seed": args.seed, "pipeline_s": res["pipeline_s"]}) + "\n")
        return res

    def untraced_times() -> list[float]:
        if not os.path.exists(history):
            return []
        with open(history) as f:
            return [json.loads(line)["pipeline_s"] for line in f]

    metrics: dict = {}
    if args.trace:
        # the overhead baseline is the median untraced call of this workload
        # in this checkout; with none yet, make one first
        runs = [] if untraced_times() else [worker(0, "untraced")]
        traced = worker(1, "traced")
        runs.append(traced)
        if passed(traced):
            total_self = sum(
                e - s for gaps in self_intervals(traced["spans"]).values() for s, e in gaps
            )
            # the spans' self times must add back up to the traced call
            traced["checks"]["spans_reconcile"] = abs(total_self - traced["pipeline_s"]) < 1e-6
        ok = [passed(r) for r in runs]
        if all(ok):
            units = per_layer_units()
            values = layer_metrics(traced, args.workload, statistics.median(untraced_times()))
            metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    else:
        runs = []
        first = time.monotonic()
        while not runs or (time.monotonic() - first < args.seconds and passed(runs[-1])):
            runs.append(worker(0, str(len(runs))))
        ok = [passed(r) for r in runs]
        if all(ok):
            values = {
                k: statistics.median(r[k] for r in runs)
                for k in ("pipeline_s", "setup_s", "cpu_s")
            }
            for k in ("triple_f1", "mrr", "link_auc", "final_cost"):
                values[k] = runs[-1][k]
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    for r, good in zip(runs, ok):
        if good:
            shutil.rmtree(os.path.dirname(r["work_dir"]), ignore_errors=True)
        else:
            bad = [k for k, v in r.get("checks", {}).items() if not v]
            print(f"perfbench: failed call: {r.get('error') or bad}", file=sys.stderr)
    print(json.dumps({
        "correct": all(ok), "attempted": len(runs), "failed": ok.count(False), "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
