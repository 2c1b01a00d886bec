"""graftpark benchmark: cost to solution of the graph kernels, end to end
and split by layer.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Run from the root of a graftpark checkout.  One invocation runs one
workload: it generates the workload's input from ``--seed`` (cached,
checksum-verified), starts one fresh Python + JVM process
(``child.py``, Spark ``local[4]`` with 4 shuffle partitions) that sets
the graph up several times and then runs the workload's kernels in
whole rounds for ``--seconds``, checks every result against a
numpy/DuckDB reference, and prints one JSON object as its last line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
Spark's event log on and reports the per-layer split instead.  The lines
before the JSON give the wall-clock figures by name and unit.
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.  The exit code is 1 when any result is wrong, 2 when the
checkout holds no graftpark to measure.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import reference  # noqa: E402
import tracing  # noqa: E402
from workloads import BROADCAST_V_LIMIT, WORKLOADS, prepare_input  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
PARTITIONS = 4
SETUPS = 3          # graph set-ups per run; setup_s takes their median
MAX_ROUNDS = 5
CHILD_BUDGET_S = 165  # the whole invocation must end within 180 s

KERNELS = ("pagerank", "components", "labelprop", "triangles", "coloring")
SPARK_SPANS = ("setup", "pagerank", "components", "labelprop", "triangles", "coloring")

# CPU seconds of the whole process tree (driver, JVM, Python workers).
# Wall time on a shared VM moves with hypervisor steal far more than the
# bounds allow; it is printed and traced, not bounded (NOTES.md).
END_TO_END = {"setup_s": "s", "solve_cpu_s": "s"}

PER_LAYER = (
    [("session.start_s", "s"), ("corpus.extract_edges_s", "s"), ("corpus.to_graph_s", "s"),
     ("corpus.edges", "count"), ("graph.load_s", "s"), ("graph.persist_for_iteration_s", "s"),
     ("blocks.build_s", "s"), ("blocks.disk_bytes", "bytes"), ("setup.wall_s", "s")]
    + [(f"{k}.{m}", u) for k in KERNELS
       for m, u in (("wall_s", "s"), ("prologue_s", "s"), ("supersteps", "count"),
                    ("superstep_s_p50", "s"), ("superstep_s_p90", "s"), ("result_write_s", "s"))]
    + [("resume.wall_s", "s"), ("solve.wall_s", "s"),
       ("loop.edges_per_s_per_superstep", "edges/s"), ("loop.checkpoint_save_s", "s"),
       ("loop.checkpoints", "count"), ("loop.checkpoint_bytes", "bytes"), ("loop.resume_load_s", "s")]
    + [(f"spark.{s}.{m}", "count" if m in ("jobs", "stages", "tasks") else
        "bytes" if m.endswith("_bytes") else "s")
       for s in SPARK_SPANS for m in tracing.SPARK_METRICS]
    + [("process.peak_rss_mb", "MB"), ("process.python_workers", "count"),
       ("trace.overhead_cpu_s", "s")]
)


# -- the measured process ----------------------------------------------------

def driver_memory() -> str:
    """Spark driver heap: 1 GiB holds these inputs many times over and
    fits any host with 4 GiB (the library's 64g default exceeds small
    hosts, which may lack swap)."""
    total = tracing.host_info()["mem_total_bytes"]
    if total < 4 << 30:
        raise SystemExit(f"host has {total >> 20} MiB of RAM; the benchmark needs 4 GiB")
    return "1g"


def child_env(run_dir: str) -> dict:
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFTPARK_", "PYSPARK_", "SPARK_GRAFT"))}
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "GRAFTPARK_DRIVER_MEM": driver_memory(),
        "GRAFTPARK_BROADCAST_V_LIMIT": str(BROADCAST_V_LIMIT),
    })
    return env


def run_child(cfg: dict) -> tuple[int, dict | None, int]:
    """Run child.py; return (exit code, its result or None, peak tree RSS)."""
    run_dir = cfg["run_dir"]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(run_dir, "child.log"), "w") as log:
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                                cwd=run_dir, env=child_env(run_dir), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        peak = {"bytes": 0}
        done = threading.Event()

        def sample():
            while not done.wait(0.2):
                split = tracing.tree_rss_split(proc.pid)
                total = split["jvm"] + split["workers"] + split["driver"]
                if total > peak["bytes"]:
                    peak.update(split, bytes=total)

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        try:
            code = proc.wait(timeout=cfg["budget_s"])
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            done.set()
            sampler.join()
            _stop_group(proc)
    try:
        with open(os.path.join(run_dir, "result.json")) as f:
            result = json.load(f)
    except (OSError, ValueError):
        return code, None, peak["bytes"]
    result["rss_at_peak"] = peak
    return code, result, peak["bytes"]


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 10
    while time.time() < deadline:
        # zombies are dead already; init reaps them on its own schedule
        alive = [p for p, (_, _, f) in tracing.process_table().items()
                 if f[0] != "Z" and _pgid(p) == proc.pid]
        if not alive:
            return
        time.sleep(0.05)


def _pgid(pid: int) -> int | None:
    try:
        return os.getpgid(pid)
    except OSError:
        return None


# -- correctness -----------------------------------------------------------

def _read(path: str, cols: tuple[str, str]) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=list(cols))
    a = t.column(cols[0]).to_numpy(zero_copy_only=False)
    b = t.column(cols[1]).fill_null(-1).to_numpy(zero_copy_only=False)
    return a, b


class Checker:
    """References computed once per run, outside every timed region."""

    def __init__(self, workload: str, inp: dict, result: dict):
        self.edges = inp["edges"]
        self.vertices = None
        self.id_to_input = None
        if WORKLOADS[workload]["generator"] == "corpus":
            # engine ids -> repo numbers via the vertex map the run wrote
            import pyarrow.parquet as pq

            vm = pq.read_table(result["vertex_map"], columns=["repo", "id"]).to_pydict()
            lut = np.zeros(max(vm["id"]) + 1, dtype=np.int64)
            lut[np.asarray(vm["id"])] = [int(r.split("_")[1]) for r in vm["repo"]]
            self.id_to_input = lut
            self.vertices = np.arange(1, inp["n_ids"] + 1)
        self._ref: dict = {}

    def ids(self, got: np.ndarray) -> np.ndarray:
        return self.id_to_input[got] if self.id_to_input is not None else got

    def ref(self, name: str):
        if name not in self._ref:
            e, v = self.edges, self.vertices
            self._ref[name] = {
                "pagerank": lambda: reference.pagerank(e, v),
                "components": lambda: reference.components(e, v),
                "labelprop": lambda: reference.label_propagation(e, 5, v),
                "triangles": lambda: reference.triangles(e),
            }[name]()
        return self._ref[name]

    def check(self, name: str, rec: dict, rnd: dict) -> str | None:
        if rec.get("failed"):
            return f"{name}: raised"
        if name == "triangles":
            want = self.ref("triangles")
            return None if rec["triangles"] == want else f"triangles: {rec['triangles']} != {want}"
        if name == "coloring":
            got_ids, colors = _read(rec["output"], ("id", "color"))
            ids = self.vertices if self.vertices is not None else np.unique(self.edges)
            return reference.check_coloring(self.edges, ids, self.ids(got_ids), colors)
        col = {"pagerank": "rank", "components": "comp", "labelprop": "label", "resume": "comp"}[name]
        got_ids, vals = _read(rec["output"], ("id", col))
        got_ids = self.ids(got_ids)
        if name == "pagerank":
            ids, want = self.ref("pagerank")
            return reference.check_close(ids, want, got_ids, vals, name, atol=1e-6)
        ids, want = self.ref("labelprop" if name == "labelprop" else "components")
        vals = self.ids(vals)
        err = reference.check_equal(ids, want, got_ids, vals, name)
        if err is None and name == "resume":
            base = rnd.get("components")
            if base is None or base.get("failed"):
                return "resume: no uninterrupted run to compare with"
            base_ids, base_vals = _read(base["output"], ("id", "comp"))
            a, b = np.argsort(got_ids), np.argsort(base_ids)
            if not (np.array_equal(got_ids[a], self.ids(base_ids)[b])
                    and np.array_equal(vals[a], self.ids(base_vals)[b])):
                err = "resume: differs from the uninterrupted run"
        return err


# -- metrics ---------------------------------------------------------------

def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    return float(np.percentile(xs, q)) if xs else 0.0


def kernel_stats(result: dict, name: str) -> dict:
    recs = [r[name] for r in result["rounds"] if name in r and not r[name].get("failed")]
    walls = [w for r in recs for w in r.get("superstep_walls", [])]
    return {
        "wall_s": _median([r["wall_s"] for r in recs]),
        "prologue_s": _median([r["call_s"] - sum(r.get("superstep_walls", [])) for r in recs]),
        "supersteps": recs[0].get("supersteps", 0) if recs else 0,
        "superstep_s_p50": _pct(walls, 50),
        "superstep_s_p90": _pct(walls, 90),
        "result_write_s": _median([r["write_s"] for r in recs]),
        "superstep_walls": walls,
    }


def summarize(workload: str, inp: dict, result: dict) -> dict:
    """End-to-end metrics, the wall-clock figures and per-kernel stats."""
    spec = WORKLOADS[workload]
    setups = [s for s in result["setups"] if not s.get("failed")]
    per_kernel = {k: kernel_stats(result, k) for k in spec["kernels"]}
    step = _median([w for k in spec["superstep_kernels"] for w in per_kernel[k]["superstep_walls"]])
    return {
        "end_to_end": {
            "setup_s": result["session_cpu_s"] + _median([s["cpu_s"] for s in setups]),
            "solve_cpu_s": _median([c["cpu_s"] for c in result["round_costs"]]),
        },
        "wall": {
            "setup_wall_s": result["session_start_s"] + _median([s["wall_s"] for s in setups]),
            "solve_s": _median([sum(r[k]["wall_s"] for k in spec["kernels"]) for r in result["rounds"]
                                if not any(r[k].get("failed") for k in spec["kernels"])]),
            "edges_per_s_per_superstep": inp["n_edges"] / step if step else 0.0,
            "steal_s": _median([c["steal_s"] for c in result["round_costs"]]),
        },
        "kernels": per_kernel,
    }


def per_layer(result: dict, summary: dict, peak_rss: int, overhead_cpu_s: float, events: dict) -> dict:
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def total(root: int, name: str) -> float:
        out, todo = 0.0, [root]
        while todo:
            for c in kids.get(todo.pop(), []):
                if c["name"] == name:
                    out += c["wall_s"]
                todo.append(c["id"])
        return out

    ok_setups = [s for s in result["setups"] if not s.get("failed")]
    med = sorted(ok_setups, key=lambda s: s["wall_s"])[len(ok_setups) // 2]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m["session.start_s"] = result["session_start_s"]
    for layer in ("corpus.extract_edges", "corpus.to_graph", "graph.load",
                  "graph.persist_for_iteration", "blocks.build"):
        m[layer + "_s"] = total(med["span"], layer)
    m["corpus.edges"] = result["counts"].get("corpus.edges", 0)
    m["blocks.disk_bytes"] = med.get("blocks_bytes", 0)
    m["setup.wall_s"] = summary["wall"]["setup_wall_s"]
    for k, st in summary["kernels"].items():
        if k in KERNELS:
            for f in ("wall_s", "prologue_s", "supersteps", "superstep_s_p50", "superstep_s_p90",
                      "result_write_s"):
                m[f"{k}.{f}"] = st[f]
    if "resume" in summary["kernels"]:
        m["resume.wall_s"] = summary["kernels"]["resume"]["wall_s"]
    m["solve.wall_s"] = summary["wall"]["solve_s"]
    m["loop.edges_per_s_per_superstep"] = summary["wall"]["edges_per_s_per_superstep"]
    rnd0 = result["rounds"][0]
    kernel_spans = [rec["span"] for rec in rnd0.values() if "span" in rec]
    m["loop.checkpoint_save_s"] = sum(total(s, "loop.checkpoint_save") for s in kernel_spans)
    m["loop.checkpoints"] = sum(rec.get("checkpoints", 0) for rec in rnd0.values())
    m["loop.checkpoint_bytes"] = sum(rec.get("checkpoint_bytes", 0) for rec in rnd0.values())
    m["loop.resume_load_s"] = sum(total(s, "loop.resume_load") for s in kernel_spans)
    targets = {"setup": by_id[med["span"]]}
    targets.update({k: by_id[rec["span"]] for k, rec in rnd0.items() if k in SPARK_SPANS and "span" in rec})
    for name, span in targets.items():
        for f, v in tracing.spark_span_metrics(events.get(span.get("job_group")), span).items():
            m[f"spark.{name}.{f}"] = v
    m["process.peak_rss_mb"] = peak_rss / 2**20
    m["process.python_workers"] = result["rss_at_peak"].get("n_workers", 0)
    m["trace.overhead_cpu_s"] = overhead_cpu_s
    return m


# -- driver ----------------------------------------------------------------

def _history_path() -> str:
    return os.path.join(WORK, "untraced_solve_cpu_s.jsonl")


def untraced_solve_cpu_s(workload: str) -> float | None:
    """Median solve_cpu_s of this checkout's last untraced runs."""
    try:
        with open(_history_path()) as f:
            vals = [r["solve_cpu_s"] for r in map(json.loads, f) if r["workload"] == workload]
    except OSError:
        return None
    return statistics.median(vals[-10:]) if vals else None


def one_run(args, inp: dict, trace: bool, budget_s: float) -> dict:
    spec = WORKLOADS[args.workload]
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-seed{args.seed}-trace{int(trace)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "run_dir": run_dir, "generator": spec["generator"], "data": inp["data"],
        "sym": spec["packed"], "kernels": spec["kernels"], "trace": trace,
        "seconds": args.seconds, "max_rounds": MAX_ROUNDS, "setups": SETUPS,
        "cores": CORES, "partitions": PARTITIONS, "budget_s": budget_s,
    }
    code, result, peak = run_child(cfg)
    return {"run_dir": run_dir, "code": code, "result": result, "peak_rss": peak}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"],
                   help='one workload, or "all" to run each in turn')
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        return max(subprocess.call([sys.executable, os.path.abspath(__file__), "--workload", w,
                                    "--seed", str(args.seed), "--seconds", str(args.seconds),
                                    "--trace", str(args.trace)]) for w in WORKLOADS)
    t_begin = time.time()
    if not os.path.isfile(os.path.join(ROOT, "graftpark", "__init__.py")):
        print(f"no graftpark package under {ROOT}: run from a graftpark checkout", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    host = {"before": {**tracing.host_info(), **tracing.gather_bandwidth_probe()}}
    inp = prepare_input(os.path.join(WORK, "inputs"), args.workload, args.seed)

    runs = []
    base_cpu = untraced_solve_cpu_s(args.workload) if args.trace else None
    if args.trace and base_cpu is None:
        # no untraced reading of this workload yet: take one for the overhead
        runs.append(("untraced", one_run(args, inp, False, (CHILD_BUDGET_S - (time.time() - t_begin)) / 2)))
    runs.append(("main", one_run(args, inp, bool(args.trace), CHILD_BUDGET_S - (time.time() - t_begin))))

    attempted = failed = 0
    problems: list[str] = []
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "input": {k: inp[k] for k in ("dir", "n_edges", "n_ids")}}
    metrics, units = {}, {}
    n_ops = SETUPS + len(WORKLOADS[args.workload]["kernels"])
    for role, run in runs:
        res = run["result"]
        if res is None or run["code"] != 0:
            n = n_ops if res is None else len(res["setups"]) + sum(len(r) for r in res["rounds"])
            attempted += n
            failed += n
            problems.append(f"{role} run exited with {run['code']}; see {run['run_dir']}/child.log")
            continue
        attempted += len(res["setups"])
        failed += sum(1 for s in res["setups"] if s.get("failed"))
        problems += res["span_violations"]
        if WORKLOADS[args.workload]["packed"] and res["vertices"] <= BROADCAST_V_LIMIT:
            problems.append(f"input realizes {res['vertices']} vertices, not above {BROADCAST_V_LIMIT}")
        checker = Checker(args.workload, inp, res)
        for rnd in res["rounds"]:
            for name, rec in rnd.items():
                attempted += 1
                err = checker.check(name, rec, rnd)
                if err:
                    failed += 1
                    problems.append(err)
        problems += [e["error"].strip().splitlines()[-1] for e in res["errors"]]
        summary = summarize(args.workload, inp, res)
        solve_cpu = summary["end_to_end"]["solve_cpu_s"]
        if role == "untraced":
            base_cpu = solve_cpu
        if not args.trace or role == "untraced":
            if not problems:
                with open(_history_path(), "a") as f:
                    f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                        "solve_cpu_s": solve_cpu}) + "\n")
        report[role] = {**{k: v for k, v in summary.items() if k != "kernels"},
                        "kernels": {k: {f: v for f, v in st.items() if f != "superstep_walls"}
                                    for k, st in summary["kernels"].items()},
                        "setups": [{k: s.get(k) for k in ("wall_s", "cpu_s")} for s in res["setups"]],
                        "session": {"wall_s": res["session_start_s"], "cpu_s": res["session_cpu_s"]},
                        "round_costs": res["round_costs"], "rss_at_peak": res["rss_at_peak"],
                        "vertices": res["vertices"]}
        if role != "main":
            continue
        if args.trace:
            logs = glob.glob(os.path.join(run["run_dir"], "eventlog", "*"))
            if not logs:
                problems.append("no Spark event log was written")
            events = tracing.parse_event_log(logs[0]) if logs else {}
            metrics = per_layer(res, summary, run["peak_rss"], solve_cpu - (base_cpu or solve_cpu), events)
            units = dict(PER_LAYER)
        else:
            metrics, units = summary["end_to_end"], END_TO_END
        for k, st in summary["kernels"].items():
            print(f"{k}_s {st['wall_s']:.4f} s  (wall; supersteps {st['supersteps']}, "
                  f"superstep p50 {st['superstep_s_p50']:.4f} s)")
        for k, v in summary["wall"].items():
            print(f"{k} {v:.4f} {'edges/s' if k.startswith('edges') else 's'}  (wall)")
        print(f"peak_rss_mb {run['peak_rss'] / 2**20:.1f} MB  (whole process tree)")
    print(f"error_rate {failed / max(1, attempted):.4f} ratio  ({failed}/{attempted} ops)")

    host["after"] = {**tracing.host_info(), **tracing.gather_bandwidth_probe()}
    report.update(host=host, problems=problems, total_s=time.time() - t_begin)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_begin)}.json"), "w") as f:
        json.dump(report, f, indent=1)
    if not problems:
        for _, run in runs:
            shutil.rmtree(run["run_dir"], ignore_errors=True)
    for msg in problems:
        print("problem:", msg)
    correct = failed == 0 and not problems
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
