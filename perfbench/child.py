"""One benchmark run inside a fresh Python + JVM process.

Started by ``run.py`` with a JSON config path.  Calls only graftpark's
public API: set-up (session, input read, graph build, persist, block
build) is done ``setups`` times on fresh directories, then the
workload's kernels run in rounds, each through its result written to
parquet, for as many whole rounds as fit the measuring time (at least
one).  Writes ``result.json`` (and, when tracing, ``spans.jsonl``) into
the run directory; the parent checks correctness and aggregates.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import traceback

T_START = time.perf_counter()

from tracing import Tracer, check_span_tree, steal_s, tree_cpu_s  # noqa: E402


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(base, name))
            except OSError:
                pass
    return total


def loop_stats(res, after: int = 0) -> dict:
    """Superstep count and walls; ``after`` skips the supersteps a
    resumed run inherited from its checkpoint."""
    walls = [m["wall_s"] for m in res.metrics if "wall_s" in m and m["superstep"] > after]
    return {"supersteps": int(res.supersteps), "superstep_walls": walls,
            "converged": bool(res.converged)}


RESUME_AFTER = 3


def stopped_run(full: str, dest: str, last: int) -> None:
    """The checkpoint directory a run stopped after superstep ``last``
    leaves behind, cut from an uninterrupted run's (the kernel is
    deterministic, so its first ``last`` checkpoints are the same)."""
    keep = lambda n: not n.startswith("superstep=") or int(n.split("=")[1]) <= last  # noqa: E731
    shutil.copytree(full, dest, ignore=lambda base, names: [] if base != full else
                    [n for n in names if not keep(n)])
    path = os.path.join(dest, "metrics.jsonl")
    with open(path) as f:
        lines = [ln for ln in f if ln.strip() and json.loads(ln)["superstep"] <= last]
    with open(path, "w") as f:
        f.writelines(lines)


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.run_dir = cfg["run_dir"]
        self.tracer = Tracer(enabled=cfg["trace"])
        self.out = {"setups": [], "rounds": [], "round_costs": [], "errors": [], "counts": {}}
        self.ckpt = {"saves": 0}

    # -- instrumentation from outside: wrap the layer entry points ---------
    def instrument(self) -> None:
        import graftpark.blocks as blocks
        import graftpark.kernels.components as components
        import graftpark.kernels.labelprop as labelprop
        import graftpark.kernels.pagerank as pagerank
        import graftpark.loop as loop

        tracer, ckpt = self.tracer, self.ckpt

        def wrap(fn, name, on_call=None):
            def wrapped(*a, **kw):
                with tracer.span(name):
                    if on_call:
                        on_call()
                    return fn(*a, **kw)
            wrapped.__wrapped__ = fn
            return wrapped

        def count_save():
            ckpt["saves"] += 1

        blocks.ensure_edge_blocks = wrap(blocks.ensure_edge_blocks, "blocks.ensure_edge_blocks")
        loop.Checkpointer.save = wrap(loop.Checkpointer.save, "loop.checkpoint_save", count_save)
        rp = wrap(loop.resume_point, "loop.resume_load")
        for mod in (loop, pagerank, components, labelprop):
            mod.resume_point = rp

    # -- set-up ---------------------------------------------------------------
    def session(self):
        cfg = self.cfg
        with self.tracer.span("session.start") as sp:
            from graftpark import get_spark

            extra = {
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')}",
            }
            if cfg["trace"]:
                extra.update({
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                })
            spark = get_spark(master=f"local[{cfg['cores']}]", app_name="perfbench",
                              shuffle_partitions=cfg["partitions"], extra=extra)
        self.out["session_start_s"] = sp["wall_s"] + (sp["start"] - self.t0_epoch)
        self.out["session_cpu_s"] = tree_cpu_s(os.getpid())
        self.tracer.sc = spark.sparkContext
        return spark

    def setup(self, spark, r: int):
        from graftpark import Graph
        from graftpark.blocks import ensure_edge_blocks

        cfg, tr = self.cfg, self.tracer
        d = os.path.join(self.run_dir, f"setup{r}")
        os.makedirs(d)
        n_part = cfg["partitions"]
        info = {"dir": d}
        cpu0 = tree_cpu_s(os.getpid())
        with tr.span("setup", job_group=f"setup#{r}") as sp:
            if cfg["generator"] == "corpus":
                from graftpark.corpus import corpus_to_graph, extract_edges

                corpus = spark.read.parquet(cfg["data"])
                if cfg["trace"]:
                    with tr.span("corpus.extract_edges"):
                        self.out["counts"]["corpus.edges"] = extract_edges(corpus).count()
                with tr.span("corpus.to_graph"):
                    g, vertex_map = corpus_to_graph(corpus)
                with tr.span("graph.persist_for_iteration"):
                    g.persist_for_iteration(n_part)
                info["vertex_map"] = vertex_map
            else:
                sym = cfg["sym"]
                with tr.span("graph.load"):
                    g = Graph(spark.read.parquet(cfg["data"]))
                with tr.span("graph.persist_for_iteration"):
                    g.persist_for_iteration(n_part, sym=sym)
                info["block_dir"] = os.path.join(d, "blocks")
                with tr.span("blocks.build"):
                    ensure_edge_blocks(g.edges_sym() if sym else g.edges, n_part, info["block_dir"],
                                       sym=sym, stats=g.edge_stats(sym=sym))
                info["blocks_bytes"] = dir_bytes(info["block_dir"])
        info["wall_s"] = sp["wall_s"]
        info["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
        info["span"] = sp["id"]
        return g, info

    # -- kernels --------------------------------------------------------------
    def kernel(self, name: str, g, setup: dict, d: str, k: int) -> dict:
        from graftpark.kernels import (connected_components, label_propagation, mis_coloring,
                                       pagerank, triangle_count)
        from graftpark.kernels.components import components_df
        from graftpark.kernels.labelprop import labels_df
        from graftpark.kernels.pagerank import ranks_df

        tr = self.tracer
        bd = {"block_dir": setup["block_dir"]} if "block_dir" in setup else {}
        ck = os.path.join(d, f"{name}-ckpt")
        out = os.path.join(d, name)
        rec: dict = {"output": out}
        saves0, bytes0 = self.ckpt["saves"], 0
        if name == "resume":
            stopped_run(os.path.join(d, "components-ckpt"), ck, RESUME_AFTER)
            bytes0 = dir_bytes(ck)
        with tr.span(name, job_group=f"{name}#{k}") as sp:
            with tr.span(f"{name}.call") as call:
                if name == "pagerank":
                    res = pagerank(g, tol=1e-6, **bd)
                    df = ranks_df(res)
                elif name == "triangles":
                    rec["triangles"] = triangle_count(g)
                    res = df = None
                elif name == "coloring":
                    res = mis_coloring(g)
                    df = res.state
                elif name == "components":
                    res = connected_components(g, checkpoint_dir=ck, checkpoint_every=1, **bd)
                    df = components_df(res)
                elif name == "labelprop":
                    res = label_propagation(g, max_supersteps=5, **bd)
                    df = labels_df(res)
                elif name == "resume":
                    res = connected_components(g, checkpoint_dir=ck, checkpoint_every=1,
                                               resume=True, **bd)
                    df = components_df(res)
                else:
                    raise ValueError(name)
            if df is not None:
                with tr.span(f"{name}.result_write") as w:
                    df.write.parquet(out)
                rec["write_s"] = w["wall_s"]
            else:
                rec["write_s"] = 0.0
        rec["wall_s"] = sp["wall_s"]
        rec["call_s"] = call["wall_s"]
        rec["span"] = sp["id"]
        if res is not None:
            rec.update(loop_stats(res, RESUME_AFTER if name == "resume" else 0))
        rec["checkpoints"] = self.ckpt["saves"] - saves0
        rec["checkpoint_bytes"] = (dir_bytes(ck) if os.path.isdir(ck) else 0) - bytes0
        return rec

    def main(self) -> int:
        cfg = self.cfg
        self.t0_epoch = time.time() - (time.perf_counter() - T_START)
        self.instrument()
        spark = self.session()
        g = setup = None
        for r in range(cfg["setups"]):
            if g is not None:
                g.unpersist()
            try:
                g, setup = self.setup(spark, r)
                self.out["setups"].append({k: v for k, v in setup.items() if k != "vertex_map"})
            except Exception:
                self.out["errors"].append({"op": "setup", "error": traceback.format_exc(limit=3)})
                self.out["setups"].append({"failed": True})
                g = setup = None
        if setup is None:
            return self.finish(spark, 1)
        self.out["vertices"] = g.num_vertices()
        # whole rounds only: start another while it is predicted to end
        # within the measuring time, so a run never overshoots it
        t_ops = time.perf_counter()
        k, last = 0, 0.0
        while k == 0 or (time.perf_counter() - t_ops + last <= cfg["seconds"] and k < cfg["max_rounds"]):
            t_round, cpu0, steal0 = time.perf_counter(), tree_cpu_s(os.getpid()), steal_s()
            d = os.path.join(self.run_dir, f"round{k}")
            os.makedirs(d)
            rnd = {}
            for name in cfg["kernels"]:
                try:
                    rnd[name] = self.kernel(name, g, setup, d, k)
                except Exception:
                    self.out["errors"].append({"op": name, "round": k,
                                               "error": traceback.format_exc(limit=3)})
                    rnd[name] = {"failed": True}
            last = time.perf_counter() - t_round
            self.out["rounds"].append(rnd)
            self.out["round_costs"].append({"wall_s": last, "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
                                            "steal_s": steal_s() - steal0})
            k += 1
        if "vertex_map" in setup:
            setup["vertex_map"].write.parquet(os.path.join(self.run_dir, "vertex_map"))
            self.out["vertex_map"] = os.path.join(self.run_dir, "vertex_map")
        return self.finish(spark, 0)

    def finish(self, spark, code: int) -> int:
        self.out["span_violations"] = check_span_tree(self.tracer.spans)
        if self.cfg["trace"]:
            self.tracer.write_jsonl(os.path.join(self.run_dir, "spans.jsonl"))
        self.out["spans"] = self.tracer.spans
        spark.stop()
        with open(os.path.join(self.run_dir, "result.json"), "w") as f:
            json.dump(self.out, f)
        return code


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        config = json.load(f)
    for sub in ("tmp", "eventlog"):
        os.makedirs(os.path.join(config["run_dir"], sub), exist_ok=True)
    try:
        sys.exit(Run(config).main())
    finally:
        shutil.rmtree(os.path.join(config["run_dir"], "spark-local"), ignore_errors=True)
