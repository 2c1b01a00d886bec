"""Label propagation community detection (synchronous, deterministic).

Each superstep every vertex adopts the MODE of its neighbors' labels,
ties broken by MIN label; vertices with no neighbors keep their own.
Same loop skeleton as the reference MIS outer loop
(reference: src/traversals/coloring/BLAS_coloring.jl:34-89 / SURVEY.md §2.9).

The mode-with-min-tie-break is computed shuffle-efficiently as
``groupBy(dst, label).count`` → ``groupBy(dst).agg(max(struct(cnt,
-label)))`` — two partial-aggregating hash shuffles, no window over a
single partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graftpark.graph import Graph, choose_strategy, maybe_broadcast, resolve_strategy
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point


def label_propagation(
    graph: Graph,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    strategy: str = "auto",
    block_dir: str | None = None,
) -> LoopResult:
    """State: ``(id, label, prev_label)``; result = select(id, label).

    ``strategy`` is ``'auto'``, ``'packed'`` or ``'dataframe'``
    (``graph.resolve_strategy``).
    """
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    strategy = resolve_strategy(spark, strategy, n, broadcast_state, block_dir)
    if strategy == "packed":
        return _lp_packed(
            graph, max_supersteps, n_part, block_dir,
            checkpoint_dir, checkpoint_every, resume,
        )
    use_bc = choose_strategy(n, broadcast_state)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src")
    sym = graph.edges_sym()

    init = (
        graph.vertices()
        .select("id", F.col("id").alias("label"), F.lit(None).cast("long").alias("prev_label"))
        .repartition(n_part, "id")
    )
    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, initial_metrics, state0 = 1, None, init
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1

    def step(state: DataFrame, i: int) -> DataFrame:
        # neighbor labels weight 1, UNION a weight-0 carrier per vertex
        # (its own label, doubling as prev_label). The carrier wins the
        # mode argmax only when the vertex has no neighbors — exactly
        # the keep-own-label rule — so no merge join is needed.
        lbl = maybe_broadcast(state.select("id", "label"), use_bc)
        prop = sym.join(lbl, sym.src == lbl.id).select(
            F.col("dst"), F.col("label"), F.lit(1).alias("w"), F.lit(None).cast("long").alias("prev")
        )
        carriers = state.select(
            F.col("id").alias("dst"), F.col("label"), F.lit(0).alias("w"), F.col("label").alias("prev")
        )
        counts = (
            prop.unionByName(carriers)
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("cnt"), F.max("prev").alias("prev"))
        )
        return (
            counts.groupBy("dst")
            .agg(
                F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("b"),
                F.max("prev").alias("prev"),
            )
            .select(
                F.col("dst").alias("id"),
                (-F.col("b.neg")).alias("label"),
                F.col("prev").alias("prev_label"),
            )
        )

    def observe_cols() -> dict:
        return {
            "changed": F.count(F.when(F.col("label") != F.col("prev_label"), True)),
            "num_labels_approx": F.approx_count_distinct("label"),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        changed = int(observed["changed"])
        return {
            "delta": float(changed),
            "active": changed,
            "num_labels_approx": int(observed["num_labels_approx"]),
        }

    return iterate(
        state0,
        step,
        stats,
        converged_fn=lambda rec: rec["active"] == 0,
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
        start_superstep=start,
        initial_metrics=initial_metrics,
        observe_cols=observe_cols,
    )


def _lp_packed(
    graph: Graph,
    max_supersteps: int,
    n_part: int,
    block_dir: str | None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> LoopResult:
    """Packed mode-semiring label propagation — the at-scale LP path.

    Static-message dataflow like the PageRank/CC packed strategies, but
    mode messages are variable-length: per static dst segment, a
    (distinct-label count, labels, counts) triple per dst, merged in the
    reduce with the same min-tie-break argmax as the dataframe path
    (combine_mode). Tests assert exact equality with the dataframe
    formulation. Durable checkpoints expand to per-vertex (id, label)
    parquet with lineage (north_rule) and re-pack on resume.
    """
    import tempfile

    from graftpark.blocks import (
        PACKED_SCHEMA,
        bucket_col,
        ensure_edge_blocks,
        make_packed_checkpointer,
        packed_finish_mode_arrow_fn,
        packed_gather_mode_arrow_fn,
        vertex_sidecar_writer,
    )
    from graftpark.kernels.pagerank import _superstep_confs
    from graftpark.loop import iterate

    spark = graph.spark
    if block_dir is None:
        block_dir = tempfile.mkdtemp(prefix="graftpark-blocks-sym-")
    ensure_edge_blocks(graph.edges_sym(), n_part, block_dir, sym=True, stats=graph.edge_stats(sym=True))

    vdf = (
        graph.vertices()
        .select("id", F.lit(0).alias("out_deg"), bucket_col("id", n_part).cast("int").alias("bucket"))
        .persist()
    )
    vdf.groupBy("bucket").applyInPandas(
        vertex_sidecar_writer(block_dir), schema="bucket int, n long"
    ).count()

    checkpointer, pack_df, expand_df = make_packed_checkpointer(
        checkpoint_dir, checkpoint_every, block_dir, n_part, "label", "int64"
    )
    init = pack_df(vdf.select("id", F.col("id").alias("label")))
    start, initial_metrics, state0 = 1, None, init
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1

    msg_schema = "bucket int, src_bucket int, payload binary"
    gather = packed_gather_mode_arrow_fn(block_dir, n_part)
    finish = packed_finish_mode_arrow_fn(block_dir, n_part)

    def step(state: DataFrame, i: int) -> DataFrame:
        msgs = state.mapInArrow(gather, schema=msg_schema)
        return msgs.groupBy("bucket").applyInArrow(finish, schema=PACKED_SCHEMA)

    def observe_cols() -> dict:
        return {"changed": F.sum("active")}

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        changed = int(observed["changed"] or 0)
        return {"delta": float(changed), "active": changed}

    with _superstep_confs(spark, n_part):
        res = iterate(
            state0,
            step,
            stats,
            converged_fn=lambda rec: rec["active"] == 0,
            max_supersteps=max_supersteps,
            checkpointer=checkpointer,
            start_superstep=start,
            initial_metrics=initial_metrics,
            observe_cols=observe_cols,
        )
    vdf.unpersist()
    return LoopResult(state=expand_df(res.state), metrics=res.metrics,
                      supersteps=res.supersteps, converged=res.converged)


def labels_df(result: LoopResult) -> DataFrame:
    return result.state.select("id", "label")
