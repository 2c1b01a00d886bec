"""PageRank — power iteration with damping, the engine's flagship kernel.

Schema-B superstep (full-vector iteration with per-vertex semiring
reduce, the generalization of the reference's weight-update SpMV,
reference: src/traversals/coloring/BLAS_coloring.jl:119-130):

    contribs = edges ⋈ state ON src   (edges pre-partitioned by src,
                                       state partitioned by id → no
                                       edge shuffle per superstep)
    sums     = contribs.groupBy(dst).agg(sum)   (the ONE E-row shuffle;
                                       partial aggregation map-side)
    state'   = state ⟕ sums ON id=dst (co-partitioned → no shuffle)
    rank'    = (1-α)/N + α·(sum + dangling_mass/N)

Dangling mass (Σ rank over out_deg=0) and the L1 convergence delta are
computed in the SAME single aggregate job on the merged state, so each
superstep runs exactly one E-row job plus one V-row agg (SURVEY.md §4.3.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graftpark.graph import Graph, choose_strategy, maybe_broadcast, resolve_strategy
from graftpark.loop import Checkpointer, LoopResult, iterate, resume_point


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    num_partitions: int | None = None,
    broadcast_state: bool | None = None,
    strategy: str = "auto",
    block_dir: str | None = None,
    steps_per_job: int = 1,
    payload_dtype: str = "float64",
) -> LoopResult:
    """Ranks sum to 1 over the full vertex set (isolated vertices included).

    Returns LoopResult whose state is ``(id, rank, out_deg, prev_rank)``;
    select ``(id, rank)`` for the result table.

    ``strategy`` is ``'auto'``, ``'packed'`` or ``'dataframe'``
    (``graph.resolve_strategy``). On the packed path ``steps_per_job``
    fuses up to that many supersteps into one Spark job; convergence is
    checked once per job, and the run never exceeds ``max_supersteps``.

    Skew handling: with broadcastable state (the default below
    GRAFTPARK_BROADCAST_V_LIMIT vertices) edges stay in balanced
    partitions and the slim rank projection is broadcast to them, so a
    power-law hub's out-edges are spread across all tasks; otherwise
    co-partitioned joins + AQE skew splitting (graph.py docstring).
    """
    spark = graph.spark
    n_part = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    n = graph.num_vertices()
    strategy = resolve_strategy(spark, strategy, n, broadcast_state, block_dir)
    if n == 0:
        return LoopResult(state=spark.createDataFrame([], "id LONG, rank DOUBLE"), converged=True)
    if strategy == "packed":
        return _pagerank_packed(
            graph, n, alpha, tol, max_supersteps, checkpoint_dir, checkpoint_every,
            resume, n_part, block_dir, steps_per_job, payload_dtype,
        )
    use_bc = choose_strategy(n, broadcast_state)
    graph.persist_for_iteration(n_part, key=None if use_bc else "src", sym=False)
    edges = graph.edges

    out_deg = edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    init = (
        graph.vertices()
        .join(out_deg, "id", "left")
        .select(
            "id",
            F.lit(1.0 / n).alias("rank"),
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.lit(0.0).alias("prev_rank"),
        )
        .repartition(n_part, "id")
    )

    checkpointer = Checkpointer(checkpoint_dir, every=checkpoint_every) if checkpoint_dir else None
    start, initial_metrics, state0 = 1, None, init
    # carried scalar: dangling mass of the current state (updated from the
    # same agg that computes the convergence delta — no extra job)
    dangling = {"mass": 0.0}

    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1
    if start == 1 or not initial_metrics:
        # fresh start, or resume without a surviving metrics record:
        # recompute dangling mass from the state itself (a 0.0 default
        # would silently converge to wrong ranks)
        dangling["mass"] = (
            state0.where(F.col("out_deg") == 0).agg(F.sum("rank")).collect()[0][0] or 0.0
        )
    else:
        dangling["mass"] = initial_metrics[-1]["dangling_mass"]

    def step(state: DataFrame, i: int) -> DataFrame:
        # single-shuffle superstep: edge contributions UNION one carrier row
        # per vertex (c=0, carrying out_deg + prev rank), then ONE
        # groupBy(dst) produces the complete next state — no merge join,
        # no second exchange (.explain: one E+V-row shuffle with map-side
        # partial aggregation; the edges⋈state join broadcasts the slim
        # rank projection or reuses the cached src-partitioning)
        ranks_slim = maybe_broadcast(
            state.where(F.col("out_deg") > 0).select("id", (F.col("rank") / F.col("out_deg")).alias("c")),
            use_bc,
        )
        contribs = (
            edges.join(ranks_slim, edges.src == F.col("id"))
            .select(
                F.col("dst"),
                F.col("c"),
                F.lit(None).cast("long").alias("out_deg"),
                F.lit(None).cast("double").alias("prev"),
            )
        )
        carriers = state.select(
            F.col("id").alias("dst"),
            F.lit(0.0).alias("c"),
            F.col("out_deg"),
            F.col("rank").alias("prev"),
        )
        base = (1.0 - alpha) / n + alpha * dangling["mass"] / n
        return (
            contribs.unionByName(carriers)
            .groupBy("dst")
            .agg(F.sum("c").alias("s"), F.max("out_deg").alias("od"), F.max("prev").alias("p"))
            .select(
                F.col("dst").alias("id"),
                (F.lit(base) + F.lit(alpha) * F.col("s")).alias("rank"),
                F.col("od").alias("out_deg"),
                F.col("p").alias("prev_rank"),
            )
        )

    def observe_cols() -> dict:
        # convergence aggregates ride on the state-materializing job
        return {
            "delta": F.sum(F.abs(F.col("rank") - F.col("prev_rank"))),
            "dm": F.sum(F.when(F.col("out_deg") == 0, F.col("rank")).otherwise(F.lit(0.0))),
            "active": F.count(F.when(F.abs(F.col("rank") - F.col("prev_rank")) > tol / n, True)),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        dangling["mass"] = observed["dm"] or 0.0
        return {
            "delta": float(observed["delta"]),
            "active": int(observed["active"]),
            "dangling_mass": dangling["mass"],
        }

    return iterate(
        state0,
        step,
        stats,
        converged_fn=lambda rec: rec["delta"] < tol,
        max_supersteps=max_supersteps,
        checkpointer=checkpointer,
        start_superstep=start,
        initial_metrics=initial_metrics,
        observe_cols=observe_cols,
    )


from contextlib import contextmanager


@contextmanager
def _superstep_confs(spark, n_part: int | None = None):
    """Session confs for fixed-shape superstep queries, restored on exit.

    AQE re-planning buys nothing for a loop whose partitioning we control
    (it coalesced the bucket-keyed shuffle below the core count, and adds
    a driver sync per stage); small Arrow batches add per-batch overhead
    on the state/partial streams.

    ``n_part`` pins ``spark.sql.shuffle.partitions`` to the bucket count
    for the loop: the partition-perfect bucket ids (see
    ``blocks.partition_perfect_ids``) place exactly one bucket per
    shuffle partition ONLY when the shuffle width equals the bucket
    count — any other width re-introduces balls-in-bins task skew.
    """
    saved = {}
    wanted = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "262144",
    }
    if n_part is not None:
        wanted["spark.sql.shuffle.partitions"] = str(int(n_part))
    for k, v in wanted.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _pagerank_packed(
    graph: Graph,
    n: int,
    alpha: float,
    tol: float,
    max_supersteps: int,
    checkpoint_dir: str | None,
    checkpoint_every: int,
    resume: bool,
    n_part: int,
    block_dir: str | None,
    steps_per_job: int = 1,
    payload_dtype: str = "float64",
) -> LoopResult:
    """Packed-message CSR strategy — the at-scale execution path.

    Edges are written once as per-bucket CSR blocks; vertex state and
    partial sums travel as ONE binary vector per (bucket) / per
    (src_bucket → dst_bucket) pair instead of per-vertex rows: the
    destination-id list of each message is static (derived from the
    shared mmap CSR blocks), so payloads are raw float64 values. A
    superstep therefore shuffles ~P² small binary rows (P = bucket
    count) rather than ~E rows — the per-row JVM/Arrow/GC overhead that
    dominated the 8→32-core scaling profile disappears, while the
    dataflow stays a plain bucket-keyed Spark shuffle (multi-executor
    semantics unchanged; static block/sidecar npy live on shared
    storage in a cluster deployment). Gather and finish are Arrow UDFs
    (``mapInArrow`` / ``applyInArrow``) with zero-copy payloads.

    Checkpoints expand to per-vertex (id, rank) parquet (north_rule:
    durable, per-partition lineage, resumable); the returned
    LoopResult.state is likewise the expanded per-vertex DataFrame.
    """
    import tempfile

    from graftpark.blocks import (
        PACKED_SCHEMA,
        bucket_col,
        ensure_edge_blocks,
        make_packed_checkpointer,
        packed_finish_arrow_fn,
        packed_gather_arrow_fn,
        vertex_sidecar_writer,
    )

    spark = graph.spark
    if block_dir is None:
        block_dir = tempfile.mkdtemp(prefix="graftpark-blocks-")
    ensure_edge_blocks(graph.edges, n_part, block_dir, sym=False, stats=graph.edge_stats(sym=False))

    out_deg = graph.edges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("out_deg"))
    vdf = (
        graph.vertices()
        .join(out_deg, "id", "left")
        .select(
            "id",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            bucket_col("id", n_part).cast("int").alias("bucket"),
        )
    )
    vdf = vdf.persist()
    # one-time: per-bucket static vertex sidecar (sorted ids, out-degrees)
    vdf.groupBy("bucket").applyInPandas(
        vertex_sidecar_writer(block_dir), schema="bucket int, n long"
    ).count()
    n_dangling = vdf.where(F.col("out_deg") == 0).count()

    k = max(1, steps_per_job)
    checkpointer, pack_df, expand_df = make_packed_checkpointer(
        checkpoint_dir, max(1, checkpoint_every // k), block_dir, n_part,
        "rank", payload_dtype,
    )
    init = pack_df(vdf.select("id", F.lit(1.0 / n).alias("rank")))
    start, initial_metrics, state0 = 1, None, init
    if resume and checkpointer is not None:
        rp = resume_point(checkpointer, spark)
        if rp is not None:
            state0, last, initial_metrics = rp
            start = last + 1

    # superstep-independent UDFs: the damping base is derived inside the
    # reduce from the dangling-mass broadcast rows, so ``k`` supersteps
    # chain into ONE query (one driver roundtrip, one lineage truncation)
    msg_schema = "bucket int, src_bucket int, payload binary"
    gather = packed_gather_arrow_fn(block_dir, n_part, payload_dtype)
    finish = packed_finish_arrow_fn(block_dir, n_part, n, alpha, tol / n, payload_dtype)

    def steps_before(records: list[dict], i: int) -> int:
        # supersteps run by jobs 1..i-1; a job with no record counts as full
        ran = {m["superstep"]: m.get("supersteps_in_job", k) for m in records}
        return sum(ran.get(j, k) for j in range(1, i))

    # jobs run k supersteps each from where the checkpoint left off (a
    # resumed run may follow a short job); the last job is cut short so
    # a run never passes max_supersteps
    done = steps_before(initial_metrics or [], start)
    n_jobs = start - 1 + max(0, -(-(max_supersteps - done) // k))

    def job_len(i: int) -> int:
        return min(k, max_supersteps - done - (i - start) * k)

    def step(state: DataFrame, i: int) -> DataFrame:
        for _ in range(job_len(i)):
            msgs = state.mapInArrow(gather, schema=msg_schema)
            state = msgs.groupBy("bucket").applyInArrow(finish, schema=PACKED_SCHEMA)
        return state

    def observe_cols() -> dict:
        return {
            "delta": F.sum("delta"),
            "dm": F.sum("dangling"),
            "active": F.sum("active"),
        }

    def stats(observed: dict, prev: DataFrame, i: int) -> dict:
        return {
            "delta": float(observed["delta"]),
            "active": int(observed["active"]),
            "dangling_mass": float(observed["dm"] or 0.0),
            "supersteps_in_job": job_len(i),
        }

    with _superstep_confs(spark, n_part):
        res = iterate(
            state0,
            step,
            stats,
            converged_fn=lambda rec: rec["delta"] < tol,
            max_supersteps=n_jobs,
            checkpointer=checkpointer,
            start_superstep=start,
            initial_metrics=initial_metrics,
            observe_cols=observe_cols,
        )
    vdf.unpersist()
    if k > 1:
        # normalize job-level metrics to per-superstep records numbered by
        # the supersteps actually run (delta / dangling reflect the job's
        # LAST superstep; walls are amortized)
        metrics = []
        for rec in res.metrics:
            kk = rec.get("supersteps_in_job", k)
            first = steps_before(res.metrics, rec["superstep"]) + 1
            for j in range(kk):
                metrics.append(
                    {
                        "superstep": first + j,
                        "wall_s": rec["wall_s"] / kk,
                        **({"delta": rec["delta"], "active": rec["active"],
                            "dangling_mass": rec["dangling_mass"]} if j == kk - 1 else {}),
                    }
                )
    else:
        metrics = res.metrics
    return LoopResult(
        state=expand_df(res.state),
        metrics=metrics,
        supersteps=done + sum(job_len(i) for i in range(start, res.supersteps + 1)),
        converged=res.converged,
    )


def ranks_df(result: LoopResult) -> DataFrame:
    return result.state.select("id", "rank")
