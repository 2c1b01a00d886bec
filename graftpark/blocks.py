"""Per-partition CSR adjacency blocks inside Arrow UDFs.

The reference materializes the (transposed) adjacency matrix once as a
sparse GraphBLAS matrix and reuses it every superstep
(reference: src/traversals/BFS/bfs_BLAS.jl:18, BLAS_coloring.jl:26).
The Spark-native equivalent implemented here:

1. **Build once** (`write_edge_blocks`): bucket every edge by
   ``src_bucket = pmod(hash(src), P)`` (the same hash Spark uses for
   state partitioning), precompute ``dst_bucket``, and write one
   parquet directory per bucket. On a cluster this directory lives on
   shared storage (HDFS/S3/Iceberg); each executor reads only the
   buckets it processes, exactly once.

2. **Cache per worker** (`load_block`): inside the Arrow UDF, the first
   task that touches bucket *b* reads its parquet file and builds a
   CSR-of-Aᵀ block: edges sorted by ``dst`` with ``reduceat`` group
   boundaries. Python worker reuse (`spark.python.worker.reuse`,
   default on) keeps the block alive across supersteps, so steady-state
   supersteps move **only vertex state and partial aggregates** — the
   edge table never travels again.

3. **Packed gather per superstep** (`packed_gather_arrow_fn` and its
   min/mode variants, ``mapInArrow``): vertex state travels as ONE
   binary vector per bucket, aligned to the bucket's static sorted-id
   sidecar. Each bucket gathers per-edge values through static
   positions, reduces them per destination with ``np.add.reduceat`` /
   ``np.minimum.reduceat`` (or a lexsorted count for the mode
   semiring) — a vectorized sparse SpMV with *no hash table* — and
   emits one binary message per destination bucket, zero-copy tiled
   out of the partial vector.

4. **Bucket shuffle + Arrow finish** (`packed_finish_arrow_fn` and its
   min/mode variants, ``groupBy("bucket").applyInArrow``): the ~P²
   messages shuffle on the destination ``bucket`` (rows per superstep
   ∝ buckets², not edges) and each bucket scatters them into its next
   state vector through static positions, with the per-bucket
   convergence aggregates in the same row.

This is the BASELINE.json `north_star` execution strategy verbatim.
The pure-DataFrame formulations in kernels/ remain the semantic
reference; tests assert both strategies agree.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

#: worker-process block cache: (block_dir, token, bucket) -> dict of np
#: arrays. Lives in the Python worker across tasks/supersteps (worker
#: reuse); the generation ``token`` (from meta.json) invalidates stale
#: entries when a block_dir is rebuilt in place.
_BLOCK_CACHE: dict = {}
#: per-path meta.json cache: path -> (mtime_ns, meta dict)
_META_CACHE: dict = {}


# Block-dir on-disk layout generation. 2 = partition-perfect bucket ids
# (see partition_perfect_ids); 3 = edges sorted by (dst_bucket, dst) so
# per-dst partials are already dst-bucket-contiguous and the packed
# gather emits message payloads by direct slicing — no full-partial-
# vector rearrangement pass (one DRAM round-trip per bucket per
# superstep deleted); 4 = src ascending WITHIN each dst segment, so the
# per-edge gather positions are monotone inside every reduceat segment
# — measured ~26% faster per-bucket gather at 32-way concurrency on the
# bandwidth-saturated host (tools/kernel_lab.py), neutral at 8-way
# (sums are permutation-invariant per segment, so results are
# unchanged). Dirs written by older layouts rebuild on first use.
_LAYOUT_VERSION = 4


def _read_meta(block_dir: str) -> dict | None:
    """Read + cache meta.json, re-reading whenever its mtime changes —
    so a rebuilt block_dir invalidates every worker-side cache keyed on
    the generation token, with one os.stat per task."""
    path = os.path.join(block_dir, "meta.json")
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        return None
    cached = _META_CACHE.get(block_dir)
    if cached is not None and cached[0] == mtime:
        return cached[1]
    with open(path) as f:
        meta = json.load(f)
    _META_CACHE[block_dir] = (mtime, meta)
    return meta


def _block_token(block_dir: str) -> str | None:
    meta = _read_meta(block_dir)
    return meta["token"] if meta else None

_TRACE = os.environ.get("GRAFTPARK_UDF_TRACE", "")


def _trace(tag: str, t0: float, **kw) -> None:
    if _TRACE:
        import time

        with open(_TRACE, "a") as f:
            f.write(f"{tag} pid={os.getpid()} dt={time.perf_counter()-t0:.3f} {kw}\n")


def write_edge_blocks(edges: DataFrame, num_buckets: int, path: str, sym: bool = False) -> str:
    """Bucket the edge table by src and write one parquet dir per bucket.

    Columns written: (src, dst, dst_bucket); directory key = src_bucket.
    Done ONCE per graph; every superstep reads only worker-cached blocks.

    A ``meta.json`` records (num_buckets, n_edges, sym, content
    fingerprint, generation token) so a later call can detect a
    mismatched reuse of the directory (different bucket count, directed
    vs symmetrized edges, changed source graph — including a DIFFERENT
    graph with the same edge count, via the order-independent
    ``bit_xor(xxhash64(src, dst))`` fingerprint) instead of silently
    dropping/misrouting edges.
    """
    import shutil
    import uuid

    # Explicit delete: the overwrite mode only clears parquet partitions,
    # and under partitionOverwriteMode=dynamic would leave stale
    # meta.json/_npy/_vertices/_finish sidecars (and the root meta.json
    # breaks the validation re-read below). Never depend on the
    # static-overwrite default for sidecar hygiene.
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)

    b = (
        edges.select(
            "src",
            "dst",
            bucket_col("dst", num_buckets).alias("dst_bucket"),
            bucket_col("src", num_buckets).alias("src_bucket"),
        )
        .repartition(num_buckets, "src_bucket")
        # (dst_bucket, dst, src)-sorted within each bucket: CSR group
        # boundaries are a single flatnonzero at load time (equal dst ⇒
        # equal dst_bucket, so dst boundaries survive the grouping), the
        # per-dst partial vector comes out dst-bucket-contiguous — packed
        # messages are then direct slices of it (layout v3) — and src is
        # ascending within each dst segment so gather positions are
        # monotone per reduceat segment (layout v4)
        .sortWithinPartitions("dst_bucket", "dst", "src")
    )
    b.write.partitionBy("src_bucket").mode("overwrite").parquet(path)
    # one validation scan of the parquet just written: row count + an
    # order-independent content fingerprint (also proves the files read
    # back cleanly before any kernel trusts them)
    row = (
        edges.sparkSession.read.parquet(path)
        .agg(F.count("*").alias("n"), _fingerprint_agg().alias("fp"))
        .collect()[0]
    )
    meta = {
        "num_buckets": int(num_buckets),
        "n_edges": int(row["n"]),
        "fingerprint": int(row["fp"]),
        "sym": bool(sym),
        "layout": _LAYOUT_VERSION,
        "token": uuid.uuid4().hex,
    }
    tmp = os.path.join(path, "meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "meta.json"))
    return path


def _fingerprint_agg() -> F.Column:
    """Order-independent edge-content fingerprint: XOR of per-edge
    xxhash64(src, dst). Zero for the empty edge set."""
    return F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0))


def edge_stats(edges: DataFrame) -> tuple[int, int]:
    """(n_edges, fingerprint) of an edge DataFrame in ONE job."""
    row = edges.agg(F.count("*").alias("n"), _fingerprint_agg().alias("fp")).collect()[0]
    return int(row["n"]), int(row["fp"])


def ensure_edge_blocks(
    edges: DataFrame,
    num_buckets: int,
    path: str,
    sym: bool = False,
    stats: tuple[int, int] | None = None,
) -> str:
    """Build the block directory unless a COMPLETE, MATCHING one exists.

    Reuse requires: `_SUCCESS` marker (a crashed partial write never
    passes), meta.json present, and (num_buckets, sym, edge count,
    content fingerprint) all matching the requested build — otherwise
    the directory is rebuilt in place with a fresh generation token
    (which invalidates worker caches). The fingerprint catches a
    different graph with the same edge count reusing a stale block_dir
    (same-vertices-different-topology would otherwise pass every check).

    ``stats`` = precomputed ``(n_edges, fingerprint)`` (see
    :func:`edge_stats`); pass it when the caller can cache it — e.g.
    ``Graph.edge_stats()`` — so repeated kernel calls on the same graph
    skip the E-row validation scan entirely.
    """
    meta = _read_meta(path) if os.path.exists(os.path.join(path, "_SUCCESS")) else None
    if (
        meta is not None
        and meta.get("num_buckets") == int(num_buckets)
        and meta.get("sym") == bool(sym)
        and meta.get("layout") == _LAYOUT_VERSION
    ):
        n, fp = stats if stats is not None else edge_stats(edges)
        if meta.get("n_edges") == n and meta.get("fingerprint") == fp:
            return path
    return write_edge_blocks(edges, num_buckets, path, sym=sym)


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of one IntegerType value (hashInt, seed 42) —
    the hash HashPartitioning applies to a groupBy('bucket') shuffle."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = seed ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _spark_partition_of(bucket_id: int, num_partitions: int) -> int:
    """Shuffle partition Spark assigns an int32 bucket id (Pmod of the
    SIGNED Murmur3 hash)."""
    h = _murmur3_int32(bucket_id)
    return (h - 0x100000000 if h >= 0x80000000 else h) % num_partitions


_PP_CACHE: dict[int, np.ndarray] = {}


def partition_perfect_ids(num_buckets: int) -> np.ndarray:
    """Bucket ids whose Murmur3 placement is one-per-shuffle-partition.

    Naive ids 0..B-1 are balls-in-bins under HashPartitioning: for B=64
    they land in only 37 of 64 partitions, the worst partition holding
    FOUR buckets that then run serially in one task. At 8 cores the 64
    buckets take many waves and the imbalance averages out; at 32 cores
    (2 nominal waves) the 4-deep partition IS the superstep makespan —
    measured as the packed path's 8→32 scaling gap. These ids make the
    bucket-keyed shuffle place bucket ``ids[j]`` exactly in partition j
    (when spark.sql.shuffle.partitions == num_buckets, which
    `_superstep_confs` pins inside kernel loops), so every gather/finish
    stage is ``num_buckets`` equal tasks. Deterministic; int32; max id
    ~B·ln(B) (coupon-collector search), e.g. 239 for B=64."""
    ids = _PP_CACHE.get(num_buckets)
    if ids is None:
        out = np.full(num_buckets, -1, dtype=np.int32)
        remaining = num_buckets
        v = 0
        while remaining:
            p = _spark_partition_of(v, num_buckets)
            if out[p] < 0:
                out[p] = v
                remaining -= 1
            v += 1
        ids = out
        _PP_CACHE[num_buckets] = ids
    return ids


def bucket_ids_sorted(num_buckets: int) -> np.ndarray:
    """Ascending bucket-id universe for ``num_buckets`` (iteration order
    for per-dst-bucket segment layouts)."""
    return np.sort(partition_perfect_ids(num_buckets))


def _id_span(num_buckets: int) -> int:
    """Size of an array indexed directly by bucket id (max id + 1)."""
    return int(partition_perfect_ids(num_buckets).max()) + 1


def bucket_col(col: str, num_buckets: int):
    """The bucket expression shared by edge blocks and vertex state:
    hash-slot the vertex, then relabel the slot with its
    partition-perfect id (see :func:`partition_perfect_ids`)."""
    ids = partition_perfect_ids(num_buckets)
    slot = F.pmod(F.hash(col), F.lit(num_buckets))
    return F.element_at(F.array(*[F.lit(int(i)) for i in ids]), slot + F.lit(1))


_NPY_COLS = ("src_by_dst", "starts", "dst_unique", "dstb_unique")


def _build_npy(part: str, npy_dir: str) -> None:
    """Convert one bucket's (dst-sorted) parquet to flat .npy arrays, once.

    Atomic: built in a tmp dir, renamed into place; concurrent builders
    race harmlessly (same content, first rename wins).
    """
    import tempfile

    import pyarrow.parquet as pq

    t = pq.read_table(part, columns=["src", "dst", "dst_bucket"], use_threads=False)
    src = t.column("src").to_numpy(zero_copy_only=False)
    dst = t.column("dst").to_numpy(zero_copy_only=False)
    dstb = t.column("dst_bucket").to_numpy(zero_copy_only=False)
    if len(dst) and np.any(
        (dstb[1:] < dstb[:-1])
        | ((dstb[1:] == dstb[:-1]) & (dst[1:] < dst[:-1]))
        | ((dstb[1:] == dstb[:-1]) & (dst[1:] == dst[:-1]) & (src[1:] < src[:-1]))
    ):  # layout v4: total (dst_bucket, dst, src) order — src ascending
        # within each dst segment makes gather positions monotone per
        # reduceat segment (sum/min-invariant, faster under concurrency)
        order = np.lexsort((src, dst, dstb))
        src, dst, dstb = src[order], dst[order], dstb[order]
    starts = (
        np.flatnonzero(np.r_[True, dst[1:] != dst[:-1]])
        if len(dst)
        else np.empty(0, dtype=np.int64)
    )
    # per-bucket edge counts are < 2^31 by construction → int32 indices
    # halve the steady-state mmap traffic of every superstep
    if len(dst) < 2**31:
        starts = starts.astype(np.int32)
    arrays = {
        "src_by_dst": np.ascontiguousarray(src),
        "starts": starts,
        "dst_unique": np.ascontiguousarray(dst[starts]) if len(starts) else dst[:0],
        "dstb_unique": (
            np.ascontiguousarray(dstb[starts]).astype(np.int32) if len(starts) else dstb[:0].astype(np.int32)
        ),
    }
    tmp = tempfile.mkdtemp(dir=os.path.dirname(npy_dir))
    for name, arr in arrays.items():
        np.save(os.path.join(tmp, f"{name}.npy"), arr)
    try:
        os.replace(tmp, npy_dir)
    except OSError:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)  # another builder won the race


def load_block(block_dir: str, bucket: int) -> dict | None:
    """Worker-side: open (mmap) + cache the CSR block for one src bucket.

    Arrays are stored as flat .npy files (built once, by the first task
    that touches the bucket) and opened with ``mmap_mode='r'`` — every
    Python worker on the host shares ONE page-cache copy, so a "load"
    after the first is just an mmap open, not a read+sort.
    """
    key = (block_dir, _block_token(block_dir), bucket)
    if key in _BLOCK_CACHE:
        return _BLOCK_CACHE[key]
    part = os.path.join(block_dir, f"src_bucket={bucket}")
    if not os.path.isdir(part):
        _BLOCK_CACHE[key] = None
        return None
    npy_dir = os.path.join(block_dir, "_npy", f"bucket={bucket}")
    if not os.path.isdir(npy_dir):
        os.makedirs(os.path.join(block_dir, "_npy"), exist_ok=True)
        _build_npy(part, npy_dir)
    arrays = {
        name: np.load(os.path.join(npy_dir, f"{name}.npy"), mmap_mode="r")
        for name in _NPY_COLS
    }
    blk = {"n_edges": int(arrays["src_by_dst"].shape[0]), **arrays}
    _BLOCK_CACHE[key] = blk
    return blk


# 256k edges per chunk: the per-edge gather temp stays ~1 MB
# (float32/int64 ≤ 2 MB) — L2-resident instead of a full-bucket DRAM
# round-trip. Measured 2x per-bucket speedup on the 256M-edge scaling
# input at both 8 and 32 pinned cores (tools/bw_floor.py methodology);
# the gather is the DRAM-bandwidth-bound half of every packed superstep.
_GATHER_CHUNK = 1 << 18


def segment_gather_reduce(vals: np.ndarray, pos: np.ndarray, starts, op: str) -> np.ndarray:
    """Segment-reduce ``vals[pos]`` over CSR ``starts`` boundaries without
    materializing the full per-edge vector.

    Equivalent to ``ufunc.reduceat(vals[pos], starts)`` (ufunc = add or
    minimum) but gathered in `_GATHER_CHUNK`-edge chunks so the temp is
    cache-resident; a segment spanning a chunk boundary is merged with
    the op itself (exact for min; for float sums the merge only regroups
    additions at chunk boundaries — same magnitude of rounding as any
    partial-sum order).

    Precondition (CSR invariants, guaranteed by ``_build_npy``):
    ``starts`` is strictly increasing with ``starts[0] == 0``, and is
    empty iff ``pos`` is empty. Violating them would make the
    cross-chunk continuation merge write ``out[-1]`` via index
    wraparound (a silent merge into the wrong segment), so the cheap
    parts are asserted here.
    """
    starts = np.asarray(starts)
    n = len(pos)
    assert (len(starts) == 0) == (n == 0), "starts empty iff pos empty"
    assert n == 0 or starts[0] == 0, "CSR starts must begin at 0"
    ufunc = np.add if op == "sum" else np.minimum
    if n <= _GATHER_CHUNK:
        return ufunc.reduceat(vals[pos], starts) if n else vals[:0]
    out = np.empty(len(starts), dtype=vals.dtype)
    lo_seg, e0 = 0, 0
    while e0 < n:
        e1 = min(e0 + _GATHER_CHUNK, n)
        hi_seg = int(np.searchsorted(starts, e1, side="left"))
        local = starts[lo_seg:hi_seg].astype(np.int64) - e0
        # first local segment may continue one begun in the previous chunk
        cont = len(local) == 0 or local[0] != 0
        if cont:
            local = np.concatenate([np.zeros(1, np.int64), local])
        part = ufunc.reduceat(vals[pos[e0:e1]], local)
        if cont:
            out[lo_seg - 1] = ufunc(out[lo_seg - 1], part[0])
            out[lo_seg:lo_seg + len(part) - 1] = part[1:]
        else:
            out[lo_seg:lo_seg + len(part)] = part
        lo_seg, e0 = hi_seg, e1
    return out


def _group_idx(block_dir: str, bucket: int, blk: dict) -> np.ndarray:
    """Per-edge destination-group index (cached per worker)."""
    key = ("gi", block_dir, _block_token(block_dir), bucket)
    gi = _BLOCK_CACHE.get(key)
    if gi is None:
        counts = np.diff(np.append(blk["starts"], blk["n_edges"]))
        gi = np.repeat(np.arange(len(blk["starts"]), dtype=np.int64), counts)
        _BLOCK_CACHE[key] = gi
    return gi


def combine_mode(partials: pd.DataFrame, carriers: pd.DataFrame):
    """Winner label per destination: max total count, ties → min label.

    ``carriers`` has one row per vertex of the bucket (its own label,
    count 0 — it wins only when the vertex has no neighbor labels).
    Returns (ids, winner_labels, prev_labels) aligned ascending by id.
    """
    dst = np.concatenate([partials["dst"].to_numpy(), carriers["dst"].to_numpy()])
    lab = np.concatenate([partials["label"].to_numpy(), carriers["label"].to_numpy()])
    cnt = np.concatenate([partials["cnt"].to_numpy(),
                          np.zeros(len(carriers), dtype=np.int64)])
    o = np.lexsort((lab, dst))
    d_s, l_s, c_s = dst[o], lab[o], cnt[o]
    b = np.flatnonzero(np.r_[True, (d_s[1:] != d_s[:-1]) | (l_s[1:] != l_s[:-1])])
    cnt_u = np.add.reduceat(c_s, b)
    d_u, l_u = d_s[b], l_s[b]
    o2 = np.lexsort((l_u, -cnt_u, d_u))
    first = np.flatnonzero(np.r_[True, d_u[o2][1:] != d_u[o2][:-1]])
    win_dst = d_u[o2][first]
    win_lab = l_u[o2][first]
    car_dst = carriers["dst"].to_numpy()
    car_order = np.argsort(car_dst, kind="stable")
    prev = carriers["label"].to_numpy()[car_order]
    # carriers cover every vertex of the bucket → win_dst == sorted ids
    return win_dst, win_lab, prev


# ---------------------------------------------------------------------------
# Packed-message layer: vertex state and partial aggregates travel between
# buckets as raw float64/int64 vectors in single binary cells, not as
# per-vertex rows. The destination-id list of every (src_bucket b →
# dst_bucket c) message is STATIC — derivable from block b's npy arrays —
# so payloads carry values only; receivers reconstruct alignment from the
# shared mmap blocks + the per-bucket vertex sidecar. This removes the
# E-row-per-superstep JVM shuffle (its per-row/GC overhead dominated the
# scaling profile) while keeping the same bucket-keyed shuffle dataflow.
# ---------------------------------------------------------------------------

_V_COLS = ("ids", "out_deg")


def vertex_sidecar_writer(block_dir: str):
    """applyInPandas fn: write one bucket's static vertex arrays
    (sorted ids, out-degrees) as npy, once; emits (bucket, n_vertices)."""

    def fn(key, pdf):
        import tempfile

        bucket = int(key[0])
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        vdir = os.path.join(block_dir, "_vertices", f"bucket={bucket}")
        if not os.path.isdir(vdir):
            os.makedirs(os.path.join(block_dir, "_vertices"), exist_ok=True)
            tmp = tempfile.mkdtemp(dir=os.path.join(block_dir, "_vertices"))
            np.save(os.path.join(tmp, "ids.npy"), ids[order])
            np.save(os.path.join(tmp, "out_deg.npy"),
                    pdf["out_deg"].to_numpy()[order].astype(np.int64))
            try:
                os.replace(tmp, vdir)
            except OSError:
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
        return pd.DataFrame({"bucket": [bucket], "n": [len(ids)]})

    return fn


def load_vertices(block_dir: str, bucket: int) -> dict | None:
    """Worker-side: mmap-open one bucket's static vertex sidecar."""
    key = ("v", block_dir, _block_token(block_dir), bucket)
    if key in _BLOCK_CACHE:
        return _BLOCK_CACHE[key]
    vdir = os.path.join(block_dir, "_vertices", f"bucket={bucket}")
    if not os.path.isdir(vdir):
        _BLOCK_CACHE[key] = None
        return None
    out = {name: np.load(os.path.join(vdir, f"{name}.npy"), mmap_mode="r") for name in _V_COLS}
    _BLOCK_CACHE[key] = out
    return out


def _static_positions(block_dir: str, bucket: int, blk: dict) -> np.ndarray:
    """Per-edge gather positions into the bucket's (static) sidecar id
    vector, built once by the first toucher and mmap-shared ever after.

    Valid for the packed strategy only, where the state layout IS the
    sidecar (sorted ids) by construction.
    """
    key = ("spos", block_dir, _block_token(block_dir), bucket)
    pos = _BLOCK_CACHE.get(key)
    if pos is None:
        import tempfile

        npy_dir = os.path.join(block_dir, "_npy", f"bucket={bucket}")
        path = os.path.join(npy_dir, "positions.npy")
        if not os.path.exists(path):
            vtx = load_vertices(block_dir, bucket)
            ids = np.asarray(vtx["ids"])
            src = np.asarray(blk["src_by_dst"])
            p = np.searchsorted(ids, src)
            if len(ids) == 0 or np.any(p >= len(ids)) or not np.array_equal(ids[np.minimum(p, len(ids) - 1)], src):
                raise ValueError(
                    f"vertex sidecar of {block_dir!r} bucket {bucket} does not cover "
                    "every edge source — mismatched block directory reuse"
                )
            if len(ids) >= 2**31:
                raise ValueError("bucket too large for int32 positions")
            fd, tmp = tempfile.mkstemp(dir=npy_dir, suffix=".npy")
            os.close(fd)
            np.save(tmp, p.astype(np.int32))
            os.replace(tmp, path)
        pos = np.load(path, mmap_mode="r")
        _BLOCK_CACHE[key] = pos
    return pos


def _atomic_save_dir(parent: str, name: str, arrays: dict) -> str:
    """Write a dict of arrays into ``parent/name`` atomically; racing
    builders produce identical content, first rename wins."""
    import shutil
    import tempfile

    target = os.path.join(parent, name)
    if not os.path.isdir(target):
        os.makedirs(parent, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=parent)
        for k, v in arrays.items():
            np.save(os.path.join(tmp, f"{k}.npy"), v)
        try:
            os.replace(tmp, target)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return target


def _gather_offsets(block_dir: str, bucket: int, blk: dict, num_buckets: int) -> np.ndarray:
    """Per-dst-bucket segment offsets into block ``bucket``'s per-dst
    partial vector: ``offsets[c]:offsets[c+1]`` slices dst-bucket c's
    contiguous segment. Layout v3 stores edges (and therefore the unique
    dst list) sorted by (dst_bucket, dst), so the partial vector IS
    bucket-grouped — message payloads are direct slices, with no
    rearrangement gather (pre-v3 this was a full partial-vector DRAM
    round-trip per bucket per superstep). Offsets are indexed directly
    by (sparse) bucket id; tiny (~id_span int64), computed per worker
    from the mmap'd dstb_unique and cached."""
    key = ("goff", block_dir, _block_token(block_dir), bucket)
    off = _BLOCK_CACHE.get(key)
    if off is None:
        dstb = np.asarray(blk["dstb_unique"])
        counts = np.bincount(dstb, minlength=_id_span(num_buckets))
        off = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
        _BLOCK_CACHE[key] = off
    return off


def _finish_layout(block_dir: str, dst_bucket: int, num_buckets: int) -> dict:
    """Static scatter positions for bucket ``dst_bucket``'s incoming
    messages: ``pos[offsets[b]:offsets[b+1]]`` are the positions (into
    the bucket's sorted vertex vector) of src-bucket b's payload values.
    Built once by the first finish task to touch the bucket; mmap-shared."""
    key = ("flay", block_dir, _block_token(block_dir), dst_bucket)
    lay = _BLOCK_CACHE.get(key)
    if lay is None:
        parent = os.path.join(block_dir, "_finish")
        target = os.path.join(parent, f"bucket={dst_bucket}")
        if not os.path.isdir(target):
            vtx = load_vertices(block_dir, dst_bucket)
            ids_c = np.asarray(vtx["ids"])
            # chunks concatenated in ascending-bucket-id order; offsets
            # indexed directly by (sparse) bucket id, like _gather_layout
            chunks = []
            lengths = np.zeros(_id_span(num_buckets), dtype=np.int64)
            for b in bucket_ids_sorted(num_buckets):
                blk = load_block(block_dir, int(b))
                if blk is None or blk["n_edges"] == 0:
                    continue
                o = _gather_offsets(block_dir, int(b), blk, num_buckets)
                ids_bc = np.asarray(blk["dst_unique"])[o[dst_bucket]:o[dst_bucket + 1]]
                chunks.append(np.searchsorted(ids_c, ids_bc).astype(np.int32))
                lengths[int(b)] = len(ids_bc)
            pos = np.concatenate(chunks) if chunks else np.empty(0, np.int32)
            offsets = np.concatenate([[0], np.cumsum(lengths)]).astype(np.int64)
            _atomic_save_dir(parent, f"bucket={dst_bucket}",
                             {"pos": pos, "offsets": offsets})
        lay = {name: np.load(os.path.join(target, f"{name}.npy"), mmap_mode="r")
               for name in ("pos", "offsets")}
        _BLOCK_CACHE[key] = lay
    return lay


def _binary_tiles(values: np.ndarray, byte_offsets: np.ndarray):
    """Zero-copy ``pa.BinaryArray`` whose row *i* is the slice
    ``values[byte_offsets[i]:byte_offsets[i+1]]`` (byte addressed) of the
    SAME underlying buffer — no per-row ``tobytes()`` copies. The
    returned array holds a reference to ``values``' memory, and the
    Arrow stream serializer writes each yielded batch before the next is
    produced, so lifetime is safe inside mapInArrow generators."""
    import pyarrow as pa

    off = np.ascontiguousarray(byte_offsets, dtype=np.int32)
    if len(off) == 0 or int(off[-1]) != values.nbytes:
        raise ValueError("byte_offsets must tile the values buffer exactly")
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(off) - 1, [None, pa.py_buffer(off), pa.py_buffer(values)]
    )


def packed_gather_arrow_fn(block_dir: str, num_buckets: int, dtype: str = "float64"):
    """mapInArrow fn: packed state rows → packed partial-sum messages.

    Input rows: (bucket, payload = raw ranks). For each state row it
    emits the state itself (src_bucket=-1, so the superstep needs no
    separate carrier branch), the bucket's dangling mass broadcast to
    every bucket (src_bucket=-2), and ONE message per destination bucket
    holding the per-destination sums of rank/out_deg over the
    worker-cached CSR block.

    Layout v3+ stores the per-dst partial vector dst-bucket-contiguous,
    so the P outgoing messages are ONE zero-copy BinaryArray whose
    offsets tile the partial's own buffer (`_binary_tiles`); the only
    full-payload write on the gather side is the segment reduce itself —
    no per-message ``tobytes()`` copy and no serializer copy of Python
    bytes objects.

    ``dtype='float32'`` halves the dominant per-superstep memory traffic
    (per-edge gather temp + partial/state payloads) — the single-box
    DRAM-bandwidth lever for the high-core scaling pair. The dangling
    broadcast stays float64 (one scalar), and the finish stage
    accumulates the convergence delta in float64, so tol semantics are
    unchanged; ranks agree with the float64 path to ~1e-7 relative.
    """
    import pyarrow as pa

    dt = np.dtype(dtype)
    bids = bucket_ids_sorted(num_buckets)
    bids_i32 = np.ascontiguousarray(bids, dtype=np.int32)
    schema = pa.schema(
        [("bucket", pa.int32()), ("src_bucket", pa.int32()), ("payload", pa.binary())]
    )
    all_dst = pa.array(bids_i32)
    dang_src = pa.array(np.full(num_buckets, -2, np.int32))
    dang_off = np.arange(num_buckets + 1, dtype=np.int64) * 8

    def fn(batches):
        import time

        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index("bucket"))
            pcol = batch.column(batch.schema.get_field_index("payload"))
            for i in range(batch.num_rows):
                t0 = time.perf_counter()
                b = int(bcol[i].as_py())
                pbuf = pcol[i].as_buffer()
                # carrier row (src_bucket=-1): re-wrap the input buffer
                carrier = pa.BinaryArray.from_buffers(
                    pa.binary(), 1,
                    [None, pa.py_buffer(np.asarray([0, pbuf.size], np.int32)), pbuf],
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array([b], pa.int32()), pa.array([-1], pa.int32()), carrier],
                    schema=schema,
                )
                vtx = load_vertices(block_dir, b)
                if vtx is None:
                    continue
                rank = np.frombuffer(pbuf, dtype=dt)
                od = np.asarray(vtx["out_deg"])
                dang = float(rank[od == 0].astype(np.float64).sum())
                yield pa.RecordBatch.from_arrays(
                    [all_dst, dang_src,
                     _binary_tiles(np.full(num_buckets, dang, np.float64), dang_off)],
                    schema=schema,
                )
                blk = load_block(block_dir, b)
                if blk is None or blk["n_edges"] == 0:
                    continue
                w = np.divide(rank, od, out=np.zeros(len(rank), dtype=dt), where=od > 0)
                pos = _static_positions(block_dir, b, blk)
                partial = segment_gather_reduce(w, pos, blk["starts"], "sum")
                off = np.asarray(_gather_offsets(block_dir, b, blk, num_buckets))
                # offsets at the (sparse) actual bucket ids tile the
                # partial exactly: absent ids contribute zero counts, so
                # off[bids[j+1]] == end of bucket bids[j]'s segment.
                # Pairs with no edges become empty-payload rows (the
                # finish's scatter segment for them is empty too).
                seg = np.empty(num_buckets + 1, np.int64)
                seg[:-1] = off[bids]
                seg[-1] = off[-1]
                yield pa.RecordBatch.from_arrays(
                    [all_dst, pa.array(np.full(num_buckets, b, np.int32)),
                     _binary_tiles(partial, seg * dt.itemsize)],
                    schema=schema,
                )
                _trace("pgather", t0, bucket=b, edges=blk["n_edges"])

    return fn


def packed_finish_arrow_fn(block_dir: str, num_buckets: int, n_vertices: int,
                           alpha: float, tol_active: float, dtype: str = "float64"):
    """applyInArrow fn (grouped by bucket): combine packed messages into
    the bucket's next rank vector + per-bucket convergence aggregates.

    The damping base term is derived from the dangling-mass broadcast
    rows (src_bucket=-2), so the UDF is superstep-independent and
    supersteps chain inside one query. Partial accumulation happens in
    ``dtype``; the convergence delta/dangling aggregates are always
    accumulated float64. Payloads are read straight out of the Arrow
    IPC buffers (``scalar.as_buffer()`` → ``np.frombuffer``, zero-copy),
    never materialized as Python ``bytes``."""
    import pyarrow as pa

    dt = np.dtype(dtype)
    out_schema = pa.schema(
        [("bucket", pa.int32()), ("payload", pa.binary()), ("delta", pa.float64()),
         ("dangling", pa.float64()), ("active", pa.int64())]
    )

    def fn(key, table):
        import time

        t0 = time.perf_counter()
        c = int(key[0].as_py())
        vtx = load_vertices(block_dir, c)
        if vtx is None:
            return out_schema.empty_table()
        n_c = len(vtx["ids"])
        prev = None
        dm = 0.0
        sums = np.zeros(n_c, dtype=dt)
        flay = _finish_layout(block_dir, c, num_buckets)
        fpos, foff = np.asarray(flay["pos"]), np.asarray(flay["offsets"])
        srcb = table.column("src_bucket").to_numpy()
        pcol = table.column("payload")
        for i in range(len(srcb)):
            b = int(srcb[i])
            buf = pcol[i].as_buffer()
            if b == -1:
                prev = np.frombuffer(buf, dtype=dt)
            elif b == -2:
                dm += float(np.frombuffer(buf, dtype=np.float64)[0])
            else:
                sums[fpos[foff[b]:foff[b + 1]]] += np.frombuffer(buf, dtype=dt)
        if prev is None:
            prev = np.zeros(n_c, dtype=dt)
        base = (1.0 - alpha) / n_vertices + alpha * dm / n_vertices
        new = (base + alpha * sums.astype(np.float64, copy=False)).astype(dt, copy=False)
        diff = np.abs(new.astype(np.float64, copy=False) - prev.astype(np.float64, copy=False))
        od = np.asarray(vtx["out_deg"])
        _trace("pfinish", t0, bucket=c, msgs=len(srcb))
        return pa.Table.from_arrays(
            [pa.array([c], pa.int32()),
             _binary_tiles(new, np.asarray([0, new.nbytes], np.int64)),
             pa.array([float(diff.sum())], pa.float64()),
             pa.array([float(new[od == 0].astype(np.float64).sum())], pa.float64()),
             pa.array([int((diff > tol_active).sum())], pa.int64())],
            schema=out_schema,
        )

    return fn


def packed_expand_fn(block_dir: str, dtype: str = "float64", out_col: str = "rank"):
    """mapInPandas fn: packed state rows → per-vertex (id, value) rows."""
    dt = np.dtype(dtype)
    out = np.float64 if dt.kind == "f" else dt

    def fn(batches):
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                vtx = load_vertices(block_dir, int(row.bucket))
                if vtx is None:
                    continue
                yield pd.DataFrame(
                    {"id": np.asarray(vtx["ids"]),
                     out_col: np.frombuffer(row.payload, dtype=dt).astype(out, copy=False)}
                )

    return fn


def pack_fn(block_dir: str, value_col: str, dtype: str = "float64"):
    """applyInPandas fn (grouped by bucket): per-vertex rows → one packed
    row, value vector aligned to the bucket's sorted sidecar ids."""
    dt = np.dtype(dtype)

    def fn(key, pdf):
        bucket = int(key[0])
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        payload = pdf[value_col].to_numpy().astype(dt)[order]
        return pd.DataFrame(
            {"bucket": np.asarray([bucket], np.int32),
             "payload": [payload.tobytes()],
             "delta": [float("inf")], "dangling": [0.0], "active": [len(ids)]}
        )

    return fn


#: packed state row schema shared by every packed kernel
PACKED_SCHEMA = "bucket int, payload binary, delta double, dangling double, active long"


def make_packed_checkpointer(
    checkpoint_dir: str,
    every: int,
    block_dir: str,
    n_part: int,
    value_col: str,
    dtype: str = "float64",
):
    """Durable Checkpointer for packed kernels, plus its pack/expand fns.

    Packed state is opaque binary vectors; durable checkpoints must stay
    per-vertex parquet (north_rule: resumable with per-partition lineage
    + metrics readable by anything), so ``save`` expands to (id, value)
    rows before writing and re-packs the re-read, and ``load`` packs the
    parquet back into bucket rows. Returns ``(checkpointer, pack_df,
    expand_df)`` so kernels can reuse the same pack/expand closures for
    init and for the final result.
    """
    from graftpark.loop import Checkpointer

    sql_t = "double" if np.dtype(dtype).kind == "f" else "long"

    def pack_df(expanded: DataFrame) -> DataFrame:
        return (
            expanded.withColumn("bucket", bucket_col("id", n_part).cast("int"))
            .groupBy("bucket")
            .applyInPandas(pack_fn(block_dir, value_col, dtype), schema=PACKED_SCHEMA)
        )

    def expand_df(packed: DataFrame) -> DataFrame:
        return packed.mapInPandas(
            packed_expand_fn(block_dir, dtype, value_col),
            schema=f"id long, {value_col} {sql_t}",
        )

    class PackedCheckpointer(Checkpointer):
        """Durable checkpoints stay per-vertex parquet (north_rule)."""

        def save(self, state: DataFrame, superstep: int) -> DataFrame:
            reread = super().save(expand_df(state), superstep)
            return pack_df(reread)

        def load(self, spark, superstep: int) -> DataFrame:
            return pack_df(super().load(spark, superstep))

    ckpt = PackedCheckpointer(checkpoint_dir, every=every) if checkpoint_dir else None
    return ckpt, pack_df, expand_df


# ---------------------------------------------------------------------------
# Packed min-semiring layer (connected components): same static message
# layout as the PageRank packed path, but payloads are int64 labels and
# the reduce is elementwise minimum. Messages reuse _gather_offsets /
# _finish_layout — they describe the block topology, not the semiring.
# ---------------------------------------------------------------------------


def packed_gather_min_arrow_fn(block_dir: str, num_buckets: int):
    """mapInArrow fn: packed label rows → per-dst-bucket segment minima.

    Emits the state itself (src_bucket=-1) so the reduce needs no
    separate carrier branch, then one int64 message per destination
    bucket holding min-over-in-neighbors for that bucket's dst segment.
    Layout v3+ stores the per-dst minima dst-bucket-contiguous, so the P
    outgoing messages are ONE zero-copy BinaryArray tiling the partial's
    own buffer; pairs with no edges are empty-payload rows, which the
    finish treats as no-ops.
    """
    import pyarrow as pa

    bids = bucket_ids_sorted(num_buckets)
    bids_i32 = np.ascontiguousarray(bids, dtype=np.int32)
    schema = pa.schema(
        [("bucket", pa.int32()), ("src_bucket", pa.int32()), ("payload", pa.binary())]
    )
    all_dst = pa.array(bids_i32)

    def fn(batches):
        import time

        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index("bucket"))
            pcol = batch.column(batch.schema.get_field_index("payload"))
            for i in range(batch.num_rows):
                t0 = time.perf_counter()
                b = int(bcol[i].as_py())
                pbuf = pcol[i].as_buffer()
                carrier = pa.BinaryArray.from_buffers(
                    pa.binary(), 1,
                    [None, pa.py_buffer(np.asarray([0, pbuf.size], np.int32)), pbuf],
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array([b], pa.int32()), pa.array([-1], pa.int32()), carrier],
                    schema=schema,
                )
                blk = load_block(block_dir, b)
                if blk is None or blk["n_edges"] == 0:
                    continue
                labels = np.frombuffer(pbuf, dtype=np.int64)
                pos = _static_positions(block_dir, b, blk)
                partial = segment_gather_reduce(labels, pos, blk["starts"], "min")
                off = np.asarray(_gather_offsets(block_dir, b, blk, num_buckets))
                seg = np.empty(num_buckets + 1, np.int64)
                seg[:-1] = off[bids]
                seg[-1] = off[-1]
                yield pa.RecordBatch.from_arrays(
                    [all_dst, pa.array(np.full(num_buckets, b, np.int32)),
                     _binary_tiles(partial, seg * 8)],
                    schema=schema,
                )
                _trace("pgather_min", t0, bucket=b, edges=blk["n_edges"])

    return fn


def packed_finish_min_arrow_fn(block_dir: str, num_buckets: int):
    """applyInArrow fn (grouped by bucket): merge segment minima into
    the bucket's next label vector; 'active' counts label updates.
    Payloads are read straight from the Arrow IPC buffers (zero-copy)
    and the next label vector goes out as a tiled BinaryArray."""
    import pyarrow as pa

    out_schema = pa.schema(
        [("bucket", pa.int32()), ("payload", pa.binary()), ("delta", pa.float64()),
         ("dangling", pa.float64()), ("active", pa.int64())]
    )

    def fn(key, table):
        import time

        t0 = time.perf_counter()
        c = int(key[0].as_py())
        vtx = load_vertices(block_dir, c)
        if vtx is None:
            return out_schema.empty_table()
        flay = _finish_layout(block_dir, c, num_buckets)
        fpos, foff = np.asarray(flay["pos"]), np.asarray(flay["offsets"])
        srcb = table.column("src_bucket").to_numpy()
        pcol = table.column("payload")
        prev = None
        msgs = []
        for i in range(len(srcb)):
            b = int(srcb[i])
            buf = pcol[i].as_buffer()
            if b == -1:
                prev = np.frombuffer(buf, dtype=np.int64)
            else:
                msgs.append((b, buf))
        if prev is None:
            prev = np.full(len(vtx["ids"]), np.iinfo(np.int64).max, dtype=np.int64)
        new = prev.copy()
        for b, buf in msgs:
            seg = fpos[foff[b]:foff[b + 1]]  # unique positions within one b
            vals = np.frombuffer(buf, dtype=np.int64)
            new[seg] = np.minimum(new[seg], vals)
        changed = int((new != prev).sum())
        _trace("pfinish_min", t0, bucket=c, msgs=len(srcb))
        return pa.Table.from_arrays(
            [pa.array([c], pa.int32()),
             _binary_tiles(new, np.asarray([0, new.nbytes], np.int64)),
             pa.array([float(changed)], pa.float64()),
             pa.array([0.0], pa.float64()),
             pa.array([changed], pa.int64())],
            schema=out_schema,
        )

    return fn


# ---------------------------------------------------------------------------
# Packed mode-semiring layer (label propagation): messages carry, per
# static dst segment, a variable-length (label, count) list per dst,
# encoded as three arrays in one payload:
#   k[len(seg)] int32  — distinct-label count per dst (in segment order)
#   labels[sum(k)] int64, counts[sum(k)] int32
# The static segment layout is shared with the other packed semirings.
# ---------------------------------------------------------------------------


def packed_gather_mode_arrow_fn(block_dir: str, num_buckets: int):
    """mapInArrow fn: packed label rows → per-dst-bucket (label, count)
    lists. Labels change every superstep, so the per-edge (group, label)
    pairs are lexsorted per call before segment packing.

    The composite payload cannot alias the partial buffer directly;
    instead all P payloads are written ONCE into a single contiguous
    uint8 buffer and tiled zero-copy from there. Contiguous dst groups
    mean each segment's entries are a contiguous slice of the lexsorted
    (label, count) arrays — no fancy gather.
    """
    import pyarrow as pa

    bids = bucket_ids_sorted(num_buckets)
    bids_i32 = np.ascontiguousarray(bids, dtype=np.int32)
    schema = pa.schema(
        [("bucket", pa.int32()), ("src_bucket", pa.int32()), ("payload", pa.binary())]
    )
    all_dst = pa.array(bids_i32)

    def fn(batches):
        import time

        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index("bucket"))
            pcol = batch.column(batch.schema.get_field_index("payload"))
            for i in range(batch.num_rows):
                t0 = time.perf_counter()
                b = int(bcol[i].as_py())
                pbuf = pcol[i].as_buffer()
                carrier = pa.BinaryArray.from_buffers(
                    pa.binary(), 1,
                    [None, pa.py_buffer(np.asarray([0, pbuf.size], np.int32)), pbuf],
                )
                yield pa.RecordBatch.from_arrays(
                    [pa.array([b], pa.int32()), pa.array([-1], pa.int32()), carrier],
                    schema=schema,
                )
                blk = load_block(block_dir, b)
                if blk is None or blk["n_edges"] == 0:
                    continue
                state = np.frombuffer(pbuf, dtype=np.int64)
                pos = _static_positions(block_dir, b, blk)
                lab = state[pos]
                gi = _group_idx(block_dir, b, blk)
                o = np.lexsort((lab, gi))
                gi_s, lab_s = gi[o], lab[o]
                bnd = np.flatnonzero(
                    np.r_[True, (gi_s[1:] != gi_s[:-1]) | (lab_s[1:] != lab_s[:-1])]
                )
                cnt = np.diff(np.append(bnd, len(gi_s))).astype(np.int32)
                g_at = gi_s[bnd]
                lab_at = lab_s[bnd]
                n_groups = len(blk["starts"])
                k_per_dst = np.bincount(g_at, minlength=n_groups).astype(np.int32)
                ent_all = np.concatenate([[0], np.cumsum(k_per_dst, dtype=np.int64)])
                off = np.asarray(_gather_offsets(block_dir, b, blk, num_buckets))
                # per-dst-bucket byte sizes: 4*nk + 12*ne
                lo_g = off[bids]
                hi_g = np.empty(num_buckets, np.int64)
                hi_g[:-1] = off[bids[1:]]
                hi_g[-1] = off[-1]
                nk = hi_g - lo_g
                ne = ent_all[hi_g] - ent_all[lo_g]
                sizes = 4 * nk + 12 * ne
                offsets = np.concatenate([[0], np.cumsum(sizes)])
                buf = np.empty(int(offsets[-1]), np.uint8)
                for j in range(num_buckets):
                    lo, hi = int(lo_g[j]), int(hi_g[j])
                    if hi <= lo:
                        continue
                    e_lo, e_hi = int(ent_all[lo]), int(ent_all[hi])
                    p = int(offsets[j])
                    kb = 4 * (hi - lo)
                    lb = 8 * (e_hi - e_lo)
                    cb = 4 * (e_hi - e_lo)
                    buf[p:p + kb] = k_per_dst[lo:hi].view(np.uint8)
                    buf[p + kb:p + kb + lb] = lab_at[e_lo:e_hi].view(np.uint8)
                    buf[p + kb + lb:p + kb + lb + cb] = cnt[e_lo:e_hi].view(np.uint8)
                yield pa.RecordBatch.from_arrays(
                    [all_dst, pa.array(np.full(num_buckets, b, np.int32)),
                     _binary_tiles(buf, offsets)],
                    schema=schema,
                )
                _trace("pgather_mode", t0, bucket=b, edges=blk["n_edges"])

    return fn


def packed_finish_mode_arrow_fn(block_dir: str, num_buckets: int):
    """applyInArrow fn (grouped by bucket): merge per-segment label
    counts into the bucket's next labels — mode with min-label
    tie-break, own label wins only with no neighbor labels (count-0
    carrier), exactly the dataframe semantics (via combine_mode).
    Payloads are parsed from the Arrow buffers without materializing
    Python bytes."""
    import pyarrow as pa

    out_schema = pa.schema(
        [("bucket", pa.int32()), ("payload", pa.binary()), ("delta", pa.float64()),
         ("dangling", pa.float64()), ("active", pa.int64())]
    )

    def fn(key, table):
        import time

        t0 = time.perf_counter()
        c = int(key[0].as_py())
        vtx = load_vertices(block_dir, c)
        if vtx is None:
            return out_schema.empty_table()
        n_c = len(vtx["ids"])
        flay = _finish_layout(block_dir, c, num_buckets)
        fpos, foff = np.asarray(flay["pos"]), np.asarray(flay["offsets"])
        srcb = table.column("src_bucket").to_numpy()
        pcol = table.column("payload")
        prev = None
        pos_parts, lab_parts, cnt_parts = [], [], []
        for i in range(len(srcb)):
            b = int(srcb[i])
            buf = pcol[i].as_buffer()
            if b == -1:
                prev = np.frombuffer(buf, dtype=np.int64)
                continue
            seg = fpos[foff[b]:foff[b + 1]]
            nk = len(seg)
            if nk == 0 or buf.size == 0:
                continue
            k = np.frombuffer(buf, dtype=np.int32, count=nk)
            total = int(k.sum())
            labels = np.frombuffer(buf, dtype=np.int64, count=total, offset=4 * nk)
            counts = np.frombuffer(buf, dtype=np.int32, count=total,
                                   offset=4 * nk + 8 * total)
            pos_parts.append(np.repeat(seg.astype(np.int64), k))
            lab_parts.append(labels)
            cnt_parts.append(counts.astype(np.int64))
        if prev is None:
            prev = np.asarray(vtx["ids"], dtype=np.int64).copy()
        partials = pd.DataFrame({
            "dst": np.concatenate(pos_parts) if pos_parts else np.empty(0, np.int64),
            "label": np.concatenate(lab_parts) if lab_parts else np.empty(0, np.int64),
            "cnt": np.concatenate(cnt_parts) if cnt_parts else np.empty(0, np.int64),
        })
        carriers = pd.DataFrame({"dst": np.arange(n_c, dtype=np.int64), "label": prev})
        _, win_lab, prev_aligned = combine_mode(partials, carriers)
        changed = int((win_lab != prev_aligned).sum())
        new = np.ascontiguousarray(win_lab, dtype=np.int64)
        _trace("pfinish_mode", t0, bucket=c, msgs=len(srcb))
        return pa.Table.from_arrays(
            [pa.array([c], pa.int32()),
             _binary_tiles(new, np.asarray([0, new.nbytes], np.int64)),
             pa.array([float(changed)], pa.float64()),
             pa.array([0.0], pa.float64()),
             pa.array([changed], pa.int64())],
            schema=out_schema,
        )

    return fn
