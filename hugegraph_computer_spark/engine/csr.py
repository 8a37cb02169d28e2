"""Per-partition CSR adjacency blocks via vectorized Arrow UDFs.

The reference stores each partition's out-edges as contiguous
adjacency-list records per vertex (FileGraphPartition.java:569-605,
streamed by EdgesInputFast.java:157-169). The Spark-native analogue
built here: edges are hash-bucketed by source (block_key =
pmod(hash(src), P) — the same explicit placement rule as the
reference's HashPartitioner.java:43-46), and each bucket is compacted
into ONE row holding numpy CSR arrays (srcs, indptr, dsts, weights) by
an applyInPandas group map — Arrow-batched, zero per-row Python.

Consumer: `csr_gather_contrib` executes a PageRank-style
scatter+partial-gather INSIDE each block with numpy (np.add.at over
destination codes), so the cluster-wide shuffle carries only the
per-block per-destination PARTIALS (<= distinct dst per block) instead
of one message per edge — the combiner pushed all the way into the
adjacency representation. At 100 TB this cuts the gather shuffle by the
average in-block fan-in factor.

`pagerank_csr` wires it into the reference-exact PageRank loop and is
allclose-verified against the pure-DataFrame implementation.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hugegraph_computer_spark.engine.rounds import RoundLoop

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("block_key", T.IntegerType(), False),
        T.StructField("chunk", T.IntegerType(), False),
        T.StructField("srcs", T.ArrayType(T.StringType()), False),
        T.StructField("indptr", T.ArrayType(T.LongType()), False),
        T.StructField("dsts", T.ArrayType(T.StringType()), False),
    ]
)

# default rows-per-chunk bound: ~2M edges * ~32B per id keeps one chunk
# row well under 100 MB (Spark's 2 GB single-record ceiling with >20x
# headroom) while staying large enough for numpy-efficient kernels
DEFAULT_CHUNK_EDGES = 2_000_000


def _block_key(col, num_blocks: int):
    return F.pmod(F.hash(col), F.lit(num_blocks)).cast("int")


def build_csr_blocks(
    edges: DataFrame,
    num_blocks: int = 32,
    chunk_edges: int = DEFAULT_CHUNK_EDGES,
) -> DataFrame:
    """edges(src, dst, ...) -> BOUNDED rows per block: CSR arrays sorted
    by src (lookups and contiguous scans match the reference's sorted
    per-partition edge files, FileGraphPartition.java:569-605), split
    into chunks of <= chunk_edges edges each, on source boundaries where
    possible (a source whose adjacency alone exceeds chunk_edges is
    split mid-source — the partial-gather consumer is additive per dst,
    so split sources just contribute two partials).

    The chunking is what makes this 100 TB-safe: without it one hash
    bucket's adjacency is a single row (unbounded -> 2 GB record limit)
    and gather parallelism is capped at num_blocks; with it, rows are
    bounded and a hot block fans out over many tasks."""

    def to_csr(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        key = int(pdf["block_key"].iloc[0])
        src_arr = pdf["src"].to_numpy()
        dst_arr = pdf["dst"].to_numpy()
        out: dict[str, list] = {
            "block_key": [],
            "chunk": [],
            "srcs": [],
            "indptr": [],
            "dsts": [],
        }
        n = len(pdf)
        lo = 0
        chunk = 0
        while lo < n:
            hi = min(lo + chunk_edges, n)
            if hi < n:
                # prefer a source boundary: back off to the start of the
                # source straddling hi (unless the chunk would be empty)
                boundary = np.searchsorted(src_arr, src_arr[hi], side="left")
                if boundary > lo:
                    hi = boundary
            srcs, counts = np.unique(src_arr[lo:hi], return_counts=True)
            indptr = np.concatenate(([0], np.cumsum(counts)))
            out["block_key"].append(key)
            out["chunk"].append(chunk)
            out["srcs"].append(srcs.tolist())
            out["indptr"].append(indptr.tolist())
            out["dsts"].append(dst_arr[lo:hi].tolist())
            lo = hi
            chunk += 1
        return pd.DataFrame(out)

    keyed = edges.withColumn("block_key", _block_key(F.col("src"), num_blocks))
    return keyed.groupBy("block_key").applyInPandas(to_csr, BLOCK_SCHEMA)


CONTRIB_SCHEMA = T.StructType(
    [
        T.StructField("dst", T.StringType(), False),
        T.StructField("msg_sum", T.DoubleType(), False),
    ]
)


def csr_gather_contrib(
    blocks: DataFrame, state: DataFrame, num_blocks: int = 32
) -> DataFrame:
    """Block-local scatter + partial gather: for each block, contrib =
    rank/outdeg of its sources expanded along CSR, np.add.at-combined
    per destination. `state` must carry (id, rank, outdeg) — global
    out-degrees ride the state side so chunk-split sources divide by
    their FULL degree. Returns per-block partials (dst, msg_sum) — the
    caller finishes with groupBy(dst).sum."""
    keyed_state = state.withColumn("block_key", _block_key(F.col("id"), num_blocks))

    def gather(st: pd.DataFrame, blk: pd.DataFrame) -> pd.DataFrame:
        if blk.empty or st.empty:
            return pd.DataFrame({"dst": [], "msg_sum": []})
        # a split source's rank/outdeg must use its FULL out-degree, so
        # out-degrees come from the state side (outdeg column), not from
        # per-chunk indptr diffs
        rank_by_id = pd.Series(st["rank"].to_numpy(), index=st["id"].to_numpy())
        deg_by_id = pd.Series(st["outdeg"].to_numpy(), index=st["id"].to_numpy())
        frames = []
        for i in range(len(blk)):
            srcs = np.asarray(blk["srcs"].iloc[i])
            indptr = np.asarray(blk["indptr"].iloc[i])
            dsts = np.asarray(blk["dsts"].iloc[i])
            seg = np.diff(indptr)  # edges of each src IN THIS CHUNK
            per_src = (
                rank_by_id.reindex(srcs).to_numpy()
                / np.maximum(deg_by_id.reindex(srcs).to_numpy(), 1)
            )
            contrib_per_edge = np.repeat(per_src, seg)
            codes, uniq = pd.factorize(dsts)
            sums = np.zeros(len(uniq), dtype=np.float64)
            np.add.at(sums, codes, contrib_per_edge)
            frames.append(pd.DataFrame({"dst": uniq, "msg_sum": sums}))
        out = pd.concat(frames, ignore_index=True)
        return out.groupby("dst", as_index=False, sort=False)["msg_sum"].sum()

    return keyed_state.groupBy("block_key").cogroup(
        blocks.groupBy("block_key")
    ).applyInPandas(gather, CONTRIB_SCHEMA)


def pagerank_csr(
    g,
    alpha: float = 0.15,
    l1_tol: float = 1e-6,
    max_supersteps: int = 100,
    num_blocks: int = 32,
    chunk_edges: int = DEFAULT_CHUNK_EDGES,
) -> tuple[DataFrame, int]:
    """Reference-exact PageRank (same math as algorithms/pagerank.py,
    PageRank.java:68-105) with the CSR-block gather. Returns
    (state(id, rank), supersteps)."""
    spark = g.vertices.sparkSession
    blocks = build_csr_blocks(g.edges, num_blocks, chunk_edges).persist()
    blocks.count()
    n = g.num_vertices
    # an empty graph has no ranks to seed; its one superstep halts on
    # the empty state
    init = 1.0 / n if n else 0.0
    # the Graph owns its memoized out-degree cache: read it, never
    # release it
    state = g.out_degrees().select(
        "id", "outdeg", F.lit(init).alias("rank"), F.lit(init).alias("prev_rank")
    )
    with RoundLoop("pagerank_csr", spark, max_rounds=max_supersteps) as loop:
        for s in loop:
            if s > 0:
                incoming = csr_gather_contrib(
                    blocks, state.select("id", "rank", "outdeg"), num_blocks
                ).groupBy("dst").agg(F.sum("msg_sum").alias("msg_sum"))
                joined = state.join(incoming, state["id"] == incoming["dst"], "left")
                new_rank = (
                    (F.lit(row["dang"] / n) + F.coalesce(F.col("msg_sum"), F.lit(0.0)))
                    * F.lit(1.0 - alpha)
                    + F.lit(alpha / n)
                ) / F.lit(row["cum"])
                state = joined.select(
                    state["id"].alias("id"),
                    "outdeg",
                    new_rank.alias("rank"),
                    state["rank"].alias("prev_rank"),
                )
            state, row = loop.cut(
                state,
                cum=F.sum("rank"),
                dang=F.sum(
                    F.when(F.col("outdeg") == 0, F.col("rank")).otherwise(0.0)
                ),
                l1=F.sum(F.abs(F.col("rank") - F.col("prev_rank"))),
            )
            # PageRank4Master.java:99-104
            loop.finish(converged=s > 1 and row["l1"] <= l1_tol)
    blocks.unpersist()
    return state.select("id", "rank"), loop.round + 1
