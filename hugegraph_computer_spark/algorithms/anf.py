"""Approximate Neighborhood Function (ANF) — per-vertex h-hop reach
counts, exact and Flajolet-Martin-sketched.

N(v, h) = |{u : dist(v, u) <= h}| over an undirected view (self
included). The neighborhood function underlies effective-diameter and
centrality estimates on web-scale link graphs (Palmer/Gibbons/Faloutsos
"ANF", KDD'02; Boldi/Rosa/Vigna "HyperANF", WWW'11) and is the classic
case where the EXACT computation cannot scale — materializing the
h-hop ball of every vertex is Theta(sum_v |B(v,h)|) rows, which a
single celebrity hub inflates to ~V^2 at h>=2 — while the sketch runs
in O(h) edge-shuffles with CONSTANT per-vertex state.

Two modes, both deterministic:

- `anf_exact(graph, hops)`: materialized distinct (v, reached) pairs,
  one dedup shuffle per hop. Only safe on bounded-ball subgraphs, so
  the gated query runs it on the `reply` etype subgraph (conversation
  chains, ball size <= turns-per-conv); the docstring above is WHY the
  general case is gated through the sketch instead.

- `anf_sketch(graph, hops, k)`: per vertex, k Flajolet-Martin 64-bit
  registers. Register j of v starts as the lowest-set-bit of an
  md5 hash of v's string id and seed j; each round every
  vertex ORs in its neighbors' registers (one E-shuffle `bit_or`
  aggregation — JVM-side, no UDF), so after h rounds register j of v
  is the OR over the exact h-hop ball. The estimate is the textbook FM
  count 2^R / phi with R the lowest-zero-bit position averaged over
  the k registers. Per-vertex state: k longs, CONSTANT in graph size —
  the 100-TB path. The "randomness" is a deterministic md5 hash written
  in portable SQL (the walks/dedup pipelines' trick), so even the sketch
  is value-oracled against DuckDB (oracles/sql.py::anf_sketch), not
  just statistically tested.

Estimator quality is pytest-asserted against `anf_exact` on the same
graph (tests/test_linkgraph_extras.py): small positive FM bias
(~+5%), mean relative error well inside the 1/(phi*sqrt(k)) envelope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hugegraph_computer_spark.engine.rounds import pin

# Register seeds hash the STRING vertex id via md5 — the same portable
# hash the walk/dedup pipelines use (Spark conv(substr(md5..)) ==
# DuckDB ('0x' || substr(md5..))::BIGINT), so both engines evaluate
# identical values. A linear hash of dense ids is NOT usable here:
# reply-chain balls hold consecutive ids, and the trailing-zero pattern
# of an arithmetic progression is quasi-deterministic (measured +33%
# aggregate bias vs md5's +5%). Lowest-set-bit is capped at 2^20 so
# registers stay far from BIGINT overflow under the |/+1 arithmetic.
SPARK_MD5INT = "CAST(conv(substr(md5(concat(id, '{tag}')), 1, 15), 16, 10) AS BIGINT)"
DUCK_MD5INT = "CAST(('0x' || substr(md5(concat(id, '{tag}')), 1, 15)) AS BIGINT)"
BITS_CAP = 1 << 20
FM_PHI = 0.77351


def _sym(edges: DataFrame, etypes: tuple[str, ...] | None) -> DataFrame:
    """Distinct symmetric self-loop-free (src, dst) pairs, optionally
    restricted to `etypes` — expression-identical to the oracle's
    `und`/`re` CTEs."""
    e = edges
    if etypes is not None:
        e = e.where(F.col("etype").isin(list(etypes)))
    e = e.select("src", "dst")
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    return sym.where(F.col("src") != F.col("dst")).dropDuplicates(["src", "dst"])


def anf_exact(
    graph, hops: int = 3, etypes: tuple[str, ...] | None = ("reply",)
) -> DataFrame:
    """Exact N(v, h) for h in 1..hops as (id, hops, reach). Materializes
    every h-hop ball — see module docstring for why this mode must stay
    on bounded-ball subgraphs (default: reply chains)."""
    re, _ = pin(_sym(graph.edges, etypes))
    ball = graph.vertices.select(
        F.col("id").alias("v"), F.col("id").alias("u")
    )
    per_hop = []
    for h in range(1, hops + 1):
        grown = ball.unionByName(
            ball.join(re, ball["u"] == re["src"]).select(
                "v", F.col("dst").alias("u")
            )
        )
        ball, _ = pin(grown.dropDuplicates(["v", "u"]))
        per_hop.append(
            ball.groupBy(F.col("v").alias("id")).agg(
                F.count("*").alias("reach")
            ).select("id", F.lit(h).cast("int").alias("hops"), "reach")
        )
    out = per_hop[0]
    for df in per_hop[1:]:
        out = out.unionByName(df)
    return out


def _seed_exprs(k: int, md5int_tpl: str = SPARK_MD5INT) -> list[str]:
    """Register-initialization SQL expressions over the string vertex
    id — identical but for the engine's hex->BIGINT spelling
    (`md5int_tpl` is SPARK_MD5INT or DUCK_MD5INT)."""
    exprs = []
    for j in range(k):
        x = md5int_tpl.format(tag=f":anf:{j}")
        exprs.append(
            f"CASE WHEN {x} = 0 THEN {BITS_CAP} "
            f"ELSE least({x} & (0 - {x}), {BITS_CAP}) END AS r{j}"
        )
    return exprs


def _est_expr(k: int) -> str:
    """FM estimate from k registers: 2^(mean lowest-zero-bit) / phi.
    (0 - r - 1) is ~r in two's complement, so ((0-r-1) & (r+1)) isolates
    the lowest ZERO bit of r; log2 of that power of two is exact."""
    rsum = " + ".join(f"log2((0 - r{j} - 1) & (r{j} + 1))" for j in range(k))
    return f"round(power(2.0, ({rsum}) / {float(k)!r}) / {FM_PHI!r}, 4) AS est"


def anf_sketch(graph, hops: int = 3, k: int = 8) -> DataFrame:
    """Sketched N(v, h) for h in 1..hops as (id, hops, est) over the
    FULL undirected view — constant per-vertex state (k longs), one
    bit_or E-shuffle per hop. Deterministic: the register seeds are
    md5 hashes of the vertex id, so there is no randomness to seed and
    no global id-assignment step (seeding is a pure projection)."""
    und, _ = pin(_sym(graph.edges, None))
    state, _ = pin(graph.vertices.selectExpr("id", *_seed_exprs(k)))
    per_hop = []
    for h in range(1, hops + 1):
        msgs = (
            und.join(state.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.expr(f"bit_or(r{j})").alias(f"m{j}") for j in range(k)])
        )
        state, _ = pin(
            state.join(msgs, "id", "left").selectExpr(
                "id",
                *[
                    f"r{j} | coalesce(m{j}, CAST(0 AS BIGINT)) AS r{j}"
                    for j in range(k)
                ],
            )
        )
        per_hop.append(
            state.selectExpr(
                "id", f"CAST({h} AS INT) AS hops", _est_expr(k)
            )
        )
    out = per_hop[0]
    for df in per_hop[1:]:
        out = out.unionByName(df)
    return out


def effective_diameter(anf_df: DataFrame, alpha: float = 0.9) -> DataFrame:
    """Effective diameter from a neighborhood-function result (exact or
    sketched): the smallest h whose total reach covers `alpha` of the
    deepest hop's total — the headline statistic ANF/HyperANF exist to
    estimate on web-scale graphs. Returns one row
    (effective_diameter, coverage): coverage = total(h*)/total(H).

    Driver-free: two tiny aggregations over the (id, hops, reach|est)
    frame (V*hops rows), no action taken here."""
    val = "reach" if "reach" in anf_df.columns else "est"
    per_hop = anf_df.groupBy("hops").agg(F.sum(val).alias("total"))
    deepest = per_hop.agg(F.max("hops").alias("mh")).select(
        F.col("mh"), F.lit(1).alias("_k")
    )
    ranked = (
        per_hop.select("hops", "total", F.lit(1).alias("_k"))
        .join(deepest, "_k")
        .join(
            per_hop.select(F.col("total").alias("max_total"), F.col("hops").alias("mh")),
            "mh",
        )
        .where(F.col("total") >= F.lit(alpha) * F.col("max_total"))
    )
    return ranked.agg(
        F.min("hops").alias("effective_diameter"),
        F.round(
            F.min_by(F.col("total") / F.col("max_total"), F.col("hops")), 6
        ).alias("coverage"),
    )
