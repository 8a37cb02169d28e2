"""Deterministic stratified sampling for training-data pipelines.

Corpus construction downsamples per stratum (language, source domain,
quality bucket, ...) to hit a target mixture; doing it with `rand()`
is irreproducible across runs and engines. This operator ranks the
rows of each stratum by a stable md5 permutation (the same portable
hash the dedup/walk/ANF operators use: Spark conv(substr(md5..)) ==
DuckDB ('0x' || substr(md5..))::BIGINT) and keeps the first n — the
sample is a pure function of (doc_id, tag), so re-runs, engines, and
partitionings all agree, and changing `tag` draws an independent
sample without touching the data.

Scale design: one window partitioned BY THE STRATUM (never a global
sort). Spark's rank-limit pushdown inserts a WindowGroupLimit below
the shuffle, so each map task keeps only its local top-n per stratum
before anything moves — the shuffle carries O(n * strata), not the
corpus (tests/test_linkgraph_extras.py asserts the node). Strata are naturally bounded
(languages, domains); a single pathological stratum still costs only
its own top-n heap per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SPARK_RANK_HASH = (
    "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':{tag}')), 1, 15),"
    " 16, 10) AS BIGINT)"
)
DUCK_RANK_HASH = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{tag}'), 1, 15))"
    " AS BIGINT)"
)


def stratified_sample(
    docs: DataFrame, group_col: str = "lang", n: int = 20, tag: str = "sample"
) -> DataFrame:
    """First n docs per `group_col` stratum under the deterministic md5
    permutation. Returns (doc_id, <group_col>, rank), rank 1..n; doc_id
    breaks hash ties so the result is total-order stable."""
    h = F.expr(SPARK_RANK_HASH.format(tag=tag))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", group_col)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= n)
    )
