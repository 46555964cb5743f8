"""Locks around the candidates → verify → rank skeleton in ops.similarity.

- The oracle SQL text of all 64 gate queries is fingerprinted: a refactor
  of the shared SQL builders must leave every string byte-identical.
- The similarity gate queries, and the dedup queries that share the
  bucket-pair expansion, match their DuckDB oracles on the small testdata
  (the same canonical comparison as tools/check_oracles.py).
- Every entry that carries the dim guard fails loudly on vectors narrower
  than EMB_DIM instead of bucketing or ranking NULLs.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from readability_spark.ops import similarity
from tools.check_oracles import duck_connect, norm_frame

# the sf0.001 gate tables, read from the byte-identical copies perfbench
# keeps inside the repository
SF = str(Path(__file__).resolve().parents[1] / "perfbench" / "data"
         / "sf0.001")

# sha256 of json.dumps(oracle_sql(), sort_keys=True) over all 64 entries.
# This value changes only with a declared oracle change: update it in the
# same commit that states which oracle moved and why.
ORACLE_SQL_SHA256 = (
    "14d6b43040997f259f83a9f26add1786f68cbf0738429c5c6508e69b9c9f48e1")


def test_oracle_sql_fingerprint():
    oracles = entry.oracle_sql()
    assert len(oracles) == 64
    digest = hashlib.sha256(
        json.dumps(oracles, sort_keys=True).encode()).hexdigest()
    assert digest == ORACLE_SQL_SHA256


@pytest.fixture(scope="module")
def duck():
    con = duck_connect(SF)
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    "ann_cosine_topk", "ann_lsh_topk", "ann_multiprobe_topk",
    "ann_bandor_topk", "ann_ivf_topk", "ann_ivf_sampled",
    "dedup_embedding", "semdedup",
    "dedup_lsh_pairs", "dedup_near", "dedup_clusters",
])
def test_gate_query_matches_oracle(spark, duck, name):
    got = norm_frame(entry.queries()[name](spark, SF).toPandas())
    want = norm_frame(duck.sql(entry.oracle_sql()[name]).df())
    assert got[0] == want[0]
    assert got[1], f"{name}: empty result proves nothing"
    assert got[1] == want[1]


@pytest.fixture(scope="module")
def narrow_sf(spark, tmp_path_factory):
    """An sf dir whose embeddings are 32 wide (EMB_DIM is 64), with enough
    rows to hold the queries and every IVF seed centroid."""
    sf = tmp_path_factory.mktemp("narrow_sf")
    (spark.range(40)
     .select(F.col("id").alias("vec_id"),
             F.expr("transform(sequence(1, 32), i -> "
                    "cast(sin(id * 32 + i) as float))").alias("embedding"),
             F.lit(0).alias("label"))
     .write.parquet(str(sf / "embeddings.parquet")))
    return str(sf)


@pytest.mark.parametrize("fn", [
    similarity.lsh_cosine_topk, similarity.lsh_multiprobe_topk,
    similarity.lsh_bandor_topk, similarity.ivf_topk,
    similarity.ivf_topk_sampled, similarity.semdedup,
    similarity.embedding_near_dup,
], ids=lambda fn: fn.__name__)
def test_guarded_entry_rejects_narrow_embeddings(spark, narrow_sf, fn):
    # the quantizer entries checkpoint while building the plan, so the
    # failure may surface before collect()
    with pytest.raises(Exception, match="narrower than dim"):
        fn(spark, narrow_sf).collect()
