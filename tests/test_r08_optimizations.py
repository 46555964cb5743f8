"""Focused locks for the r8 optimization rewrites (OPTIMIZATION_r08.md).

Every r8 change is a value-identical rewrite of a Spark-side expression
or plan; these tests pin each equivalence directly (the oracle suite
pins them end-to-end against DuckDB, but a regression should fail HERE,
named, not as a generic oracle mismatch).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"

# token arrays that exercise every n-gram edge: empty, shorter than n,
# exactly n, duplicates, tokens containing the join char is impossible
# (whitespace tokenization) but single-char and long tokens are not
TOKEN_CASES = [
    [],
    ["a"],
    ["a", "b"],
    ["a", "b", "c"],
    ["x", "x", "x", "x"],
    ["alpha", "b", "gamma9", "b", "alpha", "zz", "q"],
    [str(i % 7) for i in range(25)],
]


def _tok_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TOKEN_CASES)],
        "doc_id bigint, toks array<string>")


@pytest.mark.parametrize("n", [2, 3, 5])
def test_ngram_zip_parts_equals_transform_slice_form(spark, n):
    """The zip-explode n-gram builder yields exactly the rows of the old
    interpreted transform(sequence, i -> array_join(slice(...))) form —
    same grams, same multiplicity, same per-doc positions."""
    from readability_spark.ops.common import ngram_zip_parts

    df = _tok_df(spark)
    old = (df.select(
        "doc_id", F.posexplode(F.expr(
            f"transform(if(size(toks) >= {n}, "
            f"sequence(1, size(toks) - {n} + 1), array()), "
            f"i -> array_join(slice(toks, i, {n}), ' '))"))
        .alias("pos", "gram")))
    zip_expr, gram_expr, last = ngram_zip_parts(n)
    new = (df.select(
        "doc_id", F.posexplode(F.expr(zip_expr)).alias("pos", "z"))
        .filter(F.expr(f"{last} IS NOT NULL"))
        .select("doc_id", "pos", F.expr(gram_expr).alias("gram")))
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))


def test_md5_prefix_int_fast_equals_instr_chain(spark):
    """conv()-parsed md5 slices == the spelled-out per-digit positional
    sum, for every (nhex, start) combination in use."""
    from readability_spark.ops.common import (md5_prefix_int_expr,
                                              md5_prefix_int_fast_expr)

    vals = ["", "a", "hello world", "ZZZZ", "0", "éé",
            "x" * 100] + [f"tok{i}" for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    for nhex, start in [(8, 1), (8, 9), (8, 17), (4, 3), (15, 2)]:
        got = df.select(
            F.expr(md5_prefix_int_expr("s", nhex, start)).alias("a"),
            F.expr(md5_prefix_int_fast_expr("s", nhex, start)).alias("b"))
        assert got.filter("a <> b OR (a IS NULL) <> (b IS NULL)") \
            .count() == 0, (nhex, start)


def test_md5_prefix_int_fast_rejects_widths_past_bigint():
    from readability_spark.ops.common import md5_prefix_int_fast_expr

    with pytest.raises(ValueError):
        md5_prefix_int_fast_expr("s", nhex=16)


def test_simhash_conv_form_equals_instr_form(spark):
    """The conv-word + shift/and + 2*b>n simhash equals the r7
    per-bit instr/substr ±1-sum form on the real corpus."""
    from readability_spark.ops.common import table, tokens_col
    from readability_spark.ops.dedup import _N_BITS, simhash

    docs = table(spark, SF, "documents")
    toks = (docs.select("doc_id",
                        F.explode(tokens_col("text")).alias("tok"))
            .withColumn("h", F.md5("tok")))
    aggs = [F.expr(
        f"sum(case when instr('89abcdef', substr(h, {j + 1}, 1)) > 0 "
        f"then 1 else -1 end)").alias(f"s{j}") for j in range(_N_BITS)]
    sig = " + ".join(
        f"(case when s{j} > 0 then cast({1 << j} as bigint) else 0 end)"
        for j in range(_N_BITS))
    old = (toks.groupBy("doc_id").agg(*aggs)
           .select("doc_id", F.expr(sig).alias("simhash")))
    new = simhash(spark, SF)
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_cosine_pre_norms_bit_identical(spark):
    """_with_cosine_pre over precomputed norms produces bit-identical
    cos values to the inline _with_cosine fold."""
    from readability_spark.ops.common import table
    from readability_spark.ops.similarity import (_norm_col, _with_cosine,
                                                  _with_cosine_pre)

    emb = table(spark, SF, "embeddings").filter(F.col("vec_id") < 60)
    q = emb.select(F.col("vec_id").alias("qid"),
                   F.col("embedding").alias("a"),
                   _norm_col("embedding").alias("na"))
    c = emb.select(F.col("vec_id").alias("nid"),
                   F.col("embedding").alias("b"),
                   _norm_col("embedding").alias("nb"))
    j = c.crossJoin(F.broadcast(q))
    old = _with_cosine(j).select("qid", "nid", "cos")
    new = _with_cosine_pre(j).select("qid", "nid", "cos")
    # exceptAll compares doubles exactly — bit-identity, not tolerance
    assert old.exceptAll(new).count() == 0
    assert new.exceptAll(old).count() == 0


def test_generate_filters_not_inferred(spark):
    """build_session excludes InferFiltersFromGenerate: the scan-side
    Filter below a tokenize+n-gram explode must NOT contain the cloned
    gram-construction subtree (the r7 plans evaluated it twice per row).
    decontaminate's candidate leg is the canonical case."""
    from readability_spark.ops.curation import decontaminate

    plan = decontaminate(spark, SF)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    # the inferred predicate manifests as size(...) > 0 over the zip/
    # tokenize expression inside a Filter node; after exclusion the only
    # Filters are the is_bench predicate legs
    for m in re.finditer(r"\(\d+\) Filter\s*\n(?:Input[^\n]*\n)?"
                         r"Condition : ([^\n]*)", plan):
        assert "arrays_zip" not in m.group(1), m.group(1)[:300]
        assert "size(" not in m.group(1), m.group(1)[:300]


def test_search_topk_prefilter_preserves_df_tf(spark):
    """The r8 semi-join pre-filter must not change df/tf: rebuild the
    un-filtered r7 shape inline and compare full outputs."""
    from pyspark.sql import Window
    from readability_spark.ops.common import table, tokens_col
    from readability_spark.ops.retrieval import (_QUERY_PRED, SEARCH_K,
                                                 search_topk)

    docs = (table(spark, SF, "documents")
            .select("doc_id", tokens_col("text").alias("toks"))
            .filter(F.size("toks") >= 1))
    n = table(spark, SF, "documents").count()
    postings = (docs.select("doc_id", F.explode("toks").alias("term"))
                .groupBy("term", "doc_id")
                .agg(F.count("*").cast("long").alias("tf")))
    df_t = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"))
    qterms = (docs.filter(F.expr(_QUERY_PRED))
              .select(F.col("doc_id").alias("query_id"),
                      F.explode(F.slice("toks", 1, 3)).alias("term"))
              .distinct())
    scored = (postings.join(df_t, "term")
              .withColumn("idf_int", F.expr(f"CAST({n} AS BIGINT) div df"))
              .join(F.broadcast(qterms), "term")
              .groupBy("query_id", "doc_id")
              .agg(F.sum(F.col("tf") * F.col("idf_int"))
                   .cast("long").alias("score")))
    win = (Window.partitionBy("query_id")
           .orderBy(F.desc("score"), F.asc("doc_id")))
    old = (scored.withColumn("rnk", F.row_number().over(win).cast("long"))
           .filter(F.col("rnk") <= SEARCH_K)
           .select("query_id", "rnk", "doc_id", "score"))
    new = search_topk(spark, SF).select("query_id", "rnk", "doc_id",
                                        "score")
    assert sorted(map(tuple, old.collect())) == \
        sorted(map(tuple, new.collect()))
