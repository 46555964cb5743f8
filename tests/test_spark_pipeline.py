"""Spark-layer tests: UDF ≡ plain function (the per-turn invariant),
salting/partitioning, lineage metrics, resume anti-join, node explosion."""

import os

import pytest
from pyspark.sql import functions as F

from readability_core import extract as plain_extract
from readability_spark import (
    derive_metrics,
    explode_nodes,
    extract_udf,
    resume_filter,
    run_extraction,
    salt_and_partition,
)
from readability_spark.transcripts import generate_rows, generate_transcripts

BASE = "/root/reference/test/test-pages"


@pytest.fixture(scope="module")
def fixture_turns(spark):
    """All 128 fixture pages wrapped as transcript turns."""
    rows = []
    for i, case in enumerate(sorted(os.listdir(BASE))):
        p = os.path.join(BASE, case, "source.html")
        if os.path.exists(p):
            html = open(p, encoding="utf-8", errors="replace").read()
            rows.append((case, 0, "assistant", html))
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text"])
    return spark.createDataFrame(pdf).repartition(4)


def test_udf_equals_plain_function_on_all_fixtures(spark, fixture_turns):
    """THE per-row invariant: UDF path ≡ pure-Python path, byte-exact,
    under stable (conv_id, turn_idx) ordering."""
    got = {
        r["conv_id"]: r
        for r in fixture_turns.withColumn("x", extract_udf("text"))
        .select("conv_id", "text", "x.*").collect()
    }
    assert len(got) >= 128
    for conv_id, row in sorted(got.items()):
        exp = plain_extract(row["text"])
        assert row["page_type"] == exp["page_type"], conv_id
        assert row["title"] == exp["title"], conv_id
        assert row["extracted_text"] == exp["extracted_text"], conv_id
        assert row["extracted_md"] == exp["extracted_md"], conv_id
        assert row["node_count"] == exp["node_count"], conv_id
        assert row["span_start"] == exp["span_start"], conv_id
        assert row["span_end"] == exp["span_end"], conv_id
        assert row["candidate_scores"] == pytest.approx(
            exp["candidate_scores"]), conv_id


def test_udf_full_parity_with_aria_on_sample(spark, fixture_turns):
    """make_extract_udf(include_aria=True) ≡ plain extract(build_aria=True)
    including the v2 classifier, possibility score, and the aria snapshot."""
    from readability_spark.udfs import make_extract_udf

    udf = make_extract_udf(include_aria=True)
    sample = fixture_turns.limit(20)
    rows = sample.withColumn("x", udf("text")).select(
        "conv_id", "text", "x.*").collect()
    assert rows
    for row in rows:
        exp = plain_extract(row["text"])
        assert row["page_type_v2"] == exp["page_type_v2"], row["conv_id"]
        assert row["article_possibility"] == pytest.approx(
            exp["article_possibility"]), row["conv_id"]
        assert row["aria_tree"] == exp["aria_tree"], row["conv_id"]
        assert row["aria_node_count"] == exp["aria_node_count"], row["conv_id"]


def test_extract_udf_batch_survives_a_raising_row(monkeypatch):
    """A row whose core extraction raises degrades to an ``exception:``
    record; the rest of the batch still extracts (no Spark needed)."""
    import pandas as pd

    from readability_spark import udfs
    from readability_spark.schema import EXTRACT_SCHEMA

    def flaky(html, **kw):
        if html == "boom":
            raise RuntimeError("bad row")
        return plain_extract(html, **kw)

    monkeypatch.setattr(udfs, "_extract_one", flaky)
    page = "<html><body><article><p>" + "word, " * 60 + "</p></article>"
    out = extract_udf.func(pd.Series([page, "boom", None]))
    assert list(out.columns) == EXTRACT_SCHEMA.fieldNames()
    assert len(out) == 3
    assert [e for e in out["error"]
            if e and e.startswith("exception:")] == ["exception:RuntimeError"]
    assert out["error"][1] == "exception:RuntimeError"
    healthy = plain_extract(page, build_aria=False)
    assert healthy["extracted_text"]
    assert out["extracted_text"][0] == healthy["extracted_text"]


def test_sql_registered_udf_surface(spark):
    """SQL users can call the engine directly (SURVEY.md §2.13)."""
    from readability_spark.udfs import register_udfs

    register_udfs(spark)
    row = spark.sql(
        "SELECT readability_extract("
        "'<html><body><article><h2>T</h2><p>' || repeat('word, ', 60) || "
        "'</p></article></body></html>') AS x"
    ).select("x.page_type", "x.char_yield").first()
    assert row["page_type"] == "article"
    assert row["char_yield"] > 100


def test_run_extraction_end_to_end(spark):
    df = generate_transcripts(spark, n_convs=30, seed=7, use_fixtures=False)
    out = run_extraction(df, num_buckets=8)
    rows = out.collect()
    assert len(rows) == df.count()
    assert {r["bucket_id"] for r in rows} <= set(range(8))
    # schema stability
    assert "page_type" in out.columns and "extracted_text" in out.columns


def test_salting_spreads_skewed_conversations(spark):
    # one giant conversation must not land in one bucket
    rows = [(f"conv_big", t, "user", "<p>x</p>") for t in range(500)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")
    salted = salt_and_partition(df, 8)
    counts = salted.groupBy("bucket_id").count().collect()
    assert len(counts) == 8                      # all buckets hit
    assert max(c["count"] for c in counts) < 500 * 0.3


def test_all_error_bucket_is_failed_and_reprocessed(spark):
    """A bucket whose every row errored must not be pinned as done: its
    lineage row says failed, and resume_filter re-runs it."""
    results = spark.createDataFrame(
        [(0, "article", None, 3, 100, 1.0, "c0"),
         (0, "other", None, 0, 0, 0.0, "c1"),
         (1, "other", "exception:X", 0, 0, 0.0, "c2"),
         (1, "other", "exception:X", 0, 0, 0.0, "c3")],
        "bucket_id int, page_type string, error string, node_count int, "
        "char_yield int, top_score double, conv_id string")
    m = derive_metrics(results, attempt=1, num_buckets=4)
    rows = {r["bucket_id"]: r["status"] for r in m.collect()}
    assert rows == {0: "ok", 1: "failed"}


def test_warning_only_bucket_is_ok_not_failed(spark):
    """Non-fatal markers (truncated/depth_capped) ride the error column on
    successfully extracted rows; they must NOT count toward failed status —
    otherwise an all-truncated bucket is permanently 'failed' and every
    resume appends another full copy of its output, never converging."""
    results = spark.createDataFrame(
        [(0, "article", "truncated:max_html_bytes", 3, 100, 1.0, "c0"),
         (0, "article", "truncated:max_html_bytes;depth_capped:max_dom_depth",
          2, 50, 0.5, "c1"),
         (1, "other", "exception:X", 0, 0, 0.0, "c2")],
        "bucket_id int, page_type string, error string, node_count int, "
        "char_yield int, top_score double, conv_id string")
    m = {r["bucket_id"]: r for r in
         derive_metrics(results, attempt=1, num_buckets=4).collect()}
    assert m[0]["status"] == "ok"
    assert m[0]["n_errors"] == 0 and m[0]["n_warnings"] == 2
    assert m[1]["status"] == "failed"
    assert m[1]["n_errors"] == 1 and m[1]["n_warnings"] == 0


def test_crash_between_writes_yields_distinct_attempts(spark, tmp_path):
    """Crash AFTER the output write but BEFORE the metrics write: the rerun
    must not reuse the crashed attempt number, or the duplicate output
    copies would be indistinguishable.  Attempt is derived from max(attempt)
    across BOTH tables, so the copies carry distinct attempts and
    keep-max-attempt dedup recovers exactly one row per turn."""
    import shutil
    from readability_spark.pipeline import run_pipeline

    d = str(tmp_path)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(20)
    tr = docs.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 4).cast("string"))
        .alias("conv_id"),
        (F.col("doc_id") / 4).cast("int").alias("turn_idx"),
        F.expr("concat('<html><body><article><p>', text, "
               "'</p></article></body></html>')").alias("text"))
    tr.write.parquet(f"{d}/in")
    run_pipeline(spark, f"{d}/in", f"{d}/out", f"{d}/met", num_buckets=4)
    # simulate the crash: attempt 1's output exists, its metrics are gone
    shutil.rmtree(f"{d}/met")
    r2 = run_pipeline(spark, f"{d}/in", f"{d}/out", f"{d}/met",
                      num_buckets=4)
    assert r2["attempt"] == 2          # NOT 1 — output table consulted
    out = spark.read.parquet(f"{d}/out")
    assert set(r["attempt"] for r in
               out.select("attempt").distinct().collect()) == {1, 2}
    # keep-max-attempt dedup recovers exactly one copy per turn
    from pyspark.sql import Window
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(
        F.col("attempt").desc())
    deduped = (out.withColumn("rn", F.row_number().over(w))
               .filter(F.col("rn") == 1))
    assert deduped.count() == 20
    assert out.count() == 40


def test_resume_propagates_non_missing_read_errors(spark, tmp_path):
    """Resume may swallow ONLY path-not-found on the metrics/output reads.
    A metrics table that exists but can't be read (corrupt file here; a
    transient FS error in production) must propagate — silently resetting
    prev_attempt to 0 would recreate the colliding-attempt bug."""
    import os
    from readability_spark.pipeline import run_pipeline

    d = str(tmp_path)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(10)
    tr = docs.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 2).cast("string"))
        .alias("conv_id"),
        (F.col("doc_id") / 2).cast("int").alias("turn_idx"),
        F.expr("concat('<html><body><article><p>', text, "
               "'</p></article></body></html>')").alias("text"))
    tr.write.parquet(f"{d}/in")
    os.makedirs(f"{d}/met")
    with open(f"{d}/met/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        run_pipeline(spark, f"{d}/in", f"{d}/out", f"{d}/met", num_buckets=2)
    # and the missing-table path still means "fresh run", not an error
    r = run_pipeline(spark, f"{d}/in", f"{d}/out2", f"{d}/met2",
                     num_buckets=2)
    assert r["attempt"] == 1 and r["rows_new"] == 10
    # a run killed between mkdir and task commit leaves the table with
    # only _temporary and no footers (UNABLE_TO_INFER_SCHEMA) — that is
    # the crash artifact resume exists for, so it must mean "fresh run",
    # not a permanent brick
    os.makedirs(f"{d}/out3/_temporary/0")
    os.makedirs(f"{d}/met3/_temporary/0")
    r = run_pipeline(spark, f"{d}/in", f"{d}/out3", f"{d}/met3",
                     num_buckets=2)
    assert r["attempt"] == 1 and r["rows_new"] == 10


def test_resume_pins_bucket_count_from_metrics(spark, tmp_path):
    """A resume run must reuse the original salt modulus — a different
    num_buckets would anti-join incompatible bucket ids."""
    from readability_spark.pipeline import run_pipeline
    from pyspark.sql import functions as F

    d = str(tmp_path)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(30)
    tr = docs.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 5).cast("string"))
        .alias("conv_id"),
        (F.col("doc_id") / 5).cast("int").alias("turn_idx"),
        F.expr("concat('<html><body><article><p>', text, "
               "'</p></article></body></html>')").alias("text"))
    tr.write.parquet(f"{d}/in")
    r1 = run_pipeline(spark, f"{d}/in", f"{d}/out", f"{d}/met",
                      num_buckets=4)
    assert r1["num_buckets"] == 4 and r1["rows_new"] == 30
    # resume with a DIFFERENT requested bucket count: pinned back to 4,
    # nothing reprocessed
    r2 = run_pipeline(spark, f"{d}/in", f"{d}/out", f"{d}/met",
                      num_buckets=8)
    assert r2["num_buckets"] == 4
    assert r2["rows_new"] == 0 and r2["rows"] == 30
    assert r2["attempt"] == 2


def test_metrics_and_resume(spark):
    df = generate_transcripts(spark, n_convs=20, seed=11, use_fixtures=False).cache()
    out = run_extraction(df, num_buckets=4)
    metrics = derive_metrics(out)
    mrows = metrics.collect()
    assert sum(m["n_turns"] for m in mrows) == df.count()
    assert all(m["status"] == "ok" for m in mrows)
    # full metrics → resume filters everything out
    remaining = resume_filter(df, metrics, num_buckets=4)
    assert remaining.count() == 0
    # drop one bucket from metrics → only that bucket's turns remain
    partial = metrics.filter(F.col("bucket_id") != 0)
    remaining = resume_filter(df, partial, num_buckets=4)
    assert remaining.count() > 0
    assert set(r["bucket_id"] for r in remaining.select("bucket_id")
               .distinct().collect()) == {0}
    # resume_filter salts every turn exactly as run_extraction did
    key = ("conv_id", "turn_idx", "bucket_id")
    assert {tuple(r) for r in resume_filter(df, metrics.limit(0), 4)
            .select(*key).collect()} == \
        {tuple(r) for r in out.select(*key).collect()}


def test_explode_nodes_adjacency(spark):
    df = spark.createDataFrame(
        [("c1", 0, "<body><div id='a'><p>hello</p></div></body>")],
        "conv_id string, turn_idx int, text string")
    nodes = explode_nodes(df).collect()
    by_id = {n["node_id"]: n for n in nodes}
    # root html node first, pre-order ids = document order
    assert by_id[0]["tag"] == "html" and by_id[0]["parent_id"] == -1
    tags = [n["tag"] for n in sorted(nodes, key=lambda n: n["node_id"])
            if n["kind"] == "element"]
    assert tags == ["html", "body", "div", "p"]
    # parent chain intact
    p = next(n for n in nodes if n["tag"] == "p")
    assert by_id[p["parent_id"]]["tag"] == "div"
    t = next(n for n in nodes if n["kind"] == "text")
    assert t["text"] == "hello" and t["parent_id"] == p["node_id"]
    assert t["depth"] == p["depth"] + 1


def test_generator_deterministic():
    assert generate_rows(n_convs=10, seed=42) == generate_rows(
        n_convs=10, seed=42)


def test_generator_skew():
    rows = generate_rows(n_convs=300, seed=42, use_fixtures=False)
    from collections import Counter
    lengths = Counter(r[0] for r in rows)
    assert max(lengths.values()) >= 100     # at least one long conversation
    assert min(lengths.values()) <= 8
