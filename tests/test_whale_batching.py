"""Whale-doc (byte-aware) batching stress tests.

The scalar-pandas-UDF path slices Arrow input batches by record count only
(SURVEY §7.4 risk #4): 64 docs at the 8 MB truncation cap would stage a
~512 MB batch in a python worker.  ``run_extraction(whale_safe_bytes=...)``
routes rows ≥ the threshold through singleton applyInPandas groups — one
whale per transfer unit, a hard byte bound — while light rows keep the
measured 64-row scalar path.  These tests pin:

- result equality: two-tier output == single-tier output == plain function
  (including the >MAX_HTML_BYTES truncation row and a NULL-text row);
- plan shape: whale tier is FlatMapGroupsInPandas with ONLY its grouping
  exchange (no salt repartition of whale rows), light tier keeps
  ArrowEvalPython;
- the end-to-end pipeline (write + metrics + resume) accepts the mode;
- a non-default char_threshold reaches both tiers of every mode.
"""

import os

import pytest

from readability_core import extract as extract_plain
from readability_core.extract import MAX_HTML_BYTES
from readability_spark.pipeline import run_extraction, run_pipeline
from readability_spark.schema import EXTRACT_SCHEMA

WHALE = ("<html><body><article>" +
         "<p>whale paragraph with enough text to score " + "x" * 4096 +
         "</p>" * 120 + "</article></body></html>")          # ~500 KB
LIGHT = ("<html><body><article><p>light doc body with some real text to "
         "extract</p></article></body></html>")
GIANT = "<p>" + "y" * (MAX_HTML_BYTES + 1024) + "</p>"        # > 8 MB cap
# 35 links over little body text: "other" at char_threshold=500, but at
# 100 the top candidate is long enough to classify as an article.  The
# padded copy is the same page past the 100 KB whale threshold, so both
# tiers get a page whose result depends on the threshold.
THRESHOLD_PAGE = (
    "<html><body><div><p>" +
    ("mid-size body text, with commas, and more words here. " * 5)[:220] +
    "</p></div><div>" +
    "".join(f"<a href='/p{i}'>l{i}</a> " for i in range(35)) +
    "</div></body></html>")
THRESHOLD_WHALE = THRESHOLD_PAGE.replace(
    "<body>", "<body><!--" + "pad " * 30_000 + "-->")


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [("conv%02d" % (i % 11), i, "assistant",
             WHALE if i % 37 == 0 else LIGHT) for i in range(300)]
    rows.append(("convg", 7777, "assistant", GIANT))
    rows.append(("convn", 8888, "user", None))
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string")


def _by_key(rows):
    return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in rows}


def test_two_tier_equals_single_tier_and_plain(spark, corpus):
    two = _by_key(run_extraction(corpus, num_buckets=8,
                                 whale_safe_bytes=100_000).collect())
    one = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert set(two) == set(one)
    assert sum(1 for k in two if two[k] != one[k]) == 0

    # spot-check whale + giant + null rows against the pure function
    for key, html in ((("conv00", 0), WHALE), (("convg", 7777), GIANT),
                      (("convn", 8888), None)):
        rec = extract_plain(html, build_aria=False)
        got = two[key]
        assert got["extracted_text"] == rec["extracted_text"]
        assert got["extracted_md"] == rec["extracted_md"]
        assert got["error"] == rec["error"]
    assert two[("convg", 7777)]["error"] == "truncated:max_html_bytes"


@pytest.mark.parametrize("mode", [
    {}, {"whale_safe_bytes": 100_000}, {"dedup_payloads": True},
    {"dedup_payloads": True, "whale_safe_bytes": 100_000},
], ids=["default", "whale", "dedup", "dedup_whale"])
def test_char_threshold_udf_equals_plain(spark, corpus, mode):
    """Every mode ≡ plain extract(char_threshold=100, build_aria=False),
    field for field, on every turn — both tiers honour the threshold."""
    df = corpus.unionByName(spark.createDataFrame(
        [("convt", 9998, "assistant", THRESHOLD_WHALE),
         ("convt", 9999, "assistant", THRESHOLD_PAGE)], corpus.schema))
    got = _by_key(run_extraction(df, num_buckets=8, char_threshold=100,
                                 **mode).collect())
    texts = {(r["conv_id"], r["turn_idx"]): r["text"] for r in df.collect()}
    assert set(got) == set(texts)
    plain = {}
    for key, html in texts.items():
        if html not in plain:
            rec = extract_plain(html, char_threshold=100, build_aria=False)
            rec["link_hrefs"] = [l["href"] for l in rec["links"]]
            rec["link_texts"] = [l["text"] for l in rec["links"]]
            plain[html] = rec
        for f in EXTRACT_SCHEMA.fieldNames():
            assert got[key][f] == plain[html][f], (key, f)
    assert got[("convt", 9998)]["page_type"] == "article"
    assert got[("convt", 9999)]["page_type"] == "article"
    assert extract_plain(THRESHOLD_PAGE, build_aria=False)["page_type"] \
        == "other"


def test_whale_plan_shape(spark, corpus):
    out = run_extraction(corpus, num_buckets=8, whale_safe_bytes=100_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan
    assert "ArrowEvalPython" in plan
    # whale tier must NOT pay the salt repartition: the only
    # REPARTITION_BY_NUM exchange in the plan belongs to the light tier
    assert plan.count("REPARTITION_BY_NUM") == 1
    # grouping key is (conv_id, turn_idx) → singleton groups
    assert "FlatMapGroupsInPandas [conv_id" in plan


def test_pipeline_whale_safe_end_to_end(spark, corpus, tmp_path):
    inp = str(tmp_path / "input")
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    corpus.write.parquet(inp)
    r = run_pipeline(spark, inp, out, metrics, num_buckets=8,
                     whale_safe_bytes=100_000)
    assert r["rows"] == 302
    written = spark.read.parquet(out)
    assert written.count() == 302
    m = spark.read.parquet(metrics)
    assert m.filter("status = 'ok'").count() == m.count()
    # warnings surfaced for the truncated giant, not counted as errors
    assert m.agg({"n_warnings": "sum"}).first()[0] >= 1
    assert m.agg({"n_errors": "sum"}).first()[0] == 0
    # resume: everything ok → nothing new
    r2 = run_pipeline(spark, inp, out, metrics, num_buckets=8,
                      whale_safe_bytes=100_000)
    assert r2["rows_new"] == 0


def test_dedup_payloads_equals_default(spark, corpus):
    """Content-addressed extraction (UDF once per distinct payload, join
    back) must be row-for-row identical to the direct path — purity makes
    it so, including the NULL/'' key collision the docstring calls out."""
    ded = _by_key(run_extraction(corpus, num_buckets=8,
                                 dedup_payloads=True).collect())
    base = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert set(ded) == set(base)
    assert sum(1 for k in ded if ded[k] != base[k]) == 0
    # the plan must evaluate the UDF over the DISTINCT table and join back
    plan = run_extraction(corpus, num_buckets=8, dedup_payloads=True) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Join" in plan or "join" in plan


def test_dedup_payloads_composes_with_whale_tiering(spark, corpus):
    """Duplicate-heavy AND whale-bearing corpora co-occur in real crawl
    data: dedup_payloads=True + whale_safe_bytes=N must (a) match the
    plain path row-for-row — the corpus repeats the same whale payload
    ~9×, exercising the collapse-then-tier order — and (b) route the
    distinct whale residue through singleton applyInPandas groups keyed
    on the payload hash."""
    out = run_extraction(corpus, num_buckets=8, dedup_payloads=True,
                         whale_safe_bytes=100_000)
    composed = _by_key(out.collect())
    base = _by_key(run_extraction(corpus, num_buckets=8).collect())
    assert set(composed) == set(base)
    assert sum(1 for k in composed if composed[k] != base[k]) == 0

    # post-execution (AQE-final) plan: the collect above materialized it
    plan = out._jdf.queryExecution().executedPlan().toString()
    # whale tier: singleton groups on the payload hash
    assert "FlatMapGroupsInPandas [_tkey" in plan
    # light tier keeps the scalar Arrow path; records join back
    assert "ArrowEvalPython" in plan
    assert "Join" in plan or "join" in plan
    # scale shape: the two tiers SHARE the distinct table's shuffle stages
    # (AQE stage-level reuse), and the whale groupBy('_tkey') is satisfied
    # by the _tkey repartition — so the whole composed job materializes at
    # most 3 distinct shuffles: dedup, repartition, and the record side of
    # the join.  A 4th distinct stage would mean the whale tier re-paid
    # the distinct lineage or its own exchange.
    import re
    stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
    assert len(stages) <= 3, sorted(stages)
