"""Spark schemas for the extraction pipeline.

The output struct is the Spark projection of the reference's
``ExtractedSnapshot`` (/root/reference/src/types.ts:152-171), flattened per
SURVEY.md §1.3: trees stay inside the UDF; Spark only ever sees columns.
"""

from __future__ import annotations

from pyspark.sql import types as T

# per-turn extraction result (projection of readability_core.extract()).
# Layout choices are throughput-driven: links travel as two parallel
# array<string> columns (a list-of-struct column costs ~3× in pandas→Arrow
# conversion), and extracted_html is left out — it is the largest string
# and recomputable from the source.
EXTRACT_SCHEMA = T.StructType([
    T.StructField("page_type", T.StringType()),
    T.StructField("page_type_v2", T.StringType()),       # improved classifier
    T.StructField("article_possibility", T.DoubleType()),
    T.StructField("title", T.StringType()),
    T.StructField("byline", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("site_name", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("extracted_md", T.StringType()),
    T.StructField("node_count", T.IntegerType()),
    T.StructField("top_score", T.DoubleType()),
    T.StructField("candidate_scores", T.ArrayType(T.DoubleType())),
    T.StructField("n_candidates", T.IntegerType()),
    T.StructField("link_hrefs", T.ArrayType(T.StringType())),
    T.StructField("link_texts", T.ArrayType(T.StringType())),
    T.StructField("n_links", T.IntegerType()),
    # YAML-ish ARIA snapshot (reference builds the tree on every extract;
    # the UDF computes it only under make_extract_udf(include_aria=True),
    # columns stay for schema stability)
    T.StructField("aria_tree", T.StringType()),
    T.StructField("aria_node_count", T.IntegerType()),
    T.StructField("body_text_len", T.IntegerType()),
    T.StructField("char_yield", T.IntegerType()),
    T.StructField("span_start", T.IntegerType()),
    T.StructField("span_end", T.IntegerType()),
    T.StructField("error", T.StringType()),
])

# input transcript table (BASELINE.json input_hint)
TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])

# exploded node table — the serializer's flat adjacency encoding
# (/root/reference/src/serializer.ts:25-43) as a relational table
NODE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("node_id", T.LongType()),
    T.StructField("parent_id", T.LongType()),
    T.StructField("kind", T.StringType()),          # element | text
    T.StructField("tag", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("text", T.StringType()),
    T.StructField("depth", T.IntegerType()),
    T.StructField("ord", T.IntegerType()),          # document order
])
