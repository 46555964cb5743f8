"""Deduplication operators over the ``documents`` table.

Four dedup families a large-scale training-data pipeline needs, each as a
Spark DataFrame job plus an exact DuckDB oracle:

- exact: md5 grouping (one shuffle on the 16-byte digest, not the payload);
- SimHash: 32-bit signature from per-token md5 bits — near-dup buckets are
  signature-equality groups;
- MinHash + LSH: k=8 md5-derived minhashes, banded 4×2 — band-key equality
  joins find candidate pairs without the quadratic self-join;
- n-gram Jaccard: 3-token shingles, distinct-shingle self-join — the exact
  verifier LSH candidates would be fed into at scale.

Scale notes: exact/simhash shuffle only (id, digest/signature) pairs.
Jaccard's self-join is quadratic by nature and exists as the *verifier*
stage — at 100 TB you run it only on the LSH candidate pairs, never the
full corpus (the oracle query caps doc_id for the same reason).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import (SQL_TOKENS, md5_prefix_int_expr,
                     md5_prefix_int_fast_expr, ngram_zip_parts,
                     sorted_id_pairs, table, tokens_col)

_LOG = logging.getLogger(__name__)

# --- exact -------------------------------------------------------------------

def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5(text): representative + multiplicity."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count("*").alias("n_dupes"))
        .orderBy("keep_doc_id")
    )


EXACT_DEDUP_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_dupes
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""

# --- simhash -------------------------------------------------------------------

_N_BITS = 32


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r8 fast form, value-identical to ``_simhash_sums`` (which remains
    the oracle text): the 32 per-bit ±1 sums become bit-count sums over
    conv()-parsed 8-hex-digit words — hex digit j+1's high bit is bit
    (31 - 4·(j%8)) of word j//8, s_j = 2·b_j - n, and s_j > 0 ⟺
    2·b_j > n exactly (integers).  Replaces 32 substr+instr string ops
    per token with 4 substr+conv and 32 shift-ands; A/B-verified
    bit-identical signatures, ~1.5x at sf0.1."""
    docs = table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
        .select("doc_id", *[
            F.expr(f"cast(conv(substr(md5(tok), {1 + 8 * q}, 8), 16, 10) "
                   f"as bigint)").alias(f"v{q}")
            for q in range(_N_BITS // 8)])
    )
    aggs = [F.expr(
        f"sum(shiftright(v{j // 8}, {31 - 4 * (j % 8)}) & 1)")
        .alias(f"b{j}") for j in range(_N_BITS)]
    sums = toks.groupBy("doc_id").agg(*aggs, F.count("*").alias("n"))
    sig = " + ".join(
        f"(case when 2 * b{j} > n then cast({1 << j} as bigint) else 0 end)"
        for j in range(_N_BITS))
    return (
        sums.select("doc_id", F.expr(sig).alias("simhash"))
        .orderBy("doc_id")
    )


def _simhash_sql() -> str:
    sums = ",\n       ".join(
        f"sum(case when instr('89abcdef', substr(h, {j + 1}, 1)) > 0 "
        f"then 1 else -1 end) AS s{j}"
        for j in range(_N_BITS))
    sig = " + ".join(
        f"(case when s{j} > 0 then cast({1 << j} as bigint) else 0 end)"
        for j in range(_N_BITS))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({SQL_TOKENS.format(col='text')}) AS tok
  FROM documents
), h AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), s AS (
  SELECT doc_id,
       {sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, {sig} AS simhash
FROM s ORDER BY doc_id
"""


SIMHASH_SQL = _simhash_sql()

# --- minhash + LSH -------------------------------------------------------------

# fixed affine hash family (seeded once, embedded in both dialects)
_MH_PRIME = 2038074743
_MH_PARAMS = [
    (1103515245, 12345), (214013, 2531011), (134775813, 1),
    (22695477, 1), (69069, 362437), (1664525, 1013904223),
    (48271, 11), (16807, 7),
]
N_MINHASH = len(_MH_PARAMS)
LSH_BANDS = 4  # 2 minhashes per band


def _shingle_expr() -> str:
    """3-token shingles of the token array — GENUINELY empty when < 3
    tokens.  The guard lives in the expression itself: sequence(0, -1)
    would DESCEND ([0, -1]) and fabricate phantom shingles from NULL /
    negative indexing, so callers must not rely on pre-filters alone."""
    return ("case when size(toks) >= 3 then "
            "transform(sequence(0, size(toks) - 3), "
            "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) "
            "else array() end")


def _shingle_rows(df: DataFrame, *extra: str) -> DataFrame:
    """(doc_id[, extra...], toks) → one row per 3-token shingle, identical
    strings to ``_shingle_expr`` (r8 zip-explode codegen form — see
    common.ngram_zip_parts; the old ``size(toks) >= 3`` pre-filter is
    redundant here, short docs simply emit no complete shingles)."""
    zip_expr, gram_expr, last = ngram_zip_parts(3)
    cols = ["doc_id", *extra]
    return (df.select(*cols, F.explode(F.expr(zip_expr)).alias("z"))
            .filter(F.expr(f"{last} IS NOT NULL"))
            .select(*cols, F.expr(gram_expr).alias("shingle")))


def _exploded_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle, x) — NOT deduplicated: min() is duplicate-
    insensitive, so skipping the distinct saves a full shuffle of the
    shingle table (partial mins combine map-side instead)."""
    docs = table(spark, sf_dir, "documents")
    return (
        _shingle_rows(docs.select("doc_id", tokens_col("text").alias("toks")))
        .withColumn("x", F.expr(md5_prefix_int_fast_expr("shingle")))
    )


def _minhash_aggs():
    return [
        F.min(F.expr(f"(({a} * x + {b}) % {_MH_PRIME} + {_MH_PRIME}) "
                     f"% {_MH_PRIME}")).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mh0..mh7) — unordered; internal building block."""
    return (_exploded_shingles(spark, sf_dir)
            .groupBy("doc_id").agg(*_minhash_aggs()))


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir).orderBy("doc_id")


def _minhash_sql() -> str:
    mins = ",\n       ".join(
        f"min((({a} * x + {b}) % {_MH_PRIME} + {_MH_PRIME}) % {_MH_PRIME})"
        f" AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS))
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - 2)) AS i
    FROM t WHERE len(toks) >= 3
  )
), x AS (
  SELECT doc_id, {md5_prefix_int_expr('shingle')} AS x FROM sh
)
SELECT doc_id,
       {mins}
FROM x GROUP BY doc_id ORDER BY doc_id
"""


MINHASH_SQL = _minhash_sql()


# skew guard: a band-bucket of B docs yields B²/2 pairs — a degenerate
# bucket (boilerplate/empty-ish docs sharing a signature) would explode the
# candidate set.  Buckets above the cap are dropped, the standard move in
# production minhash dedup; the oracle applies the identical cap.
LSH_BUCKET_CAP = 1000


def _band_pairs(sig: DataFrame) -> DataFrame:
    """sig(doc_id, mh0..mh7) → distinct candidate (doc_a < doc_b) pairs.

    ONE lineage: explode the 4-element band array (not a 4-way unionAll),
    groupBy the tiny (band, mh_a, mh_b) key, and generate the i<j pairs
    inside each bucket with array lambdas — no self-join, so the upstream
    minhash aggregation is computed exactly once (a band-table self-join
    recomputes it per side, since ReuseExchange can't match a broadcast
    build against a shuffle read)."""
    band_arr = F.array(*[
        F.struct(F.lit(band).alias("band"),
                 F.col(f"mh{2 * band}").alias("k1"),
                 F.col(f"mh{2 * band + 1}").alias("k2"))
        for band in range(LSH_BANDS)])
    bands = (sig.select("doc_id", F.explode(band_arr).alias("bk"))
             .select("doc_id", "bk.band", "bk.k1", "bk.k2"))
    buckets = (
        bands.groupBy("band", "k1", "k2")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= LSH_BUCKET_CAP))
    )
    return sorted_id_pairs(buckets, "ds", "doc_a", "doc_b").distinct()


def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-bucket grouping: docs sharing any full band are candidate
    near-dups.  See _band_pairs for the single-lineage plan shape."""
    return (_band_pairs(_signatures(spark, sf_dir))
            .orderBy("doc_a", "doc_b"))


def _lsh_sql() -> str:
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, mh{2 * band} AS k1, "
        f"mh{2 * band + 1} AS k2 FROM sig"
        for band in range(LSH_BANDS))
    return f"""
WITH sig AS ({MINHASH_SQL.replace('ORDER BY doc_id', '')}),
bands AS ({band_rows}),
bsz AS (
  SELECT band, k1, k2 FROM bands GROUP BY 1, 2, 3
  HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
)
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM bands l
JOIN bands r ON l.band = r.band AND l.k1 = r.k1 AND l.k2 = r.k2
JOIN bsz u ON u.band = l.band AND u.k1 = l.k1 AND u.k2 = l.k2
WHERE l.doc_id < r.doc_id
ORDER BY doc_a, doc_b
"""


LSH_PAIRS_SQL = _lsh_sql()

# --- n-gram jaccard -------------------------------------------------------------

JACCARD_MAX_DOC = 300       # verifier-stage cap (see module docstring)
JACCARD_THRESHOLD = 0.2


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_MAX_DOC)
    sh = (
        _shingle_rows(docs.select("doc_id", tokens_col("text").alias("toks")))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.alias("a").join(sh.alias("b"), "shingle")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "inter", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks
  FROM documents WHERE doc_id < {JACCARD_MAX_DOC}
), sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - 2)) AS i
    FROM t WHERE len(toks) >= 3
  )
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n + sb.n - inter), 6) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""

# --- composed near-dedup: LSH candidates → exact Jaccard verify -----------------

NEAR_DUP_THRESHOLD = 0.5


def _distinct_shingles(spark: SparkSession, sf_dir: str,
                       checkpoint_dir: str | None = None) -> DataFrame:
    """Distinct (doc_id, shingle) rows — the one artifact every stage of
    near-dedup consumes.  The shape is row-per-shingle, never an array
    cell, so a whale document only adds ROWS (which partition) rather than
    a single near-2GB array value.

    near_dedup's DAG is a diamond: five lineages consume this table, and
    Catalyst's column pruning plus redundant-aggregate elimination make the
    branches non-identical, so ReuseExchange cannot deduplicate them — left
    lazy, the corpus would be re-scanned and re-tokenized per branch.  The
    table is therefore materialized exactly once: to parquet when
    ``checkpoint_dir`` is given (the durable artifact a real 100 TB
    pipeline ships and resumes from), else via localCheckpoint (cluster
    storage, lineage truncated, freed with the DataFrame — no session-
    global lifecycle hacks)."""
    docs = table(spark, sf_dir, "documents")
    sh = (
        _shingle_rows(docs.select("doc_id", tokens_col("text").alias("toks")))
        .dropDuplicates(["doc_id", "shingle"])
    )
    if checkpoint_dir is not None:
        path = f"{checkpoint_dir}/near_dedup_shingles.parquet"
        sh.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)
    return sh.localCheckpoint()


def near_dedup(spark: SparkSession, sf_dir: str,
               checkpoint_dir: str | None = None) -> DataFrame:
    """End-to-end near-duplicate detection over the FULL corpus: banded-LSH
    candidate pairs, then exact 3-gram Jaccard computed on those pairs only.

    This is the operator the module docstring promises for 100 TB: no
    doc_id cap — the quadratic work is confined to colliding LSH buckets.

    Scale shape (r3 rewrite): intersections come from a (pair, shingle)
    EQUI-JOIN — the same shape the oracle uses — not from materialized
    per-doc shingle-set arrays.  The previous collect_set design carried
    both docs' complete sets through every pair comparison: ~3× corpus
    size resident, a near-2GB array cell for one whale document (Spark's
    array limit), and O(|a|+|b|) work per pair against that whale.  Rows
    never exceed one shingle each here, so document size only affects row
    COUNT, which partitions; the join output is bounded by (candidate
    pairs × shingles of the smaller side), and candidate pairs are
    LSH_BUCKET_CAP-bounded per bucket.

    The signature AND the per-doc distinct-shingle count both derive from
    one distinct (doc_id, shingle) table (see _distinct_shingles): min() is
    duplicate-insensitive so the dedup costs minhash nothing, and the
    equi-join needs set semantics anyway.
    """
    sh = _distinct_shingles(spark, sf_dir, checkpoint_dir)
    # ONE aggregation produces the LSH signature and the set size |doc|;
    # localCheckpoint because three lineages consume it (pair generation,
    # na, nb) and column pruning would otherwise split it into a mins-only
    # and a count-only aggregation, each re-shuffling the shingle table.
    # Tiny: one row of 9 longs + key per document.
    sig = (sh.withColumn("x", F.expr(md5_prefix_int_fast_expr("shingle")))
           .groupBy("doc_id").agg(*_minhash_aggs(),
                                  F.count("*").alias("n"))
           .localCheckpoint())
    pairs = _band_pairs(sig)
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    # pairs × a-side shingles, then equi-join on (doc_b, shingle): only
    # shingles present in BOTH docs survive — the intersection count.
    # Zero-intersection band collisions drop out of the inner join, exactly
    # like the oracle's inner shingle-join.
    inter = (
        pairs.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sig.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sig.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.round(
        F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        .cast("double"), 6)
    return (
        inter.join(na, "doc_a").join(nb, "doc_b")
        .select("doc_a", "doc_b", "inter", jac.alias("jaccard"),
                (jac >= NEAR_DUP_THRESHOLD).alias("is_dup"))
        .orderBy("doc_a", "doc_b")
    )


def _near_dedup_sql() -> str:
    mins = ",\n       ".join(
        f"min((({a} * x + {b}) % {_MH_PRIME} + {_MH_PRIME}) % {_MH_PRIME})"
        f" AS mh{i}"
        for i, (a, b) in enumerate(_MH_PARAMS))
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {band} AS band, mh{2 * band} AS k1, "
        f"mh{2 * band + 1} AS k2 FROM sig"
        for band in range(LSH_BANDS))
    return f"""
WITH t AS (
  SELECT doc_id, {SQL_TOKENS.format(col='text')} AS toks FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM (
    SELECT doc_id, toks,
           unnest(generate_series(1, len(toks) - 2)) AS i
    FROM t WHERE len(toks) >= 3
  )
), x AS (
  SELECT doc_id, {md5_prefix_int_expr('shingle')} AS x FROM sh
), sig AS (
  SELECT doc_id,
       {mins}
  FROM x GROUP BY doc_id
), bands AS ({band_rows}),
bsz AS (
  SELECT band, k1, k2 FROM bands GROUP BY 1, 2, 3
  HAVING count(*) BETWEEN 2 AND {LSH_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l
  JOIN bands r ON l.band = r.band AND l.k1 = r.k1 AND l.k2 = r.k2
  JOIN bsz u ON u.band = l.band AND u.k1 = l.k1 AND u.k2 = l.k2
  WHERE l.doc_id < r.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b, i.inter,
       round(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard,
       round(i.inter / (sa.n + sb.n - i.inter), 6) >= {NEAR_DUP_THRESHOLD}
         AS is_dup
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
ORDER BY doc_a, doc_b
"""


NEAR_DEDUP_SQL = _near_dedup_sql()

# --- near-dup cluster resolution -------------------------------------------------

# Backstop only — with pointer jumping each round, convergence needs
# O(log2(component diameter)) rounds, so 50 covers diameters up to ~2^50;
# hitting the cap means something is broken, and the loop RAISES rather
# than return partially-propagated (silently wrong) representatives.
_CC_MAX_ITERS = 50


def _connected_components(pairs: DataFrame) -> tuple[DataFrame, int]:
    """(doc_a, doc_b) undirected edges → ((doc_id, rep), n_rounds) where rep
    is the minimum doc_id of the node's connected component.  Only nodes
    appearing in an edge are emitted.

    Each round does min-label propagation over the edges (every node adopts
    the smallest rep among itself and its neighbors) FOLLOWED by one pointer
    jump (rep ← rep's rep): propagation alone needs O(diameter) rounds — a
    path-shaped component of diameter >cap (template-chained crawls make
    these plausible at scale) would exhaust the cap — while the jump halves
    the remaining label distance each round, so convergence is
    O(log diameter) and the cap is unreachable for any physical graph.
    Raises RuntimeError if the backstop cap is somehow exhausted before
    convergence: wrong labels must never be returned silently."""
    edges = (
        pairs.select(F.col("doc_a").alias("src"),
                     F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"),
                            F.col("doc_a").alias("dst")))
    ).localCheckpoint(eager=False)
    # r8: seed labels with min(self, neighbors) — the first propagation
    # for free out of the same aggregation that used to be a bare
    # distinct.  Same monotone lattice, same fixed point (component
    # minima); path-shaped pairs/triangles converge at init, so the loop
    # typically runs one verification round instead of two full ones.
    # Checkpoints in this loop are LAZY (r8): every round ends in the
    # `changed` count action, which materializes the pending checkpoint
    # inside the same job instead of a separate barrier job per round
    # (the bpe-loop A/B pattern; results identical).
    labels = (edges.groupBy("src")
              .agg(F.least(F.min("dst"), F.col("src")).alias("rep"))
              .select(F.col("src").alias("doc_id"), "rep")
              .localCheckpoint(eager=False))
    for n_rounds in range(1, _CC_MAX_ITERS + 1):
        # neighbor proposals: src's current rep offered to dst
        proposals = (labels.join(edges, labels["doc_id"] == edges["src"])
                     .select(F.col("dst").alias("doc_id"), "rep"))
        propagated = (labels.union(proposals)
                      .groupBy("doc_id").agg(F.min("rep").alias("rep")))
        # pointer jump: rep ← rep's rep.  Every rep value is itself a node
        # (labels start as doc_ids and min() only selects existing ones), so
        # the inner self-join is total; rep's own label is ≤ rep, so the
        # jump is monotone toward the component minimum.
        new_labels = (
            propagated.join(
                propagated.select(F.col("doc_id").alias("rep"),
                                  F.col("rep").alias("rep2")),
                "rep")
            .select("doc_id", F.col("rep2").alias("rep"))
            .localCheckpoint(eager=False))
        # This limit(1).count() is the action that materializes the LAZY
        # checkpoint of new_labels, and a limit may stop before computing
        # every partition.  That is safe: after the job, Spark's
        # LocalRDDCheckpointData.doCheckpoint runs a backfill job over the
        # partitions not yet cached before it truncates the lineage, so
        # the checkpoint the next round reads is complete.
        changed = (new_labels.join(labels.withColumnRenamed("rep", "old"),
                                   "doc_id")
                   .filter(F.col("rep") != F.col("old")).limit(1).count())
        labels = new_labels
        if changed == 0:
            return labels, n_rounds
    raise RuntimeError(
        f"_connected_components failed to converge in {_CC_MAX_ITERS} "
        f"rounds — refusing to return partially-propagated labels")


def dedup_clusters(spark: SparkSession, sf_dir: str,
                   pairs: DataFrame | None = None,
                   checkpoint_dir: str | None = None) -> DataFrame:
    """Resolve near-dup pairs into clusters and pick keepers — the step a
    real 100 TB dedup pipeline actually executes after pair generation
    (exact_dedup picks keepers via min(doc_id); this is the near-dup twin).

    Connected components over the ``is_dup`` pair set: min-label
    propagation with a pointer jump per round (see ``_connected_components``
    — O(log diameter) rounds, loud failure on the unreachable backstop cap).
    Each round is one join + one aggregation over the EDGE set (tiny
    relative to the corpus: only docs that collided in LSH appear);
    localCheckpoint truncates the growing lineage per round (on a real
    cluster: reliable checkpoint dir).  The driver-side loop is the
    iteration counter only — per-round work is fully distributed; the
    convergence probe aggregates one boolean.  The round count is logged:
    a 100 TB operator reports its iteration count.

    ``pairs`` lets a staged pipeline hand in the pair table the previous
    stage already produced (``near_dedup``'s output, or anything with
    doc_a/doc_b and optionally is_dup) instead of recomputing near_dedup
    from scratch inside this operator — pairs → clusters share the
    artifact ``checkpoint_dir`` makes durable.

    THE PRODUCTION SHAPE IS THE STAGED ONE: a real pipeline materializes
    near_dedup's pair table once (it is also what you audit before
    deleting data) and feeds it here — measured 1.3 s staged vs 6.1 s
    self-contained at sf0.1; the delta is purely the near_dedup
    recompute, which at 100 TB you would never pay twice.  The default
    (pairs=None) exists because the driver's correctness gate calls each
    query as a self-contained (spark, sf_dir) → DataFrame function with
    no cross-query artifact channel — it is the gate harness shape, not
    the recommended plan (test_dedup_clusters.py::
    test_dedup_clusters_accepts_precomputed_pairs pins that both forms
    produce identical clusters).

    Output: (doc_id, rep_id, keep) over ALL documents — docs in no dup
    pair are their own representative, keep = (doc_id == rep_id).
    """
    if pairs is None:
        pairs = near_dedup(spark, sf_dir, checkpoint_dir)
    dup = pairs.filter(F.col("is_dup")) if "is_dup" in pairs.columns \
        else pairs
    labels, n_rounds = _connected_components(dup.select("doc_a", "doc_b"))
    _LOG.info("dedup_clusters: connected components converged in %d rounds",
              n_rounds)
    docs = table(spark, sf_dir, "documents").select("doc_id")
    return (
        docs.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("rep", "doc_id").alias("rep_id"))
        .withColumn("keep", F.col("doc_id") == F.col("rep_id"))
        .orderBy("doc_id")
    )


def _dedup_clusters_sql() -> str:
    """DuckDB oracle: transitive closure of the is_dup edge set by
    recursive CTE, representative = least reachable doc_id (including
    self).  Closure is quadratic per component — fine for an oracle at
    gate scale, which is exactly why the Spark side propagates labels
    instead."""
    nd = NEAR_DEDUP_SQL.replace("ORDER BY doc_a, doc_b", "")
    # NEAR_DEDUP_SQL is itself a WITH query; inline it as a CTE body
    return f"""
WITH RECURSIVE nd AS ({nd}),
dup AS (SELECT doc_a, doc_b FROM nd WHERE is_dup),
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM dup
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM dup
),
reach AS (
  SELECT s, d FROM edges
  UNION
  SELECT r.s, e.d FROM reach r JOIN edges e ON e.s = r.d
),
rep AS (
  SELECT s AS doc_id, least(s, min(d)) AS rep_id FROM reach GROUP BY s
)
SELECT doc.doc_id,
       CAST(coalesce(rep.rep_id, doc.doc_id) AS BIGINT) AS rep_id,
       coalesce(rep.rep_id, doc.doc_id) = doc.doc_id AS keep
FROM documents doc
LEFT JOIN rep ON rep.doc_id = doc.doc_id
ORDER BY doc.doc_id
"""


DEDUP_CLUSTERS_SQL = _dedup_clusters_sql()
