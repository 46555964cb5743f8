"""Similarity search over the ``embeddings`` table (array<float> column).

All eight operators are one skeleton — candidates → verify → rank:

1. **Candidates** come from one of three generators:
   - brute force: the tiny query set broadcast-cross-joined onto the
     corpus (``cosine_topk``, the exact baseline every ANN path is
     measured against);
   - a bucket join: md5-seeded sign-LSH signatures, the query side
     fanned out over a probe-mask list — the own bucket
     (``lsh_cosine_topk``), plus the one-bit flips
     (``lsh_multiprobe_topk``), or Hamming ≤ 2 over L=4 independent
     tables (``lsh_bandor_topk``); ``embedding_near_dup`` groups the
     same banded buckets corpus-side and expands i<j pairs in-row
     (``common.sorted_id_pairs``, no self-join);
   - a probed quantizer: fixed-id seed centroids sharpened by one Lloyd
     iteration (``_quantizer``); queries probe their nearest lists
     (``ivf_topk``, ``ivf_topk_sampled``) and ``semdedup`` pairs vectors
     inside each cell.
2. **Verify**: exact cosine over per-vector norms computed once
   (``_side`` projections, ``_verify`` joins, ``_with_cosine_pre``).
3. **Rank**: per-query row_number over (cos DESC, id ASC), top TOP_K
   (``_rank_topk``); the dedup operators threshold the rounded cosine
   instead.

The dot product runs JVM-side via ``aggregate(zip_with(...))``
higher-order functions (no Python).  The ANN outputs are
(query_id, rank, neighbor_id) — integers only — but the ranks derive
from float comparisons, so the oracle must compute bit-identical cosines:
the SQL spells the dot/norm sums as explicit left-associative +-chains
over double-cast elements, the same order as Spark's aggregate() fold
(x+0.0 == x exactly, so dropping the fold's zero seed is safe).  A
library cosine (list_cosine_similarity) could differ in the last ulp and
flip near-tied ranks between engines.  Each oracle mirrors its operator's
skeleton with the same shared pieces (``_rank_tail_sql``,
``_assign_cte_sql``, ``_banded_sql``).
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import sorted_id_pairs, table

N_QUERIES = 5
TOP_K = 5
EMB_DIM = 64   # testdata embeddings width; operators take dim= to override —
               # no driver-side .first() probe (that would collect at scale)

_DOT = ("aggregate(zip_with(a, b, (x, y) -> cast(x as double) * "
        "cast(y as double)), 0D, (acc, v) -> acc + v)")
_NORM = ("sqrt(aggregate({c}, 0D, (acc, v) -> acc + cast(v as double) * "
         "cast(v as double)))")


def _with_cosine(joined: DataFrame) -> DataFrame:
    return joined.withColumn(
        "cos",
        F.expr(_DOT) / (F.expr(_NORM.format(c="a")) *
                        F.expr(_NORM.format(c="b"))))


def _norm_col(c: str):
    """sqrt of the left-fold sum of squares — the exact _NORM value."""
    return F.expr(_NORM.format(c=c))


def _with_cosine_pre(joined: DataFrame) -> DataFrame:
    """``_with_cosine`` over sides carrying precomputed norm columns
    ``na``/``nb`` (each the sqrt of the SAME left fold — identical
    doubles, so cos is bit-identical to the inline form).  r8: the inline
    form re-ran the interpreted HOF norm folds per PAIR; precomputing
    once per VECTOR measured 1.9x on the all-pairs cosine join at sf0.1
    with an identical result hash."""
    return joined.withColumn(
        "cos", F.expr(_DOT) / (F.col("na") * F.col("nb")))


def _dim_guard(dim: int, value: str) -> str:
    """``value`` if the row's embedding is at least ``dim`` wide, else a
    loud failure.  Out-of-range v[i] is NULL (ANSI off), which would
    silently collapse every vector into bucket 0 (turning a bucketed join
    into an all-pairs cross product) or NULL-pad every cosine it touches
    (zip_with), ranking confident garbage.  The guard lives INSIDE the
    value expression so column pruning can't drop it."""
    return (f"if(size(embedding) >= {dim}, {value}, "
            f"raise_error('embedding narrower than dim={dim}'))")


def _guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with the dim guard riding its vector column."""
    return table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.expr(_dim_guard(EMB_DIM, "embedding")))


def _side(emb: DataFrame, ident: str, vec: str, norm: str) -> DataFrame:
    """One side of an exact-cosine join: vec_id → ``ident``, embedding →
    ``vec`` and its norm, computed once per vector, → ``norm``."""
    return emb.select(F.col("vec_id").alias(ident),
                      F.col("embedding").alias(vec),
                      _norm_col("embedding").alias(norm))


def _queries(emb: DataFrame) -> DataFrame:
    return _side(emb.filter(F.col("vec_id") < N_QUERIES),
                 "query_id", "a", "na")


def _corpus(emb: DataFrame) -> DataFrame:
    return _side(emb, "neighbor_id", "b", "nb")


def _verify(cand: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
    """Verify step: attach both vectors (and norms) to candidate id pairs
    — each side joins on its own id column, its first — and score the
    exact cosine."""
    return _with_cosine_pre(
        cand.join(a, a.columns[0]).join(b, b.columns[0]))


def _top_per_query(scored: DataFrame, item: str, k: int,
                   rank: str) -> DataFrame:
    """(query_id, ``rank``, ``item``) for each query's ``k`` best items
    by (cos DESC, item ASC) — a partitioned window, so Catalyst's
    WindowGroupLimit prunes each partition to k rows before the sort."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(item))
    return (scored.withColumn(rank, F.row_number().over(w))
            .filter(F.col(rank) <= k)
            .select("query_id", rank, item))


def _rank_topk(scored: DataFrame) -> DataFrame:
    """Rank step of every ANN operator: top TOP_K neighbors per query."""
    return (_top_per_query(scored, "neighbor_id", TOP_K, "rank")
            .orderBy("query_id", "rank"))


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # queries are tiny → broadcast; corpus streams through unshuffled
    return _rank_topk(_with_cosine_pre(
        _corpus(emb).crossJoin(F.broadcast(_queries(emb)))))


def _dot_chain_sql(x: str, y: str, dim: int) -> str:
    """Left-associative Σ x[i]·y[i] over double casts — the exact order and
    arithmetic of Spark's aggregate(zip_with(...)) fold (1-indexed)."""
    return " + ".join(
        f"(CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE))"
        for i in range(1, dim + 1))


def _cos_sql(x: str, y: str, dim: int) -> str:
    return (f"(({_dot_chain_sql(x, y, dim)}) / "
            f"(sqrt({_dot_chain_sql(x, x, dim)}) * "
            f"sqrt({_dot_chain_sql(y, y, dim)})))")


_SCORED_RANK_SQL = """SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored"""


def _rank_tail_sql(ranked: str = _SCORED_RANK_SQL) -> str:
    """Oracle rank step: the ``ranked`` CTE (by default over a ``scored``
    CTE of (query_id, neighbor_id, cos)) and the final top-k SELECT."""
    return f"""), ranked AS (
  {ranked}
)
SELECT query_id, rank, neighbor_id
FROM ranked WHERE rank <= {TOP_K}
ORDER BY query_id, rank
"""


def _cosine_topk_sql() -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS a
  FROM embeddings WHERE vec_id < {N_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q.a', 'e.embedding', EMB_DIM)} AS cos
  FROM embeddings e CROSS JOIN q
{_rank_tail_sql()}"""


COSINE_TOPK_SQL = _cosine_topk_sql()

# --- sign-LSH bucket join: single probe and multiprobe (exact oracles) -------

N_PLANES = 8


def _plane_sig_expr(dim: int, base: int = 0) -> str:
    """Deterministic pseudo-random hyperplanes from md5('pl{p}_{i}'):
    component sign = high bit of the first hex digit.  Signature bit p =
    sign of dot(v, plane_p).  ``base`` shifts the array indexing (Spark is
    0-indexed, DuckDB 1-indexed); seed strings always use the 0-indexed
    coordinate so both dialects hash identical inputs.  The linear +-chain
    evaluates left-to-right in both engines, so the float sign is exact."""
    step = max(1, dim // 16)  # sample 16 coords per plane
    bits = []
    for p in range(N_PLANES):
        dot = " + ".join(
            f"(case when instr('89abcdef', substr(md5('pl{p}_{i}'), 1, 1))"
            f" > 0 then 1 else -1 end) * cast(v[{i + base}] as double)"
            for i in range(0, dim, step))
        bits.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return " + ".join(bits)


def _probe_masks(radius: int) -> list[int]:
    """XOR masks of every signature within Hamming ``radius`` of a bucket,
    nearest first: 0 (the bucket itself), the 8 one-bit flips, then the
    28 two-bit flips — 1, 9 and 37 probes for radius 0, 1 and 2."""
    return [sum(1 << p for p in flips) for r in range(radius + 1)
            for flips in combinations(range(N_PLANES), r)]


def _probe_unnest_sql(masks: list[int]) -> str:
    """Oracle probe fan-out: one row per masked bucket (masks[0] is 0)."""
    flips = ", ".join(f"xor(bucket, {m})" for m in masks[1:])
    return f"unnest([bucket, {flips}])"


def _sign_lsh_topk(spark: SparkSession, sf_dir: str, dim: int,
                   masks: list[int]) -> DataFrame:
    """The sign-LSH skeleton: bucket every vector once, fan each query out
    over the probe buckets ``bucket ^ m`` (``masks`` — masks[0] is 0, the
    query's own bucket), equi-join onto the corpus buckets, exact-cosine
    re-rank the candidates.  Probe buckets are distinct, so each
    (query, neighbor) pair matches at most once — no dedup needed.  Only
    the tiny broadcast query side fans out; the corpus side is untouched,
    so every probe count keeps the bucketed-join scale shape (never a
    cross product)."""
    emb = table(spark, sf_dir, "embeddings")
    sig = _plane_sig_expr(dim).replace("v[", "embedding[")
    bucketed = emb.select(
        F.col("vec_id"), F.col("embedding"),
        F.expr(_dim_guard(dim, f"({sig})")).alias("bucket"),
        _norm_col("embedding").alias("nrm"))
    probe = (F.col("bucket") if len(masks) == 1 else F.explode(F.array(
        F.col("bucket"), *[F.expr(f"bucket ^ {m}") for m in masks[1:]])))
    queries = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("a"),
        F.col("nrm").alias("na"), probe.alias("bucket"))
    corpus = bucketed.select(F.col("vec_id").alias("neighbor_id"),
                             F.col("embedding").alias("b"), F.col("bucket"),
                             F.col("nrm").alias("nb"))
    return _rank_topk(_with_cosine_pre(
        corpus.join(F.broadcast(queries), "bucket")))


def _sign_lsh_topk_sql(masks: list[int]) -> str:
    """DuckDB mirror: identical signature expression (1-indexed arrays),
    the same probe fan-out, bit-identical explicit-chain cosine re-rank
    inside the probed buckets only."""
    sig = _plane_sig_expr(EMB_DIM, base=1).replace("v[", "embedding[")
    q, fan = ("q", "") if len(masks) == 1 else ("q0", f"""
), q AS (
  SELECT query_id, a,
         {_probe_unnest_sql(masks)} AS bucket
  FROM q0""")
    return f"""
WITH b AS (
  SELECT vec_id, embedding, ({sig}) AS bucket FROM embeddings
), {q} AS (
  SELECT vec_id AS query_id, embedding AS a, bucket FROM b
  WHERE vec_id < {N_QUERIES}{fan}
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_cos_sql('q.a', 'e.embedding', EMB_DIM)} AS cos
  FROM b e JOIN q ON e.bucket = q.bucket
{_rank_tail_sql()}"""


def lsh_cosine_topk(spark: SparkSession, sf_dir: str,
                    dim: int = EMB_DIM) -> DataFrame:
    """Single-probe sign-LSH: candidates share the query's hyperplane
    signature; at 10^9 vectors the bucket join replaces the all-pairs
    cross product."""
    return _sign_lsh_topk(spark, sf_dir, dim, _probe_masks(0))


LSH_TOPK_SQL = _sign_lsh_topk_sql(_probe_masks(0))


def lsh_multiprobe_topk(spark: SparkSession, sf_dir: str,
                        dim: int = EMB_DIM) -> DataFrame:
    """Multiprobe sign-LSH: each query probes its own bucket PLUS the 8
    one-bit-flip neighbor buckets (the nearest Hamming-1 signatures), then
    exact cosine re-ranks the union of candidates.

    Standard recall lever for sign-LSH: a near neighbor that lands just on
    the other side of ONE hyperplane is recovered at the cost of 9 bucket
    probes instead of 1 — still a bucketed equi-join (query side explodes
    9×, corpus side untouched), never a cross product, so the scale shape
    is identical to ``lsh_cosine_topk``.  Recall vs exact cosine_topk is
    pinned in tests/test_ann_quality.py.
    """
    return _sign_lsh_topk(spark, sf_dir, dim, _probe_masks(1))


MULTIPROBE_TOPK_SQL = _sign_lsh_topk_sql(_probe_masks(1))

# --- band-OR amplification (L independent tables; exact DuckDB oracle) --------

L_TABLES = 4


def _table_sign(t: int, p: int, i: int) -> int:
    """Hyperplane component sign for band-OR table t, plane p, coord i:
    high bit of the first hex digit of md5('t{t}_pl{p}_{i}') — the same
    md5-seeded construction as ``_plane_sig_expr``, evaluated in Python
    (md5 of a literal is the same value wherever it's computed)."""
    import hashlib

    return (1 if hashlib.md5(f"t{t}_pl{p}_{i}".encode())
            .hexdigest()[0] in "89abcdef" else -1)


def _table_sig_expr(t: int, dim: int, var: str = "c{j}",
                    base: int = 0) -> str:
    """Per-table signature over pre-cast double coordinate variables
    (``var`` templates the coordinate reference; default the c{j} columns
    of the Spark two-layer projection, the oracle passes an inline cast).
    The plane seeds are md5('t{t}_pl{p}_{i}'), so the L tables are
    independent draws and independent of the single-table 'pl{p}_{i}'
    family.  Multiplying by a ±1 literal is exact in IEEE, so folding the
    sign into the text keeps arithmetic bit-identical across engines."""
    step = max(1, dim // 16)
    coords = list(range(0, dim, step))
    bits = []
    for p in range(N_PLANES):
        dot = " + ".join(
            f"({_table_sign(t, p, i)} * {var.format(j=j, i=i + base)})"
            for j, i in enumerate(coords))
        bits.append(f"(case when ({dot}) > 0 then {1 << p} else 0 end)")
    return " + ".join(bits)


def _banded_buckets(emb: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding) -> (vec_id, t, bucket): one row per vector per
    band-OR signature table.  Two projection layers keep four signatures
    inside janino's 64 KB whole-stage method limit: layer 1 materializes
    the 16 sampled coordinates as double columns ONCE (each is reused by
    all 32 planes -- explicit common-subexpression elimination), layer
    2's sig chains then reference those locals with +-1 literals;
    inlining cast(embedding[i] as double) per term generated 512
    cast+multiply statements and knocked the whole stage out of codegen.
    The dim guard (``_dim_guard``) rides the cast: out-of-range v[i]
    is NULL, which would silently funnel everything into bucket 0.
    Shared by band-OR ANN probing and embedding near-dup pair generation,
    which makes the "same signature tables" invariant structural."""
    step = max(1, dim // 16)
    coords = list(range(0, dim, step))
    withc = emb.select(
        "vec_id", "embedding",
        *[F.expr(_dim_guard(dim, f"cast(embedding[{i}] as double)"))
          .alias(f"c{j}") for j, i in enumerate(coords)])
    withb = withc.select(
        "vec_id",
        *[F.expr(f"({_table_sig_expr(t, dim)})").alias(f"b{t}")
          for t in range(L_TABLES)])
    return withb.select(
        "vec_id",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket"))
            for t in range(L_TABLES)])).alias("tb")
    ).select("vec_id", F.col("tb.t").alias("t"),
             F.col("tb.bucket").alias("bucket"))


def lsh_bandor_topk(spark: SparkSession, sf_dir: str,
                    dim: int = EMB_DIM) -> DataFrame:
    """Band-OR amplified sign-LSH top-k: L=4 independent 8-plane signature
    tables, each probed at Hamming distance ≤ 2; the candidate union is
    exact-cosine re-ranked.  Recall@5 vs brute force is pinned at 0.8 in
    tests/test_ann_quality.py (vs 0.20 single-probe, 0.28 multiprobe).

    Amplification is asymmetric by design for scale: the CORPUS side
    explodes only L× (one row per table — the part that is 10^9 vectors),
    while the probe fan-out (37 buckets/table) lives entirely on the tiny
    broadcast QUERY side.  Candidates are distinct (query, neighbor) pairs
    — a pair colliding in several tables/probes is re-ranked once — then
    re-ranked via two joins: broadcast query embeddings + an equi-join
    back to the corpus for neighbor embeddings.  No cross product
    anywhere; the all-pairs worst case degrades to ``cosine_topk``'s
    broadcast-nested-loop shape only if every vector lands in one bucket,
    which the 4×8 independent planes make vanishingly unlikely.

    Signature construction (and its janino-limit layering) lives in
    ``_banded_buckets``, shared with ``embedding_near_dup_df``.
    """
    emb = table(spark, sf_dir, "embeddings")
    stacked = _banded_buckets(emb, dim)
    corpus = stacked.select(F.col("vec_id").alias("neighbor_id"),
                            "t", "bucket")
    probes = F.array(*[F.expr(f"bucket ^ {m}") for m in _probe_masks(2)])
    queries = (
        stacked.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "t",
                F.explode(probes).alias("bucket"))
    )
    cand = (corpus.join(F.broadcast(queries), ["t", "bucket"])
            .select("query_id", "neighbor_id").distinct())
    return _rank_topk(_verify(cand, F.broadcast(_queries(emb)),
                              _corpus(emb)))


def _banded_sql() -> str:
    """Oracle head shared by band-OR and embedding near-dup: identical
    per-table signatures (1-indexed arrays) in ``b``, UNION ALL stacking
    into one (vec_id, t, bucket) row per table in ``stacked``."""
    sigs = ", ".join(
        f"({_table_sig_expr(t, EMB_DIM, var='cast(embedding[{i}] as double)', base=1)})"
        f" AS b{t}" for t in range(L_TABLES))
    stacked = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS bucket FROM b"
        for t in range(L_TABLES))
    return f"""
WITH b AS (
  SELECT vec_id, embedding, {sigs} FROM embeddings
), stacked AS ({stacked}),
"""


def _bandor_topk_sql() -> str:
    """DuckDB mirror: the shared banded head, xor probe expansion,
    distinct candidate pairs, bit-identical explicit-chain cosine
    re-rank."""
    return f"""{_banded_sql()}q AS (
  SELECT vec_id AS query_id, t,
         {_probe_unnest_sql(_probe_masks(2))} AS bucket
  FROM stacked WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id
  FROM stacked e JOIN q ON e.t = q.t AND e.bucket = q.bucket
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {_cos_sql('qe.embedding', 'ne.embedding', EMB_DIM)} AS cos
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
{_rank_tail_sql()}"""


BANDOR_TOPK_SQL = _bandor_topk_sql()

# --- embedding-cosine near-duplicate pairs (corpus×corpus; exact oracle) ------

# Gate-scale threshold.  The synthetic embeddings contain NO true
# duplicates (max pairwise cosine ≈ 0.48 at sf0.001 / 0.51 at sf0.01 —
# measured over all 124,750 pairs), so the cut sits at the top ~0.05% of
# the pair distribution (66 resp. 59 pairs ≥ 0.4) to give is_dup a
# nonvacuous meaning, mirroring NEAR_DUP_THRESHOLD's role for text.  A
# real dedup run uses 0.99+, where sign agreement per plane is ≈ 0.955
# and banded recall is high — test_ann_quality.py proves that design
# point on planted duplicates, since the corpus can't.
EMB_DUP_THRESHOLD = 0.4
# Skew guard, same rationale as LSH_BUCKET_CAP in ops.dedup: a bucket of B
# vectors yields B²/2 pairs; degenerate buckets (e.g. zero-ish vectors all
# hashing alike) would explode the candidate set.  The oracle applies the
# identical cap.
EMB_BUCKET_CAP = 1000


def embedding_near_dup(spark: SparkSession, sf_dir: str,
                       dim: int = EMB_DIM) -> DataFrame:
    """Embedding-cosine near-duplicate detection over the FULL corpus —
    the vector twin of ``ops.dedup.near_dedup``: banded sign-LSH generates
    candidate pairs, exact cosine verifies them, ``is_dup`` flags pairs at
    ≥ EMB_DUP_THRESHOLD.

    Scale shape: the corpus explodes to L=4 rows per vector (one per
    signature band — the SAME md5-seeded tables ann_bandor_topk probes, so
    at scale the bucketed artifact is shared between dedup and ANN);
    within each (band, bucket) the i<j pairs are generated by the
    single-lineage bucket-grouping pattern ``ops.dedup._band_pairs``
    shares — group to a sorted vec_id array, expand in-row
    (``common.sorted_id_pairs``) — so there is NO self-join and the
    signature projection runs exactly once.
    Quadratic work is confined to colliding buckets and capped
    (EMB_BUCKET_CAP) against degenerate buckets.  Candidate pairs then
    re-rank by exact cosine via two equi-joins back to the corpus.

    Bucket cardinality note for 10^12 rows: 8 planes = 256 buckets per
    band, which is a GATE-SCALE setting (500 vectors → ~2/bucket).  At
    real scale you widen the band signature (e.g. 8 bands × 30 planes:
    ~10^9 buckets, per-band collision 0.955^30 ≈ 0.25 at cos 0.99, union
    recall ≈ 0.90) — the plan shape is identical, only N_PLANES/L_TABLES
    change, which is why they are module constants.
    """
    return embedding_near_dup_df(table(spark, sf_dir, "embeddings"), dim)


def embedding_near_dup_df(emb: DataFrame, dim: int = EMB_DIM,
                          threshold: float = EMB_DUP_THRESHOLD) -> DataFrame:
    """DataFrame-core of ``embedding_near_dup`` — takes any
    (vec_id, embedding) table so callers (and the planted-duplicate design
    -point test) can run it over corpora the parquet layout doesn't hold."""
    stacked = _banded_buckets(emb, dim)
    buckets = (
        stacked.groupBy("t", "bucket")
        .agg(F.array_sort(F.collect_set("vec_id")).alias("vs"))
        .filter((F.size("vs") >= 2) & (F.size("vs") <= EMB_BUCKET_CAP))
    )
    pairs = sorted_id_pairs(buckets, "vs", "vec_a", "vec_b").distinct()
    scored = _verify(pairs, _side(emb, "vec_a", "a", "na"),
                     _side(emb, "vec_b", "b", "nb"))
    cos6 = F.round(F.col("cos"), 6)
    return (
        scored.select(
            "vec_a", "vec_b", cos6.alias("cos"),
            (cos6 >= threshold).alias("is_dup"))
        .orderBy("vec_a", "vec_b")
    )


def _embedding_dedup_sql(threshold: float = EMB_DUP_THRESHOLD) -> str:
    """DuckDB mirror: identical band signatures (1-indexed arrays),
    UNION ALL stacking, capped bucket self-join for pairs, explicit-chain
    cosine, identical rounding before the threshold.

    ``threshold`` is the SAME parameter ``embedding_near_dup_df`` takes —
    generate the oracle for a non-default threshold from here so the pair
    can never silently diverge (the module-level EMBEDDING_DEDUP_SQL is
    this function at the default, matching the gate entry)."""
    cos = _cos_sql("ea.embedding", "eb.embedding", EMB_DIM)
    return f"""{_banded_sql()}bsz AS (
  SELECT t, bucket FROM stacked GROUP BY 1, 2
  HAVING count(*) BETWEEN 2 AND {EMB_BUCKET_CAP}
),
pairs AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM stacked l
  JOIN stacked r ON l.t = r.t AND l.bucket = r.bucket
  JOIN bsz u ON u.t = l.t AND u.bucket = l.bucket
  WHERE l.vec_id < r.vec_id
)
SELECT p.vec_a, p.vec_b,
       round({cos}, 6) AS cos,
       round({cos}, 6) >= {threshold} AS is_dup
FROM pairs p
JOIN embeddings ea ON ea.vec_id = p.vec_a
JOIN embeddings eb ON eb.vec_id = p.vec_b
ORDER BY vec_a, vec_b
"""


EMBEDDING_DEDUP_SQL = _embedding_dedup_sql()

# --- IVF (inverted-file) ANN: coarse quantizer + probed re-rank ---------------

IVF_K = 16            # centroid count (gate scale; ~sqrt(n) in production)
IVF_NPROBE = 4        # centroid lists probed per query
IVF_REPLICAS = 2      # lists each corpus vector is indexed in (r6:
                      # multi-assignment lifted recall@5 at nprobe=4 from
                      # 0.56 to 0.76 at sf0.01 for ~1.8x candidate rows;
                      # a SECOND Lloyd iteration was measured and REJECTED:
                      # it lowered recall at both scales, 0.76->0.72 and
                      # 0.56->0.52 — Lloyd optimizes quantization error,
                      # not recall@nprobe)
# Deterministic coarse quantizer: SEED centroids are the corpus vectors
# with vec_id in [N_QUERIES, N_QUERIES + IVF_K) — a fixed-id sample the
# oracle selects with a WHERE clause — sharpened by one deterministic
# Lloyd iteration (element-wise means over vec_id-ordered folds, mirrored
# in the oracle; see _refine_centroids).  Production IVF k-means-trains on
# a sample with more iterations; the plan shape (assign → refine →
# assign → probe → re-rank) is identical, which is what this operator pins.
IVF_FIRST = N_QUERIES


def _dot_over(x: str, y: str) -> str:
    """The ``_DOT`` fold as a SQL snippet over arbitrary operands, for use
    inside higher-order lambdas — the SAME zip_with/aggregate fold, so
    dot / (precomputed norms) stays bit-identical to the column form and
    to the oracle's explicit chains."""
    return (f"aggregate(zip_with({x}, {y}, (p, q) -> cast(p as double) * "
            f"cast(q as double)), 0D, (acc, v) -> acc + v)")


def _ivf_assign(corpus: DataFrame, cents: DataFrame,
                replicas: int = 1) -> DataFrame:
    """(neighbor_id, centroid_id): each corpus vector's ``replicas``
    nearest centroids by (cos DESC, centroid_id ASC).

    ZERO-shuffle assignment: the centroid table collapses to a single
    16-element array row, broadcast onto every corpus row, and the top-R
    selection happens IN-ROW — transform scores all centroids, array_sort
    on (negcos, cid) structs orders them (negation is IEEE-exact, so the
    ascending sort is exactly cos DESC with centroid_id ASC ties), slice
    takes R.  The r4–r6 form grouped 16 scored rows per vector behind an
    exchange (map-side combined, but still a corpus-sized shuffle);
    assignment now reaches the probe join without any exchange at all.

    ``replicas`` > 1 is IVF multi-assignment: a vector near a list
    boundary is indexed in several lists, trading index size (×R) for
    recall at fixed nprobe — measured at the gate config (nprobe=4):
    recall@5 0.56 → 0.76 (sf0.01) and 0.76 → 0.88 (sf0.001) for R=2.
    """
    # r8: per-vector norm (na) and per-centroid norms (nb inside the
    # broadcast array) are computed ONCE instead of inside every one of
    # the k per-centroid lambda evaluations — the division
    # dot / (na * c.nb) is over the identical doubles, so the negcos sort
    # keys (and hence the top-R lists) are bit-unchanged
    cents_arr = (cents
                 .select("centroid_id", "b", _norm_col("b").alias("nb"))
                 .agg(F.expr("collect_list(struct(centroid_id, b, nb))")
                      .alias("cs")))
    top = (f"transform(slice(array_sort(transform(cs, c -> named_struct("
           f"'negcos', -({_dot_over('a', 'c.b')} / (na * c.nb)), "
           f"'cid', c.centroid_id))), 1, {int(replicas)}), s -> s.cid)")
    return (corpus.withColumn("na", _norm_col("a"))
            .crossJoin(F.broadcast(cents_arr))
            .select("neighbor_id",
                    F.explode(F.expr(top)).alias("centroid_id")))


def _refine_centroids(corpus: DataFrame, cents: DataFrame,
                      train_limit: int | None = None) -> DataFrame:
    """One deterministic Lloyd iteration: assign every corpus vector to its
    nearest seed centroid, then replace each centroid with the element-wise
    MEAN of its assigned vectors.  Seeds with an empty list drop out (both
    engines lose the group identically).  Exactly ONE iteration: a second
    and third were measured (r6) and made recall@5 at nprobe=4 WORSE
    (sf0.001: 0.76 → 0.72, sf0.01: 0.56 → 0.52) — Lloyd converges toward
    minimum quantization error, which concentrates true neighbors into
    lists the query's nprobe probes miss; the recall lever that works is
    multi-assignment (``assign_replicas`` in ivf_topk).

    Cross-engine exactness: a float mean is order-dependent, so the sum
    per (centroid, coordinate) is folded LEFT-TO-RIGHT over values sorted
    by vec_id — Spark folds each coordinate j over the neighbor_id-sorted
    vector list (aggregate(vs, 0D, acc + cast(s.a[j] as double))), the
    oracle as list_reduce(list(... ORDER BY vec_id), +); 0D + x == x
    exactly, so the missing seed on the DuckDB side is immaterial, and
    the sum/n (double / bigint) is a single identical IEEE division.

    Scale note: ``train_limit`` bounds the training set to the
    deterministic prefix sample vec_id < train_limit — the 100 TB shape:
    the collect_list per (centroid, coordinate) group is then bounded by
    the sample size, not the corpus, while assignment/probing/re-rank
    still cover everything.  None (the gate default) trains on the full
    corpus, which maximizes recall at small scale."""
    if train_limit is not None:
        corpus = corpus.filter(F.col("neighbor_id") < train_limit)
    assigned = _ivf_assign(corpus, cents)
    # ONE groupBy (16 groups): collect each centroid's vectors sorted by
    # neighbor_id, then fold every coordinate with nested higher-order
    # lambdas — j from the outer transform is captured inside the
    # aggregate.  Same values in the same order as the equivalent
    # posexplode → groupBy(centroid, pos) → groupBy(centroid) pipeline
    # (which this replaced: two shuffles and an n×dim explode for
    # identical IEEE arithmetic), so the oracle is unchanged.
    dim = EMB_DIM
    return (assigned.join(corpus, "neighbor_id")
            .groupBy("centroid_id")
            .agg(F.expr("sort_array(collect_list(struct(neighbor_id, a)))")
                 .alias("vs"),
                 F.count("*").alias("n"))
            .select("centroid_id", F.expr(
                f"transform(sequence(0, {dim - 1}), j -> "
                "aggregate(vs, 0D, (acc, s) -> acc + cast(s.a[j] as double))"
                " / n)").alias("b")))


def _quantizer(emb: DataFrame, k: int = IVF_K,
               train_limit: int | None = None
               ) -> tuple[DataFrame, DataFrame]:
    """The coarse quantizer ``ivf_topk`` probes and ``semdedup_df`` cells
    with: (corpus, cents) — the (neighbor_id, a) corpus projection and
    the ``k`` fixed-id seed centroids sharpened by one Lloyd iteration
    (see _refine_centroids), as (centroid_id, b).  One Lloyd iteration
    moves the seeds from arbitrary corpus points to the means of their
    lists, near cluster centers, lifting recall at fixed nprobe.  The
    (k-row) centroid table is localCheckpointed: it is broadcast twice
    downstream (assignment + probes / cell cosines), and without the
    checkpoint each broadcast would re-run the whole training lineage."""
    cents = emb.filter(
        (F.col("vec_id") >= IVF_FIRST)
        & (F.col("vec_id") < IVF_FIRST + int(k))).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("b"))
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("a"))
    return corpus, \
        _refine_centroids(corpus, cents, train_limit).localCheckpoint()


def ivf_topk(spark: SparkSession, sf_dir: str,
             nprobe: int = IVF_NPROBE,
             train_limit: int | None = None,
             assign_replicas: int = IVF_REPLICAS) -> DataFrame:
    """IVF ANN top-k — the probed-quantizer candidate generator: a coarse
    quantizer (``_quantizer``) indexes every corpus vector in its nearest
    centroid lists, each query probes its ``nprobe`` nearest lists, and
    exact cosine re-ranks only vectors in probed lists.

    ``nprobe`` is the recall dial (default IVF_NPROBE=4, the gate entry's
    fixed config): work scales ~linearly with it while recall rises toward
    exact — at nprobe=IVF_K every list is probed, candidates = the whole
    corpus, and the result IS the brute-force top-k.  The recall-vs-nprobe
    curve is pinned in tests/test_ann_quality.py.

    ``assign_replicas`` (default IVF_REPLICAS=2) indexes each corpus
    vector in its R nearest lists (IVF multi-assignment): index size and
    candidate count scale ~linearly with R while recall at FIXED nprobe
    jumps — measured recall@5 at nprobe=4: 0.56/0.76/0.88 at sf0.01 and
    0.76/0.88/0.96 at sf0.001 for R=1/2/3.  The r6 default R=2 is the
    knee.

    ``train_limit`` bounds the Lloyd training set to the deterministic
    prefix sample vec_id < train_limit (the production shape at corpus
    sizes where full-corpus training is wasteful; assignment, probing,
    and re-rank still cover the whole corpus).  More Lloyd iterations
    were measured and rejected (see _refine_centroids).  Every setting
    has an exact generated oracle (``_ivf_topk_sql(nprobe=...,
    train_limit=..., assign_replicas=...)``).

    Shuffles: assignment has none — an in-row top-R against the broadcast
    centroid array (see _ivf_assign), whatever R is.  The exchanges left
    are candidate-sized or smaller: the centroid collect, the probe
    window, the multi-assignment distinct, the re-rank window and the
    output sort (plan-locked in tests/test_plans.py).

    Ranking determinism across engines: assignment and probe order are
    (cos DESC, centroid_id ASC) — in-row as an ascending sort on
    (-cos, centroid_id) structs, at the probe as a row_number window —
    over bit-identical cosines (aggregate/zip_with fold ≡ the oracle's
    explicit chain), so both engines derive identical lists.  Recall@5
    vs brute force is pinned in tests/test_ann_quality.py.

    Same in-expression dim guard as the other ANN operators
    (``_dim_guard``).
    """
    emb = _guarded(spark, sf_dir)
    corpus, cents = _quantizer(emb, train_limit=train_limit)
    # assignment: in-row top-R against the broadcast centroid array —
    # zero shuffle (see _ivf_assign); R = assign_replicas lists per vector
    assigned = _ivf_assign(corpus, cents, assign_replicas)
    # query probes: nearest nprobe centroids per query (tiny)
    probes = _top_per_query(
        _with_cosine_pre(_queries(emb).crossJoin(F.broadcast(
            cents.withColumn("nb", _norm_col("b"))))),
        "centroid_id", nprobe, "pr")
    # candidates: corpus vectors whose list is probed; exact re-rank.
    # With multi-assignment a vector can surface through several probed
    # lists — dedup then (replicas=1 cannot duplicate, skip the exchange)
    cand = assigned.join(F.broadcast(probes), "centroid_id") \
        .select("query_id", "neighbor_id")
    if assign_replicas > 1:
        cand = cand.distinct()
    return _rank_topk(_verify(cand, F.broadcast(_queries(emb)),
                              _corpus(emb)))


def _assign_cte_sql(name: str, cents: str, keep: str,
                    tail: str = "") -> str:
    """Oracle assignment CTE ``name``: every embeddings row's centroids
    from ``cents`` ranked rn = 1, 2, … by (cos DESC, centroid_id ASC),
    kept where ``keep`` (a predicate on rn) holds; ``tail`` follows the
    cross join's ``cents`` alias verbatim."""
    cos = _cos_sql("e.embedding", "c.embedding", EMB_DIM)
    return f"""{name} AS (
  SELECT neighbor_id, centroid_id FROM (
    SELECT e.vec_id AS neighbor_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {cos} DESC, c.centroid_id ASC)
             AS rn
    FROM embeddings e CROSS JOIN {cents} c{tail}
  ) WHERE {keep}"""


def _cents_cte(train_limit: int | None = None) -> str:
    """The shared coarse-quantizer CTE block (``cents`` = seed centroids
    sharpened by the one Lloyd iteration) — factored out so the IVF
    oracles and the SemDedup oracle derive their clustering from the
    byte-identical SQL text that the Spark side's _refine_centroids /
    _ivf_assign pair is proven exact against."""
    # one Lloyd iteration, folded in the exact order Spark folds:
    # per-(centroid, coordinate) left-to-right sum over vec_id-sorted
    # values (list_reduce has no seed; 0D + x == x exactly), then a
    # single double/bigint division per coordinate
    train = (f"WHERE e.vec_id < {train_limit}"
             if train_limit is not None else "")
    return f"""cents0 AS (
  SELECT vec_id AS centroid_id, embedding FROM embeddings
  WHERE vec_id >= {IVF_FIRST} AND vec_id < {IVF_FIRST + IVF_K}
), {_assign_cte_sql("assigned0", "cents0", "rn = 1", f" {train}")}
), positions AS (
  SELECT UNNEST(range(1, {EMB_DIM + 1})) AS pos
), coord_sums AS (
  SELECT a.centroid_id, p.pos,
         list_reduce(list(CAST(e.embedding[p.pos] AS DOUBLE)
                          ORDER BY e.vec_id), (x, y) -> x + y) AS s,
         COUNT(*) AS n
  FROM assigned0 a
  JOIN embeddings e ON e.vec_id = a.neighbor_id
  CROSS JOIN positions p
  GROUP BY a.centroid_id, p.pos
), cents AS (
  SELECT centroid_id, list(s / n ORDER BY pos) AS embedding
  FROM coord_sums GROUP BY centroid_id
)"""


def _ivf_topk_sql(nprobe: int = IVF_NPROBE,
                  train_limit: int | None = None,
                  assign_replicas: int = IVF_REPLICAS) -> str:
    cos_qc = _cos_sql("q.embedding", "c.embedding", EMB_DIM)
    cos_qn = _cos_sql("qe.embedding", "ne.embedding", EMB_DIM)
    assigned = _assign_cte_sql("assigned", "cents",
                               f"rn <= {assign_replicas}")
    ranked = f"""SELECT c.query_id, c.neighbor_id,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY {cos_qn} DESC, c.neighbor_id ASC)
           AS rank
  FROM cand c
  JOIN embeddings qe ON qe.vec_id = c.query_id
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id"""
    return f"""
WITH {_cents_cte(train_limit)}, {assigned}
), probes AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.vec_id AS query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {cos_qc} DESC, c.centroid_id ASC)
             AS pr
    FROM embeddings q CROSS JOIN cents c
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE pr <= {nprobe}
), cand AS (
  SELECT {"DISTINCT " if assign_replicas > 1 else ""}p.query_id, a.neighbor_id
  FROM assigned a JOIN probes p ON p.centroid_id = a.centroid_id
{_rank_tail_sql(ranked)}"""


IVF_TOPK_SQL = _ivf_topk_sql()

# Gate entry for the bounded-sample training shape (the production
# config at corpus sizes where full-corpus Lloyd training is wasteful):
# Lloyd trains on the deterministic prefix sample vec_id < 128;
# assignment, probing, and re-rank still cover the whole corpus.
IVF_TRAIN_SAMPLE = 128


def ivf_topk_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ivf_topk(spark, sf_dir, train_limit=IVF_TRAIN_SAMPLE)


# --- SemDedup: semantic deduplication via quantizer clusters ------------------
#
# Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
# semantic deduplication", arXiv:2303.09540): k-means-cluster the embedding
# space, compare pairs ONLY within a cluster, and inside every group of
# ε-similar examples keep the one with the LOWEST similarity to its cluster
# centroid (the "edge" example carries the most information).  This is the
# corpus-level complement of embedding_near_dup: near_dup FINDS similar
# pairs via LSH; semdedup DECIDES which side of each pair to drop, with the
# quadratic work confined to quantizer cells instead of hash buckets.
#
# Clustering reuses the exact IVF coarse quantizer the ANN gate pins
# (fixed-id seeds + one deterministic Lloyd iteration + zero-shuffle in-row
# assignment), so the cluster structure here is the SAME structure
# ann_ivf_topk probes — one trained artifact serves both retrieval and
# dedup, which is how a production pipeline amortizes the k-means cost.
#
# Determinism: the paper's "keep lowest centroid-similarity" rule is made
# total by the (cent_cos, vec_id) lexicographic key — x is dropped iff some
# above-ε cluster-neighbor y has a strictly smaller key.  Within any dup
# pair the higher-key side is dropped, so no surviving pair is ε-similar
# (chains can keep several mutually-dissimilar members — exactly the
# greedy per-group argmin the paper describes).
#
# Gate-scale threshold: same rationale as EMB_DUP_THRESHOLD — the synthetic
# corpus has no true duplicates (max pairwise cos ≈ 0.51), so ε=0.4 sits in
# the top tail of the within-cluster pair distribution and exercises both
# the drop and keep paths; production uses 0.95+ where clusters concentrate
# real near-copies.
SEM_DUP_THRESHOLD = EMB_DUP_THRESHOLD


def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDedup verdict over the embeddings table: cluster id,
    centroid similarity, above-ε cluster-neighbor count, and the drop flag.
    """
    return semdedup_df(_guarded(spark, sf_dir))


def sem_k_for(n: int) -> int:
    """The scaled quantizer's cell count: k = max(IVF_K, ⌊√n⌋).

    √n is the BALANCED configuration of a flat (single-level) quantizer:
    total work = assignment n·k + within-cell pairs (n/k cells × (n/k)²/2
    each ≈ n²/k), minimized at k = √n where both terms are Θ(n^1.5).
    Either extreme is quadratic — fixed k leaves (n/k)² pair growth (the
    r7 probe measured 48.7× wall for ~9× data), k ∝ n leaves n·k = n²/c
    assignment growth AND an un-broadcastable centroid table (10^10
    vectors → 8×10^7 centroids × 64 floats ≈ 20 GB; √n keeps it ~25 MB).
    The SemDedup paper's own config is the same order: 50k clusters for
    LAION-440M vs √(4.4×10^8) ≈ 21k.  There is no linear-time exact
    SemDedup on a flat quantizer; Θ(n^1.5) with both terms embarrassingly
    parallel IS the published algorithm's scale shape.
    """
    return max(IVF_K, math.isqrt(max(int(n), 0)))


def semdedup_scaled(spark: SparkSession, sf_dir: str,
                    threshold: float = SEM_DUP_THRESHOLD) -> DataFrame:
    """Production SemDedup: quantizer cell count scales as √n (see
    ``sem_k_for``) so neither the per-cell pair work nor the assignment
    term can go quadratic — the r7 10×-corpus probe measured the fixed-k
    gate form at wall(10×)/wall(1×) = 48.7 (per-cell pairs grow (n/k)²),
    vs a measured exponent ≈ 1.25 for the scaled form (~15.6× wall for
    9.04× data, below the Θ(n^1.5) balance bound because fixed overheads
    amortize; BENCH/scaleup_history.jsonl).

    The single ``count()`` is a driver-side CONFIG action (one long), the
    same pattern as AQE's runtime statistics — not a data collect; at
    100 TB the count comes free from the table's metadata/statistics.
    The gate query stays at fixed k=16 because the DuckDB oracle pins the
    quantizer cell-by-cell; this wrapper is the same lineage with a wider
    centroid filter, so every plan lock on semdedup_df applies unchanged
    (pinned: the planted-duplicate semantics hold under a wider quantizer,
    tests/test_semdedup.py).
    """
    emb = _guarded(spark, sf_dir)
    return semdedup_df(emb, threshold, k=sem_k_for(emb.count()))


def semdedup_df(emb: DataFrame,
                threshold: float = SEM_DUP_THRESHOLD,
                k: int = IVF_K) -> DataFrame:
    """DataFrame-core of ``semdedup`` — takes any (vec_id, embedding)
    table so the planted-duplicate design-point test can run it over a
    corpus with real near-copies (the parquet corpus has none).

    Scale shape (10^12 vectors): centroid training and assignment are the
    IVF operators' own (bounded-sample Lloyd, broadcast centroid array,
    zero-shuffle in-row top-1); the only corpus-sized exchange is the
    groupBy(centroid_id) that forms cluster cells, and the quadratic pair
    work is confined to cells — production picks K ≈ n/⟨cell⟩ to hold cell
    size constant (the paper uses 50k clusters for LAION-440M), so per-cell
    work is flat while cells parallelize.  ``k`` is that dial: the gate
    default IVF_K=16 is exact-oracle territory at gate scale but
    QUADRATIC in n if held fixed — the r7 10×-corpus probe measured
    wall(10×)/wall(1×) = 48.7 at fixed k=16 (per-cell pairs grow (n/k)²)
    vs ~linear once k scales with n (``semdedup_scaled``).  The
    per-vector table feeds three consumers (pair build, both sides of the
    priority comparison, final output), so it is localCheckpointed once —
    at real scale that is the persisted "index" artifact shared with
    ann_ivf_topk.
    """
    corpus, cents = _quantizer(emb, k)
    assigned = _ivf_assign(corpus, cents, 1)
    cc = _with_cosine_pre(
        assigned.join(corpus.withColumn("na", _norm_col("a")),
                      "neighbor_id")
        .join(F.broadcast(cents.withColumn("nb", _norm_col("b"))),
              "centroid_id")).select(
        F.col("neighbor_id").alias("vec_id"), "centroid_id",
        F.round(F.col("cos"), 6).alias("cent_cos")).localCheckpoint()
    # within-cell candidate pairs via the single-lineage grouping pattern
    # (common.sorted_id_pairs, as in ops.dedup._band_pairs and
    # embedding_near_dup): sorted vec_id array per cell, in-row i<j
    # expansion — no self-join, the assignment runs exactly once.
    # replicas=1 ⇒ a pair can only arise in one cell.
    cells = (cc.groupBy("centroid_id")
             .agg(F.array_sort(F.collect_set("vec_id")).alias("vs"))
             .filter(F.size("vs") >= 2))
    # the verified dup-pair set is tiny (threshold tail of within-cell
    # pairs); materialize it once — its lineage otherwise replays the
    # explode + two corpus joins for each of the union sides below
    pairs = (
        _verify(sorted_id_pairs(cells, "vs", "vec_a", "vec_b"),
                _side(emb, "vec_a", "a", "na"),
                _side(emb, "vec_b", "b", "nb"))
        .filter(F.round(F.col("cos"), 6) >= threshold)
        .select("vec_a", "vec_b")).localCheckpoint()
    adj = pairs.select(F.col("vec_a").alias("vec_id"),
                       F.col("vec_b").alias("other")).union(
        pairs.select(F.col("vec_b").alias("vec_id"),
                     F.col("vec_a").alias("other")))
    key = cc.select("vec_id", "cent_cos")
    # one pass over the adjacency: neighbor count + "some neighbor has a
    # strictly lower (cent_cos, vec_id) key" in a single aggregation
    lower = ((F.col("cent_cos") > F.col("other_cos"))
             | ((F.col("cent_cos") == F.col("other_cos"))
                & (F.col("vec_id") > F.col("other"))))
    flags = (
        adj.join(key, "vec_id")
        .join(key.select(F.col("vec_id").alias("other"),
                         F.col("cent_cos").alias("other_cos")), "other")
        .groupBy("vec_id")
        .agg(F.count("*").cast("long").alias("n_dups"),
             F.max(lower.cast("int")).alias("d")))
    return (
        cc.join(flags, "vec_id", "left")
        .select(
            "vec_id", "centroid_id", "cent_cos",
            F.coalesce(F.col("n_dups"), F.lit(0)).cast("long")
            .alias("n_dups"),
            F.coalesce(F.col("d"), F.lit(0)).cast("int").alias("dropped"))
        .orderBy("vec_id")
    )


def _semdedup_sql(threshold: float = SEM_DUP_THRESHOLD) -> str:
    """DuckDB mirror: the shared quantizer CTE (_cents_cte — byte-identical
    to the IVF oracles'), rn=1 assignment (_assign_cte_sql), cell self-join for pairs with
    the identical rounded-cosine threshold, and the same lexicographic
    (cent_cos, vec_id) drop rule.  ``threshold`` is the SAME parameter
    ``semdedup_df`` takes, so operator and oracle cannot silently diverge.
    """
    cos_ac = _cos_sql("e.embedding", "c.embedding", EMB_DIM)
    cos_ab = _cos_sql("ea.embedding", "eb.embedding", EMB_DIM)
    # cc is referenced four times (both pair sides, both priority sides,
    # final output) and itself references the quantizer twice; DuckDB
    # inlines plain CTEs per reference, which explodes the 64-term cosine
    # chains into an unplannable tree (observed: planner OOM at sf0.001).
    # MATERIALIZED pins each to one evaluation — the oracle analogue of the
    # Spark side's localCheckpoint on the same tables.
    return f"""
WITH {_cents_cte()}, {_assign_cte_sql("assigned", "cents", "rn = 1")}
), cc AS MATERIALIZED (
  SELECT a.neighbor_id AS vec_id, a.centroid_id,
         round({cos_ac}, 6) AS cent_cos
  FROM assigned a
  JOIN embeddings e ON e.vec_id = a.neighbor_id
  JOIN cents c ON c.centroid_id = a.centroid_id
), pairs AS MATERIALIZED (
  SELECT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM cc l
  JOIN cc r ON l.centroid_id = r.centroid_id AND l.vec_id < r.vec_id
  JOIN embeddings ea ON ea.vec_id = l.vec_id
  JOIN embeddings eb ON eb.vec_id = r.vec_id
  WHERE round({cos_ab}, 6) >= {threshold}
), adj AS MATERIALIZED (
  SELECT vec_a AS vec_id, vec_b AS other FROM pairs
  UNION ALL
  SELECT vec_b AS vec_id, vec_a AS other FROM pairs
), dropped AS (
  SELECT DISTINCT x.vec_id
  FROM adj j
  JOIN cc x ON x.vec_id = j.vec_id
  JOIN cc y ON y.vec_id = j.other
  WHERE x.cent_cos > y.cent_cos
     OR (x.cent_cos = y.cent_cos AND x.vec_id > y.vec_id)
), ndup AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_dups FROM adj GROUP BY vec_id
)
SELECT cc.vec_id, cc.centroid_id, cc.cent_cos,
       CAST(coalesce(n.n_dups, 0) AS BIGINT) AS n_dups,
       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
         AS dropped
FROM cc
LEFT JOIN ndup n ON n.vec_id = cc.vec_id
LEFT JOIN dropped d ON d.vec_id = cc.vec_id
ORDER BY cc.vec_id
"""


SEMDEDUP_SQL = _semdedup_sql()


IVF_SAMPLED_SQL = _ivf_topk_sql(train_limit=IVF_TRAIN_SAMPLE)
