"""Extraction pipeline: salting, repartition, lineage metrics, resume.

Implements the north rule's scale requirements explicitly:

- **Skew**: conversation lengths are Zipf-ish — a few conv_ids carry 10^3+
  turns.  Extraction is per-turn (embarrassingly parallel), so we salt on
  ``hash(conv_id, turn_idx)`` and repartition BEFORE the extraction stage;
  ordering is restored by (conv_id, turn_idx) only where a consumer needs it.
- **Lineage / checkpoint-resume**: every output row carries its bucket_id;
  a per-bucket metrics table (row counts, article counts, score/yield sums,
  conv_id range, status) is derived from the output and written next to it.
  ``resume_filter`` anti-joins the input against buckets already marked ok,
  so a re-run reprocesses only failed/missing buckets.
- **AQE** handles post-shuffle coalescing and runtime skew splits on top.

At 100 TB the same code holds: bucket count scales with cluster cores
(4 buckets/core keeps task size uniform), the UDF is Arrow-batched with a
bounded per-batch record count, and the only shuffle in the job is the one
explicit salt repartition (the metrics groupBy aggregates partially map-side
on a small column set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import EXTRACT_SCHEMA
from .udfs import make_extract_udf

# Arrow rows/batch. Small batches matter enormously for UDF throughput:
# with ~30KB HTML payloads, the default 10000-row batches serialize the
# JVM→Python pipe (measured 36s vs 2.3s for a 200MB pass-through at
# batch=64 on local[32]).  64 rows ≈ 2MB keeps the feed/compute pipeline
# full; paired with a 2MB python-worker socket buffer (spark.buffer.size,
# default 64KB!) this took the flagship job from 432 to ~1250 turns/s at
# local[32] — the buffer must hold ~one batch so the JVM can stage the
# next batch while the worker computes the current one.
# Re-tuned after the r5 core speedup (tools/arrow_batch_ab.py, two
# interleaved sessions in BENCH/arrow_ab_history.jsonl): 64 still wins —
# rotated-order medians vs 64 were 0.83 (batch=128) and 0.69 (batch=256),
# and the quietest round read 10.4s / 11.5s / 13.0s for 64/128/256.  A
# fixed variant order fakes large gains for whichever slot dodges the
# host's throttle cycle; rotate the order when re-measuring.
DEFAULT_ARROW_BATCH = 64
PYTHON_SOCKET_BUFFER = 2 * 1024 * 1024


def build_session(app_name: str = "readability-spark",
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  arrow_batch: int = DEFAULT_ARROW_BATCH,
                  driver_memory: str | None = None) -> SparkSession:
    """Session with the configs the pipeline relies on (AQE + Arrow).

    In local mode the driver JVM IS the cluster — the 1g default heap GC-
    thrashes under 32 concurrent tasks, so size it like an executor.  On a
    real cluster these settings ride spark-submit instead.
    """
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
        if driver_memory is None and master.startswith("local"):
            driver_memory = "12g"
        # G1 on a large heap GC-thrashed the Arrow UDF feed (measured 765s
        # of GC inside a 120s stage at local[32]); ParallelGC with a modest
        # heap was consistently ~2x faster for this pipeline shape
        b = b.config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(arrow_batch))
        .config("spark.buffer.size", str(PYTHON_SOCKET_BUFFER))
        # r8: InferFiltersFromGenerate clones each explode()'s child into
        # a pushed-down `size(child) > 0 AND isnotnull(child)` predicate;
        # when the child is a tokenize + n-gram build, every corpus row
        # pays that construction TWICE (once in the cloned Filter, once in
        # the real Project) for a predicate explode() enforces anyway
        # (empty arrays emit no rows, and none of these derived predicates
        # can reach parquet).  Result-identical; removes the duplicated
        # subtree the guide's plan-audit checklist flags.  Scale-safe: the
        # exclusion matters MORE at 100 TB (the cloned subtree is per-row
        # work), and is independent of core count.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
    )
    if driver_memory:
        b = b.config("spark.driver.memory", driver_memory)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def n_buckets_for(spark: SparkSession, factor: int = 4) -> int:
    """Salt-bucket count: ~4× parallelism keeps tasks uniform under skew."""
    return max(1, spark.sparkContext.defaultParallelism * factor)


def bucket_id_col(num_buckets: int):
    """Salt bucket of a turn: pmod(xxhash64(conv_id, turn_idx), N) as int.

    The ONE definition of the salt: extraction (batch and streaming) tags
    rows with it and ``resume_filter`` anti-joins on it, so any drift
    between copies would silently drop rows on resume.  Salting on
    (conv_id, turn_idx) — not conv_id alone — is what breaks the
    long-conversation skew the north rule calls out; it is safe because
    extraction is stateless per turn."""
    return (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(num_buckets))
            .cast("int"))


def salt_and_partition(df: DataFrame, num_buckets: int) -> DataFrame:
    """Add ``bucket_id`` (see ``bucket_id_col``) and repartition on it."""
    return (df.withColumn("bucket_id", bucket_id_col(num_buckets))
            .repartition(num_buckets, "bucket_id"))


def _extract_tiers(light: DataFrame, heavy: DataFrame, pass_cols: list[str],
                   group_keys: list[str], udf,
                   whale_safe_bytes: int | None) -> DataFrame:
    """Extract ``text`` into ``pass_cols`` + the EXTRACT_SCHEMA columns.

    ``whale_safe_bytes=None``: the scalar UDF over ``light``, nothing else
    (``heavy`` is unused).  Otherwise rows under the threshold take the
    scalar UDF over ``light`` and the rest of ``heavy`` go through
    applyInPandas groups on ``group_keys`` — which must make the groups
    singletons, so each GROUP is the Arrow transfer unit and the python
    worker never stages more than one whale (≤ MAX_HTML_BYTES) at a time.
    Both tiers run the same batch function, ``udf.func``; the closure
    captures that plain function because the UDF wrapper does not
    pickle."""
    if whale_safe_bytes is not None:
        # octet_length(NULL) is NULL, which would drop null-text rows from
        # BOTH tiers — a NULL payload sizes as 0 and stays light
        size = F.coalesce(F.octet_length("text"), F.lit(0))
        light = light.filter(size < whale_safe_bytes)
    out = light.withColumn("x", udf(F.col("text"))).select(*pass_cols, "x.*")
    if whale_safe_bytes is None:
        return out

    batch = udf.func

    def _extract_group(pdf):
        rec = batch(pdf["text"])
        for i, c in enumerate(pass_cols):
            rec.insert(i, c, pdf[c].values)
        return rec

    schema = T.StructType(
        [heavy.schema[c] for c in pass_cols] + EXTRACT_SCHEMA.fields)
    whales = (heavy.filter(size >= whale_safe_bytes)
              .groupBy(*group_keys)
              .applyInPandas(_extract_group, schema=schema))
    return out.unionByName(whales)


def run_extraction(df: DataFrame, num_buckets: int | None = None,
                   char_threshold: int = 500,
                   whale_safe_bytes: int | None = None,
                   dedup_payloads: bool = False) -> DataFrame:
    """transcripts → per-turn extraction results (flat columns).

    One composition in four steps, the last two optional:

    1. **Key** the rows: project (conv_id, turn_idx, role, text) — the
       scan reads only those 4 columns — and tag each turn with its salt
       ``bucket_id`` (plus the payload key ``_tkey`` when deduplicating).
    2. **Distinct payloads** (``dedup_payloads``): otherwise the keyed
       rows are repartitioned on ``bucket_id``.
    3. **Byte tiers** (``whale_safe_bytes``): see ``_extract_tiers``.
    4. **Extract** with one scalar pandas UDF (``make_extract_udf``).

    Default plan: Scan → Project → Exchange(hash bucket_id) →
    ArrowEvalPython(extract_udf) → Project.  One shuffle total.

    ``whale_safe_bytes``: Arrow input batches for a scalar pandas UDF are
    sliced by RECORD COUNT only (Spark 4.1 honors maxBytesPerBatch solely in
    the transformWithState serializers), so with the default 64-row batch a
    pathological run of 8 MB-cap documents could stage a ~512 MB batch in
    the python worker.  Setting this threshold gives HARD per-batch byte
    bounds: light rows (< threshold) keep the 64-row scalar-UDF path,
    bounding a batch at 64×threshold bytes (64 MB at a 1 MB threshold);
    whale rows go through singleton applyInPandas groups keyed on
    (conv_id, turn_idx), one whale per transfer unit.  The whale tier
    shuffles only its own (rare) rows and skips the salt exchange
    entirely (bucket_id rides along as a column; the grouping exchange
    already randomizes placement).  Cost honesty: the size predicate is
    not expressible against parquet footer stats, so the two tiers are
    two scans of the source.  The mode is therefore OPT-IN for corpora
    where whales actually occur; the default keeps the single-tier /
    single-shuffle plan, where whale damage is already capped by
    MAX_HTML_BYTES truncation.  (The single-scan alternative — persisting
    the salted exchange — trades the rescan for materializing the full
    corpus in executor storage; at 100 TB the rescan is the cheaper side
    of that trade.)

    ``dedup_payloads``: extraction is a pure function of the text, and
    real transcript corpora are duplicate-heavy (boilerplate pages,
    re-fetched URLs, repeated tool outputs), so run the UDF once per
    DISTINCT payload and join the records back — the standard relational
    form of content-addressed extraction caching.  Result-identical by
    purity (NULL and '' text intentionally share a key: parse_guarded
    maps NULL to '').  The distinct key is sha256 of the payload:
    extraction caching silently merges any two colliding payloads, and
    md5 collisions are constructible by an adversarial corpus, so the
    key must be collision-resistant (the md5-only determinism rule
    covers gate-facing oracled queries, not internal keys).  Cost
    model: replaces the salt exchange with a dropDuplicates shuffle
    keyed on the payload hash plus a join of the corpus against the
    extracted-distinct table — pays off when the duplicate factor beats
    the extra shuffle.  The salt's skew job is done by hash-of-payload
    partitioning here; AQE splits any hot key.  Opt-in because a
    genuinely all-unique corpus pays ~2× shuffle for nothing.

    The two modes COMPOSE — duplicate-heavy and whale-bearing corpora
    co-occur in real crawl data: the distinct table is built first
    (collapsing repeated whales to one row each), then its residue is
    byte-tiered with singleton groups keyed on ``_tkey``.  Both tiers
    read the distinct table's lineage (its exchanges are reused), and
    the whale groupBy('_tkey') is satisfied by the _tkey partitioning
    the distinct table already carries, so whale rows pay no additional
    exchange: at most 3 shuffles in all (dedup, repartition, and the
    record side of the join).
    """
    if num_buckets is None:
        num_buckets = n_buckets_for(df.sparkSession)
    udf = make_extract_udf(char_threshold)
    cols = [c for c in ("conv_id", "turn_idx", "role") if c in df.columns]
    keyed = df.select(*cols, "text")
    if dedup_payloads:
        keyed = keyed.withColumn(
            "_tkey", F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
    keyed = keyed.withColumn("bucket_id", bucket_id_col(num_buckets))
    if not dedup_payloads:
        return _extract_tiers(
            keyed.repartition(num_buckets, "bucket_id"), keyed,
            [*cols, "bucket_id"], ["conv_id", "turn_idx"], udf,
            whale_safe_bytes)
    distinct = (keyed.select("_tkey", "text")
                .dropDuplicates(["_tkey"])
                .repartition(num_buckets, "_tkey"))
    extracted = _extract_tiers(distinct, distinct, ["_tkey"], ["_tkey"], udf,
                               whale_safe_bytes)
    return (keyed.join(extracted, "_tkey")
            .select(*cols, "bucket_id", *EXTRACT_SCHEMA.fieldNames()))


def derive_metrics(results: DataFrame, attempt: int = 1,
                   num_buckets: int | None = None) -> DataFrame:
    """Per-bucket lineage/metrics rows (aggregates only small columns —
    partial aggregation happens map-side before the tiny final shuffle).

    A bucket whose every row FATALLY errored is marked ``failed`` so a
    resume run actually reprocesses it (status='ok' would pin a poisoned
    shard as done forever).  Only ``exception:``-prefixed errors are fatal:
    the error column also carries non-fatal warning markers
    (``truncated:max_html_bytes``, ``depth_capped:max_dom_depth``,
    extract.py:125-133) on rows that extracted fine — counting those as
    errors would mark an all-truncated bucket permanently failed, so every
    resume would reprocess it and append another full copy of its output,
    never converging.  Warnings are surfaced separately as ``n_warnings``.
    ``n_buckets`` records the salt modulus the run used — a resume MUST
    reuse it, or the anti-join compares incompatible bucket ids (see
    run_pipeline)."""
    fatal = F.col("error").startswith("exception:")
    return (
        results.groupBy("bucket_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.when(F.col("page_type") == "article", 1).otherwise(0))
            .alias("n_articles"),
            F.sum(F.when(fatal, 1).otherwise(0)).alias("n_errors"),
            F.sum(F.when(F.col("error").isNotNull() & ~fatal, 1)
                  .otherwise(0)).alias("n_warnings"),
            F.sum("node_count").alias("sum_node_count"),
            F.sum("char_yield").alias("sum_char_yield"),
            F.avg("top_score").alias("avg_top_score"),
            F.min("conv_id").alias("conv_id_min"),
            F.max("conv_id").alias("conv_id_max"),
        )
        .withColumn(
            "status",
            F.when(F.col("n_errors") < F.col("n_turns"), F.lit("ok"))
            .otherwise(F.lit("failed")))
        .withColumn("attempt", F.lit(attempt))
        .withColumn("n_buckets", F.lit(num_buckets).cast("int"))
    )


def resume_filter(df: DataFrame, metrics: DataFrame,
                  num_buckets: int) -> DataFrame:
    """Keep only turns whose bucket has no status='ok' lineage row.

    The metrics side is tiny (one row per bucket) → broadcast anti-join;
    no shuffle of the big side beyond the salt repartition it needs anyway.
    """
    done = metrics.filter(F.col("status") == "ok").select("bucket_id").distinct()
    return (df.withColumn("bucket_id", bucket_id_col(num_buckets))
            .join(F.broadcast(done), "bucket_id", "left_anti"))


def _is_path_missing(e: Exception) -> bool:
    """True iff a read failed because the table doesn't exist OR holds no
    committed data (fresh run), as opposed to a corrupt table or a
    transient FS error — only the former may be swallowed by resume logic.

    UNABLE_TO_INFER_SCHEMA counts as missing: a run killed between
    directory creation and task commit leaves the path with only a
    ``_temporary`` subdir and zero parquet footers — the standard crash
    artifact resume exists to recover from.  No committed files means no
    recorded attempts, so "fresh" is semantically exact.  A table whose
    committed files are unreadable fails footer PARSING instead (not an
    AnalysisException) and still propagates."""
    from pyspark.errors import AnalysisException

    if not isinstance(e, AnalysisException):
        return False
    try:
        cls = e.getCondition()
    except Exception:
        cls = None
    if cls:
        # structured error condition available: trust it alone — a genuine
        # FS/corruption error whose MESSAGE merely embeds one of these
        # tokens (e.g. a wrapped cause chain) must not read as "fresh run"
        return cls in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    # no condition (older Spark / plain analysis error): message fallback,
    # including the legacy pre-error-class phrasing for portability
    msg = str(e)
    return ("PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg
            or "Path does not exist" in msg)


def run_pipeline(spark: SparkSession, input_path: str, output_path: str,
                 metrics_path: str, num_buckets: int | None = None,
                 char_threshold: int = 500, fmt: str = "parquet",
                 resume: bool = True,
                 whale_safe_bytes: int | None = None,
                 dedup_payloads: bool = False) -> dict:
    """Full job: read → (resume anti-join) → salt → extract → write + metrics.

    ``fmt`` is "parquet" here; on an Iceberg-catalog cluster pass
    ``fmt='iceberg'`` and table identifiers instead of paths — the plan is
    identical, Iceberg adds hidden-partition pruning on bucket(conv_id).
    """
    df = spark.read.format(fmt).load(input_path)
    if num_buckets is None:
        num_buckets = n_buckets_for(spark)

    attempt = 1
    if resume:
        # only a MISSING metrics table means "fresh run"; any other failure
        # (corrupt table, FS error) must propagate — swallowing it would
        # restart at attempt=1 and collide with existing attempt-1 rows
        try:
            metrics_prev = spark.read.format(fmt).load(metrics_path)
        except Exception as e:
            if not _is_path_missing(e):
                raise
            metrics_prev = None
        # a crash BETWEEN the output write and the metrics write leaves
        # the output table one attempt ahead of the metrics table; deriving
        # the next attempt from metrics alone would reuse that number, so
        # the reprocessed buckets' duplicate copies would both carry the
        # same attempt and max-attempt dedup would silently keep both.
        # Consult both tables.  The output read is a single-int-column
        # pruned scan (parquet reads only the 'attempt' pages), not a
        # re-scan of the payload.
        prev_attempt = 0
        try:
            prev_attempt = int(
                spark.read.format(fmt).load(output_path)
                .agg(F.max("attempt")).first()[0] or 0)
        except Exception as e:
            # missing output table == fresh run; anything else (corrupt
            # table, transient FS error) must propagate — resetting to 0
            # here while metrics are also unreadable would recreate the
            # colliding-attempt bug this read exists to prevent
            if not _is_path_missing(e):
                raise
        if metrics_prev is not None:
            prev = metrics_prev.agg(
                F.max("attempt").alias("a"),
                F.max("n_buckets").alias("b")).first()
            prev_attempt = max(prev_attempt, int(prev["a"] or 0))
            # the salt modulus is part of the lineage: resuming with a
            # different bucket count would anti-join incompatible bucket
            # ids and silently drop never-processed rows
            if prev["b"] is not None:
                num_buckets = int(prev["b"])
            df = resume_filter(df, metrics_prev, num_buckets) \
                .drop("bucket_id")
        attempt = prev_attempt + 1

    # One materialization of the extraction UDF: persist the results, write
    # them, then derive THIS attempt's metrics from the cache and append to
    # the metrics table.  Re-reading output_path here would re-scan
    # everything ever written on every attempt — at 100 TB that second full
    # scan dominates the job.  MEMORY_AND_DISK spills oversized partitions;
    # on clusters where caching the output is still too heavy, the
    # equivalent is reading back only the files this attempt created.
    from pyspark import StorageLevel

    # every output row carries its attempt: if a prior attempt crashed
    # between the output write and the metrics write, resume reprocesses
    # those buckets and output_path holds both copies — and because the
    # next attempt is computed from max(attempt) across BOTH tables (above),
    # the copies are guaranteed to carry distinct attempts, so keep-max-
    # attempt per (conv_id, turn_idx) dedups them deterministically
    results = run_extraction(df, num_buckets, char_threshold,
                             whale_safe_bytes=whale_safe_bytes,
                             dedup_payloads=dedup_payloads) \
        .withColumn("attempt", F.lit(attempt))
    results.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # a non-resume run is a fresh job: BOTH tables start over (append
        # output + overwrite metrics would leave stale rows described by
        # nothing, all tagged attempt=1)
        mode = "append" if resume else "overwrite"
        results.write.format(fmt).mode(mode).save(output_path)
        metrics = derive_metrics(
            results.select("bucket_id", "page_type", "error", "node_count",
                           "char_yield", "top_score", "conv_id"),
            attempt, num_buckets)
        metrics.write.format(fmt).mode(mode).save(metrics_path)
    finally:
        results.unpersist()

    # counts come from the (tiny) metrics table, not another output scan
    totals = (spark.read.format(fmt).load(metrics_path)
              .agg(F.sum("n_turns").alias("t"),
                   F.sum(F.when(F.col("attempt") == attempt,
                                F.col("n_turns")).otherwise(0)).alias("n"))
              .first())
    return {"rows": int(totals["t"] or 0), "rows_new": int(totals["n"] or 0),
            "attempt": attempt, "num_buckets": num_buckets}
