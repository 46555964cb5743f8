"""Shared helpers for the relational/training-data operators.

Every operator here has two faces:
- a Spark DataFrame implementation (built-in functions only — JVM-side,
  whole-stage codegen, no Python in the hot path), and
- an ANSI-SQL oracle string DuckDB runs on the same parquet tables.

Hashing is the cross-engine pivot: both engines share ``md5`` byte-for-byte,
so every hash-derived value (simhash bits, minhash integers, fingerprints)
is defined in terms of md5 hex digits and reproduced exactly in both
dialects.  Engine-specific hashes (xxhash64, DuckDB ``hash``) are never used
in oracled queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- tokenization (identical semantics in both dialects) --------------------
#
# NOT `\s`: Java's \s is ASCII [ \t\n\x0B\f\r] while DuckDB's RE2 \s excludes
# vertical tab — a VT-containing document would tokenize differently and
# silently skew every token-derived oracle.  Spell the class out in both
# dialects (same character set as Java \s, so Spark outputs are unchanged).

# Spark SQL string literals unescape one level: '\\t' in the SQL text → \t
# regex escape.  The Python constants therefore carry doubled backslashes.
# The bare char sets are exported so other char classes (e.g. textstats'
# BPE-ish negated class) build on the SAME set in both dialects.
WS_CHARS_SPARK = " \\\\t\\\\n\\\\r\\\\f\\\\x0b"
# DuckDB string literals are verbatim: \t reaches RE2 as the two chars \ t.
WS_CHARS_SQL = " \\t\\n\\r\\f\\x0b"
_WS_CLASS_SPARK = f"[{WS_CHARS_SPARK}]+"
_WS_CLASS_SQL = f"[{WS_CHARS_SQL}]+"


def tokens_col(text_col: str = "text"):
    """Non-empty whitespace tokens of lower(trim(text)) as array<string>.

    r8: the empty-token drop is ``array_remove(.., '')`` instead of the
    ``filter(x -> x <> '')`` HOF — identical output (split yields no NULL
    elements; array_remove strips every '' occurrence) without paying an
    interpreted lambda per token, which matters because pushed-down
    filters clone this whole expression into scan predicates."""
    return F.expr(
        f"array_remove(split(lower(trim({text_col})), "
        f"'{_WS_CLASS_SPARK}'), '')")


SQL_TOKENS = ("list_filter(regexp_split_to_array(lower(trim({col})), "
              f"'{_WS_CLASS_SQL}'), x -> x <> '')")


# --- md5-derived integers -----------------------------------------------------

def md5_prefix_int_expr(col: str, nhex: int = 8, start: int = 1) -> str:
    """Spark SQL: ``nhex`` hex digits of md5(col) from 1-based offset
    ``start`` as a bigint.

    Written with instr() arithmetic (not conv()) so the DuckDB mirror is
    literally the same expression.  Disjoint ``start`` offsets over the
    32-digit md5 give independent-enough integers for multi-hash schemes
    (Bloom positions, banded signatures) without a second hash invocation.
    """
    terms = " + ".join(
        f"(instr('{HEX}', substr(md5({col}), {start + j}, 1)) - 1) * "
        f"CAST({16 ** (nhex - 1 - j)} AS BIGINT)"
        for j in range(nhex))
    return f"({terms})"


def md5_prefix_int_sql(col: str, nhex: int = 8, start: int = 1) -> str:
    """DuckDB mirror of md5_prefix_int_expr (identical by construction)."""
    return md5_prefix_int_expr(col, nhex, start)


def md5_prefix_int_fast_expr(col: str, nhex: int = 8, start: int = 1) -> str:
    """Spark-side fast form of ``md5_prefix_int_expr``: the same bigint
    (value-identical — one base-16 parse of the hex slice vs the spelled-
    out per-digit positional sum; A/B-verified bit-equal over the corpus
    shingle set) via ONE substr + conv instead of ``nhex`` substr+instr
    terms.  ``nhex`` must stay ≤ 15 so the unsigned parse fits a bigint
    exactly (8 at every call site).  The DuckDB oracle text stays on
    ``md5_prefix_int_sql``'s instr chain: oracle SQL is fingerprint-frozen
    and only VALUES need to match across engines."""
    if nhex > 15:
        raise ValueError(
            f"nhex={nhex}: conv() overflows bigint past 15 hex digits")
    return (f"cast(conv(substr(md5({col}), {start}, {nhex}), 16, 10) "
            f"as bigint)")


def ngram_zip_parts(n: int, arr: str = "toks",
                    z: str = "z") -> tuple[str, str, str]:
    """The r8 zip-explode n-gram builder: returns (zip_expr, gram_expr,
    last_field) where ``explode(zip_expr)`` yields one struct per array
    position, ``last_field IS NOT NULL`` keeps exactly the positions
    1..len-n+1 (tokens are never NULL, so a NULL shifted field marks
    off-the-end only), and ``gram_expr`` rebuilds the identical
    space-joined n-gram string codegen-side.

    Replaces the interpreted ``transform(sequence(...), i ->
    array_join(slice(arr, i, n), ' '))`` lambda (the r6-late idiom):
    A/B-measured 7.2x faster at sf0.1 (3.18 s → 0.44 s for the 3-gram
    build + count over documents) with bit-identical output.  Also makes
    ``size(arr) >= n`` pre-filters redundant — short arrays simply emit
    no complete-gram rows — so callers drop them, removing a cloned
    tokenize from the pushed-down scan filter."""
    # The field references lean on Spark's generated arrays_zip field
    # names: a bare column argument keeps its own name (``z.toks``) and
    # each slice(...) expression is named by its argument position
    # (``z.`1```, ``z.`2``` …).  Spark does not document that naming; if
    # an upgrade changes it, the gram column breaks or goes NULL, and the
    # zip ≡ transform equivalence tests in test_r08_optimizations are the
    # canary that fails first.
    parts = [arr] + [f"slice({arr}, {j + 1}, size({arr}))"
                     for j in range(1, n)]
    fields = [f"{z}.{arr}"] + [f"{z}.`{j}`" for j in range(1, n)]
    return (f"arrays_zip({', '.join(parts)})",
            f"concat_ws(' ', {', '.join(fields)})",
            fields[-1])


def sorted_id_pairs(groups: DataFrame, arr: str, a: str,
                    b: str) -> DataFrame:
    """Every i<j pair of each row's sorted id array column ``arr``, as
    (``a``, ``b``) rows with a < b — the candidate-pair expansion of
    single-lineage bucket grouping (group the ids of a bucket into one
    sorted array, expand in-row): no self-join, so the lineage that
    computed the bucket keys runs exactly once.  Duplicates across groups
    are the caller's to drop."""
    expand = (f"flatten(transform({arr}, (x, i) -> "
              f"transform(slice({arr}, i + 2, size({arr})), "
              f"y -> struct(x AS {a}, y AS {b}))))")
    return (groups.select(F.explode(F.expr(expand)).alias("p"))
            .select(f"p.{a}", f"p.{b}"))
