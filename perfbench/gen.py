"""Seeded input generators for the benchmark workloads.

Every generated input is a pure function of its parameters (seed
included), so the same seed always yields byte-identical tables.  Tables
are written as parquet with pyarrow before Spark starts, cached under the
work directory keyed by every generation parameter, and described by a
fingerprint that is printed with every result.  The operator suite reads
fixed tables instead (see ``OPS_DIR``).

Transcript corpora come from ``readability_spark.transcripts.generate_rows``
with ``use_fixtures=False`` passed explicitly: the generator never reads a
fixture pool, so a missing pool cannot change the corpus.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

# bump when a generator changes shape, so stale caches are never reused
GEN_VERSION = 1

TRANSCRIPT_ARROW = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string()),
    pa.field("text", pa.string()),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us")),
])

# the pipeline_unique corpus: exactly this many template turns per seed
N_TURNS = 2000
# rows of the warm-up slice every workload runs during set-up
WARMUP_TURNS = 64
# payloads at least this large count as whales in the fingerprint
WHALE_BYTES = 1 << 20
# mean turns per conversation of generate_rows' length mix, used only to
# pick a first conversation count; the loop below tops up if it falls short
_MEAN_TURNS_PER_CONV = 21.8


def _key(params: dict) -> str:
    blob = json.dumps({"v": GEN_VERSION, **params}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def template_rows(n_turns: int, seed: int) -> list[tuple]:
    """Exactly ``n_turns`` template-only transcript rows for ``seed``.

    ``generate_rows`` draws conversations from one seeded stream, so the
    rows for n conversations are a prefix of the rows for 2n; doubling the
    conversation count until enough turns exist and cutting at ``n_turns``
    is therefore deterministic."""
    from readability_spark.transcripts import generate_rows

    # 1.5x the mean: a few 100-400-turn conversations make the total vary
    n_convs = max(1, int(1.5 * n_turns / _MEAN_TURNS_PER_CONV) + 1)
    while True:
        rows = generate_rows(n_convs, seed, use_fixtures=False)
        if len(rows) >= n_turns:
            return rows[:n_turns]
        n_convs *= 2


def fingerprint(texts: list) -> dict:
    """Corpus fingerprint: size, duplication, emptiness and whales."""
    n = len(texts)
    sizes = {}
    digest = hashlib.sha256()
    total = 0
    empty = 0
    for t in texts:
        b = (t or "").encode("utf-8")
        total += len(b)
        empty += not b
        digest.update(len(b).to_bytes(8, "little"))
        digest.update(b)
        sizes.setdefault(t, len(b))
    whale_sizes = [s for s in sizes.values() if s >= WHALE_BYTES]
    return {
        "turns": n,
        "bytes": total,
        "distinct_share": round(len(sizes) / n, 6) if n else 0.0,
        "empty_share": round(empty / n, 6) if n else 0.0,
        "whale_count": len(whale_sizes),
        "largest_whale_bytes": max(whale_sizes, default=0),
        "sha256": digest.hexdigest()[:16],
    }


def _write_transcripts(rows: list[tuple], path: str, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_ARROW)],
        schema=TRANSCRIPT_ARROW)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def _cached(root: str, params: dict, build) -> tuple[str, dict]:
    """Run ``build(path) -> fingerprint`` once per parameter set."""
    path = os.path.join(root, f"{params['kind']}-{_key(params)}")
    meta = os.path.join(path, "_FINGERPRINT.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return path, json.load(f)
    fp = build(path)
    fp["params"] = params
    with open(meta, "w") as f:
        json.dump(fp, f, sort_keys=True)
    return path, fp


def ensure_transcripts(root: str, seed: int,
                       parts: int) -> tuple[str, dict, list[tuple]]:
    """Materialize (or reuse) the pipeline corpus; returns (path,
    fingerprint, rows).  Rows are kept for the output check."""
    params = {"kind": "pipeline_unique", "seed": seed, "parts": parts,
              "n_turns": N_TURNS, "use_fixtures": False}
    rows = template_rows(N_TURNS, seed)

    def build(path: str) -> dict:
        _write_transcripts(rows, path, parts)
        return fingerprint([r[3] for r in rows])

    path, fp = _cached(root, params, build)
    return path, fp, rows


def ensure_warmup(root: str, seed: int) -> str:
    params = {"kind": "warmup", "seed": seed, "n_turns": WARMUP_TURNS,
              "use_fixtures": False}

    def build(path: str) -> dict:
        rows = template_rows(WARMUP_TURNS, seed)
        _write_transcripts(rows, path, 1)
        return fingerprint([r[3] for r in rows])

    return _cached(root, params, build)[0]


# --- operator-suite tables ---------------------------------------------------
#
# The suite runs on the sf0.001 tables that bench.py and
# __spark_entry__.entry read, kept byte-identical under data/sf0.001 so a
# run reads them from inside the checkout.  They do not depend on the seed.

OPS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "data", "sf0.001")


def ops_fingerprint(sf_dir: str = OPS_DIR) -> dict:
    """The documents' corpus fingerprint, plus every table's row count and
    a digest over the table files, so a changed table always shows."""
    names = sorted(f[:-len(".parquet")] for f in os.listdir(sf_dir)
                   if f.endswith(".parquet"))
    digest = hashlib.sha256()
    rows = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        with open(path, "rb") as f:
            digest.update(f.read())
        rows[n] = pq.ParquetFile(path).metadata.num_rows
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    fp = fingerprint(docs)
    fp.update({"tables": "sf0.001", "table_rows": rows,
               "tables_sha256": digest.hexdigest()[:16]})
    return fp
