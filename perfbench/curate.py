"""`curate_queries` workload: the analytics queries that the
repository's old bench script timed, run through the `__spark_entry__`
registry over seeded tables, each checked against its DuckDB
`oracle_sql()` twin.

Eleven of the old script's twelve: `events_sessionize` is left out
because it disagrees with its twin on some inputs. It measures event
gaps in whole seconds (`unix_timestamp`), the twin in fractional
seconds, so a gap just above 1800 s splits a session in one and not in
the other; the timestamps here, like those of the sf tables, carry
microseconds.

The tables have the schemas and value distributions of the sf0.01
`documents`, `embeddings` and `events` tables (the only ones these
queries read), drawn from the seed: word sequences over the same
30-word vocabulary with ~5% near-duplicate documents, 64-dimensional
unit embeddings around ten label centroids, and a month of events.
"""

from __future__ import annotations

import hashlib
import math
import time
from pathlib import Path

# (registry name, layer that implements it)
QUERIES = (
    ("crawl_bfs_seen", "registry"),
    ("dedup_minhash_lsh", "operators.dedup_text"),
    ("dedup_simhash", "operators.dedup_text"),
    ("ann_cosine_topk", "operators.similarity"),
    ("token_count", "operators.textstats"),
    ("line_dedup", "operators.textstats"),
    ("tfidf_topk", "operators.textstats"),
    ("lm_score", "operators.textstats"),
    ("curate_pipeline", "operators.textstats"),
    ("ann_ivfpq_topk", "operators.similarity"),
    ("corpus_drift", "operators.textstats"),
)
TABLES = ("documents", "embeddings", "events")
N_DOCS = 500
N_VECS = 500
N_EVENTS = 10_000
N_USERS = 150
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def metric_name(query: str, layer: str) -> str:
    return f"{layer}.{query}_s"


def write_tables(seed: int, out: Path) -> None:
    """Write the seeded tables as parquet under `out`."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }).to_parquet(out / "documents.parquet", index=False)

    centroids = rng.normal(0.0, 0.02, (10, 64))
    labels = rng.integers(0, 10, N_VECS).astype("int32")
    vecs = centroids[labels] + rng.normal(0.0, 1.0 / 8.0, (N_VECS, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": list(vecs.astype("float32")),
        "label": labels,
    }).to_parquet(out / "embeddings.parquet", index=False)

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, N_EVENTS))
    pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype("int64"),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.uniform(0.01, 490.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }).to_parquet(out / "events.parquet", index=False)


def run_pass(spark, registry: dict, table_dir: Path, tracer) -> tuple[float, dict, dict]:
    """One pass over the queries; returns (seconds, per-query seconds,
    per-query collected rows)."""
    times, rows = {}, {}
    t0 = time.perf_counter()
    for name, layer in QUERIES:
        q0 = time.perf_counter()
        with tracer.span(metric_name(name, layer)[:-2]):
            df = registry[name](spark, str(table_dir))
            rows[name] = (df.columns, [tuple(r) for r in df.collect()])
        times[name] = time.perf_counter() - q0
    return time.perf_counter() - t0, times, rows


# ---------------------------------------------------------------------------
# correctness: rows, schema and value hash against DuckDB
# ---------------------------------------------------------------------------

def _cell(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def normalize(cols, rows) -> tuple[list[str], list[tuple]]:
    """Order-insensitive canonical form: columns sorted by lower-cased
    name, cells rounded, rows sorted."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(_cell(r[i]) for i in order) for r in rows), key=repr
    )


def value_hash(cols, rows) -> str:
    return hashlib.sha256(repr(normalize(cols, rows)).encode()).hexdigest()[:16]


def oracle_results(table_dir: Path, oracle_sql: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_dir / (t + '.parquet')}')"
            )
        out = {}
        for name, _ in QUERIES:
            rel = con.sql(oracle_sql[name])
            out[name] = (list(rel.columns), rel.fetchall())
        return out
    finally:
        con.close()


def compare(got, want) -> str | None:
    """None when the engine rows equal the oracle's, else the reason."""
    gc, gr = normalize(*got)
    wc, wr = normalize(*want)
    if gc != wc:
        return f"columns {gc} vs {wc}"
    if len(gr) != len(wr):
        return f"rows {len(gr)} vs {len(wr)}"
    if gr != wr:
        return "value hash differs"
    return None
