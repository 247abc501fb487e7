"""Seeded input tables for the curation workload.

Writes the tables the program's `graft.Tables` loaders read for it
(`documents` and `embeddings`) as one parquet file per table, with the same column names, parquet types and value
distributions as the repository's fixture tables. Every value is a
function of (seed, row, column) through DuckDB's `hash`, so one seed
always gives the same bytes of data and the program sees only these
generated inputs.
"""
import os

import duckdb

TABLES = ["documents", "embeddings"]

# Rows per table at scale 1.0 (the repository's sf0.01 fixture sizes).
BASE_ROWS = {"documents": 500, "embeddings": 500}

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "data", "table", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def _u(seed, *parts):
    """SQL for a uniform double in [0, 1) keyed by (seed, parts)."""
    args = ", ".join(str(p) for p in parts)
    return f"((hash({seed}::BIGINT, {args}) % 1000000007) / 1000000007.0)"


def _pick(seed, key, row, options):
    arr = "[" + ", ".join(f"'{o}'" for o in options) + "]"
    return f"{arr}[1 + CAST(floor({_u(seed, row, key)} * {len(options)}) AS INT)]"


def table_sql(name, seed, rows):
    """SELECT producing table `name` with `rows` rows."""
    u = lambda k: _u(seed, "i", k)
    if name == "documents":
        vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
        words = (f"array_to_string(list_transform(range(CAST(10 + floor({u(1)} * 90) AS BIGINT)), "
                 f"k -> {vocab}[1 + CAST(hash({seed}::BIGINT, i, k, 2) % {len(VOCAB)} AS INT)]), ' ')")
        # One document in twenty repeats an earlier one with a ' dup' tail,
        # the near-duplicate shape of the fixture tables.
        return (f"WITH base AS (SELECT i, {words} AS text, "
                f"{_pick(seed, 3, 'i', ['en', 'en', 'en', 'de', 'es', 'fr', 'zh'])} AS lang, "
                f"'src' || CAST(floor({u(4)} * 20) AS INT) AS source, "
                f"CASE WHEN i > 0 AND {u(5)} < 0.05 THEN CAST(floor({u(6)} * i) AS BIGINT) END AS src_doc "
                f"FROM range({rows}) t(i)) "
                f"SELECT b.i AS doc_id, "
                f"CASE WHEN b.src_doc IS NULL THEN b.text ELSE o.text || ' dup' END AS text, "
                f"b.lang, b.source, "
                f"CAST(length(CASE WHEN b.src_doc IS NULL THEN b.text ELSE o.text || ' dup' END) AS BIGINT) AS n_chars "
                f"FROM base b LEFT JOIN base o ON o.i = b.src_doc ORDER BY doc_id")
    if name == "embeddings":
        # 64-d unit vectors: a per-label centre plus Gaussian noise
        # (Box-Muller over hashed uniforms), as in the fixture tables.
        gauss = lambda row, k, tag: (
            f"(sqrt(-2.0 * ln(1.0 - {_u(seed, row, k, tag)})) * "
            f"cos(2.0 * pi() * {_u(seed, row, k, tag + 1)}))")
        return (f"WITH c AS (SELECT l, list_transform(range(64), k -> {gauss('l', 'k', 10)}) AS ctr "
                f"FROM range(10) t(l)), "
                f"raw AS (SELECT i, CAST(floor({_u(seed, 'i', 1)} * 10) AS INT) AS label FROM range({rows}) t(i)), "
                f"v AS (SELECT raw.i, raw.label, list_transform(range(64), "
                f"k -> 0.4 * c.ctr[k + 1] + {gauss('raw.i', 'k', 20)}) AS x "
                f"FROM raw JOIN c ON c.l = raw.label) "
                f"SELECT i AS vec_id, CAST(list_transform(x, e -> e / sqrt(list_sum(list_transform(x, f -> f * f)))) AS FLOAT[]) AS embedding, "
                f"label FROM v ORDER BY vec_id")
    raise ValueError(name)


def generate(out_dir, seed, scale, tables=TABLES):
    """Write `tables` to `out_dir/<table>.parquet` for `seed` at `scale`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in tables:
        rows = max(int(BASE_ROWS.get(name, 0) * scale), 1)
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({table_sql(name, seed, rows)}) TO '{path}' (FORMAT parquet)")
    con.close()
