"""Output checks. Every check runs outside the timed region.

Catalog queries compare an order-insensitive digest of the parquet the
engine wrote against the query's DuckDB ``oracle`` SQL on the same
seeded inputs (the rule of ``tests/oracle_harness.py``). Oracle digests
are cached per input digest, so a seed's oracle runs once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb
import pyarrow.dataset as ds


def _cell(v):
    if isinstance(v, bool) or v is None:
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _cell(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def digest(columns: list[str], rows) -> tuple[str, int]:
    """(sha256, row count) of rows with columns sorted by name and rows
    sorted, floats rounded to 6 places."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_cell(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr(([columns[i] for i in order], norm)).encode())
    return h.hexdigest(), len(norm)


def duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def oracle_digest(con, sql: str, cache_dir: str | None = None) -> tuple[str, int]:
    """Digest of ``sql``'s result, cached under ``cache_dir`` by a hash
    of the SQL text, so an edited oracle never meets a stale digest."""
    path = cache_dir and os.path.join(
        cache_dir, hashlib.sha256(sql.encode()).hexdigest()[:16] + ".json")
    if path and os.path.exists(path):
        with open(path) as f:
            d = json.load(f)
        return d["digest"], d["rows"]
    rel = con.execute(sql)
    out = digest([d[0] for d in rel.description], rel.fetchall())
    if path:
        os.makedirs(cache_dir, exist_ok=True)
        with open(path, "w") as f:
            json.dump({"digest": out[0], "rows": out[1]}, f)
    return out


MATCH_COLUMNS = ["applicant_key", "company_id", "match_method", "confidence"]


def rank1_matches_oracle(spelling: dict, companies, threshold: float) -> list[tuple]:
    """Rank-1 matches of the applicant spellings against every company,
    in DuckDB, with the scoring ladder of the catalog's all-pairs
    fuzzy-match oracle: its normalization and tokens, Jaccard plus 0.2
    for a token subset, Levenshtein similarity, 1.0 for equal names,
    rounded to 4 places; ties go to the lowest company id. Rows are
    ``MATCH_COLUMNS``.

    Two bounds skip pairs that cannot reach ``threshold`` through a
    rung. The token rungs are scored only where the shared-token count
    lets Jaccard plus the boost reach it. The Levenshtein similarity is
    at most ``1 - |len(a) - len(b)| / max(len)``, so it is scored only
    where the length gap allows it. A pair scored both ways keeps its
    full-ladder row, which scores at least as high."""
    import pandas as pd

    from database_convertor_spark.plans.catalog import _NORM, _TOKS
    con = duckdb.connect()
    con.register("apps", pd.DataFrame({"k": list(spelling), "name": list(spelling.values())}))
    con.register("companies", companies[["id", "company_name"]])
    # rounding to 4 places lifts a score just under the threshold over it
    low = threshold - 1e-4
    lev = ("CASE WHEN greatest(length(an), length(cn)) = 0 THEN 1.0 "
           "ELSE 1.0 - CAST(levenshtein(an, cn) AS DOUBLE) "
           "/ greatest(length(an), length(cn)) END")
    jac = ("least(i / (len(at) + len(ct) - i) + CASE WHEN (i = len(at) OR i = len(ct)) "
           "AND len(at) > 0 AND len(ct) > 0 THEN 0.2 ELSE 0.0 END, 1.0)")
    rows = con.execute(f"""
    WITH a AS (SELECT k, n AS an, {_TOKS.format(c='n')} AS at
               FROM (SELECT k, {_NORM.format(c='name')} AS n FROM apps)),
    c AS (SELECT id, n AS cn, {_TOKS.format(c='n')} AS ct
          FROM (SELECT id, {_NORM.format(c='company_name')} AS n FROM companies)),
    shared AS (
      SELECT k, id, CAST(count(*) AS DOUBLE) AS i
      FROM (SELECT k, unnest(at) AS tok FROM a)
      JOIN (SELECT id, unnest(ct) AS tok FROM c) USING (tok)
      GROUP BY k, id),
    ladder AS (
      SELECT k, id,
             round(CASE WHEN an = cn THEN 1.0 ELSE greatest({jac}, {lev}) END, 4) AS confidence,
             CASE WHEN an = cn THEN 'exact_name'
                  WHEN {jac} >= {lev} THEN 'token_match'
                  ELSE 'fuzzy_name' END AS match_method, 0 AS rung
      FROM shared JOIN a USING (k) JOIN c USING (id)
      WHERE i / (len(at) + len(ct) - i) + 0.2 >= {low}),
    lev_only AS (
      SELECT k, id, round({lev}, 4) AS confidence, 'fuzzy_name' AS match_method, 1 AS rung
      FROM a CROSS JOIN c
      WHERE abs(length(an) - length(cn)) <= {1 - low} * greatest(length(an), length(cn))),
    conf AS (SELECT * FROM ladder UNION ALL SELECT * FROM lev_only)
    SELECT k, id, match_method, confidence FROM (
      SELECT *, row_number() OVER (PARTITION BY k ORDER BY confidence DESC, id, rung) AS rn
      FROM conf WHERE confidence >= {threshold})
    WHERE rn = 1""").fetchall()
    return [(k, int(c), m, conf) for k, c, m, conf in rows]


def file_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_files(table_dir: str) -> list[str]:
    """Parquet files Spark would read under ``table_dir``: hidden
    (``.``) entries and ``_`` entries that are not partition
    directories are skipped, as Spark's file index does."""
    out = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(".")
                   and (not d.startswith("_") or "=" in d)]
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith((".", "_"))]
    return sorted(out)


def read_table(table_dir: str):
    """Arrow table of a (possibly hive-partitioned) parquet directory."""
    files = spark_files(table_dir)
    return ds.dataset(files, format="parquet", partitioning="hive",
                      partition_base_dir=table_dir).to_table()


def key_count(table_dir: str, keys: list[str]) -> tuple[int, int]:
    """(rows, distinct keys) of a warehouse table on disk."""
    t = read_table(table_dir).select(keys).to_pandas().astype(object)
    return len(t), len(t.drop_duplicates())


def key_set(table_dir: str, keys: list[str]) -> set:
    if not os.path.exists(table_dir):
        return set()
    t = read_table(table_dir).select(keys).to_pandas()
    return set(t.astype(object).itertuples(index=False, name=None))
