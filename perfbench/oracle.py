"""Independent output oracles: DuckDB SQL over the same parquet files the
Spark engine reads.  The web-table rules are written here from
``WEB_PAGE_SCHEMA``'s text, not derived from the engine's compiler."""

from __future__ import annotations

import os

import numpy as np

LANGS = ("en", "de", "fr", "es", "cs", "zh", "ru", "ja", "pt", "it")
_ENUM = ", ".join(f"'{x}'" for x in LANGS)

# one predicate per (rule id, property) of WEB_PAGE_SCHEMA; true = violated
WEB_RULES = (
    ("required", "url IS NULL"),
    ("required", "text IS NULL"),
    ("required", "lang IS NULL"),
    ("required", "warc_ts IS NULL"),
    ("format", "NOT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*:[^ ]+$')"),
    ("pattern", "NOT regexp_matches(url, '^https?://')"),
    ("minLength", "length(url) < 10"),
    ("maxLength", "length(url) > 2048"),
    ("minLength", "length(text) < 1"),
    ("enum", f"lang NOT IN ({_ENUM})"),
)
INVALID = " OR ".join(f"coalesce({p}, false)" for _, p in WEB_RULES)


def connect(tmp_dir: str):
    import duckdb

    duck = duckdb.connect()
    duck.execute("SET threads = 2")
    duck.execute(f"SET temp_directory = '{tmp_dir}'")
    return duck


def parquet(path: str) -> str:
    """DuckDB table function over the parquet files of a table directory."""
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def web_rule_counts(duck, path: str) -> dict:
    """Rows, invalid rows and non-zero per-rule violation counts."""
    cols = ", ".join(f"count(*) FILTER (WHERE {p})" for _, p in WEB_RULES)
    row = duck.execute(
        f"SELECT count(*), count(*) FILTER (WHERE {INVALID}), {cols} "
        f"FROM {parquet(path)}").fetchone()
    rules: dict = {}
    for (rule, _), n in zip(WEB_RULES, row[2:]):
        rules[rule] = rules.get(rule, 0) + n
    return {"rows": row[0], "invalid": row[1],
            "rules": {k: v for k, v in rules.items() if v}}


def web_file_counts(duck, path: str) -> dict:
    """file name -> (rows, invalid rows)."""
    rows = duck.execute(
        f"SELECT filename, count(*), count(*) FILTER (WHERE {INVALID}) "
        f"FROM read_parquet('{os.path.join(path, '*.parquet')}', filename=true) "
        "GROUP BY filename").fetchall()
    return {os.path.basename(f): (n, bad) for f, n, bad in rows}


def audit_outputs(duck, audit: str, violations: str) -> dict:
    units, distinct_units, rows = duck.execute(
        f"SELECT count(*), count(DISTINCT unit), sum(rows) FROM {parquet(audit)}"
    ).fetchone()
    v_rows, v_ids = duck.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {parquet(violations)}"
    ).fetchone()
    return {"units": units, "distinct_units": distinct_units, "rows": rows,
            "violation_rows": v_rows, "violation_ids": v_ids}


def exact_ks(values, left) -> dict:
    """Two-sample Kolmogorov-Smirnov statistic over every distinct value."""
    a, b = np.sort(values[left]), np.sort(values[~left])
    grid = np.unique(values)
    gap = np.abs(np.searchsorted(a, grid, "right") / len(a)
                 - np.searchsorted(b, grid, "right") / len(b))
    return {"statistic": float(gap.max()), "n_left": len(a), "n_right": len(b)}


def table_constraints(duck, path: str) -> dict:
    t = parquet(path)
    q = duck.execute
    uniq = q(f"""WITH c AS (SELECT url, count(*) AS n FROM {t} GROUP BY url)
        SELECT sum(n), count(*), count(*) FILTER (WHERE n > 1),
               sum(CASE WHEN n > 1 THEN n - 1 ELSE 0 END) FROM c""").fetchone()
    ref = q(f"""SELECT count(*),
        count(*) FILTER (WHERE lang IS NOT NULL AND lang NOT IN ({_ENUM})),
        count(DISTINCT lang) FILTER (WHERE lang IS NOT NULL AND lang NOT IN ({_ENUM}))
        FROM {t}""").fetchone()
    cells = q(f"""SELECT source = 'src3' AS bucket, lang AS value, count(*) AS n
        FROM {t} GROUP BY ALL""").fetchall()
    ks = q(f"SELECT epoch(warc_ts)::DOUBLE AS e, source = 'src3' AS g FROM {t}"
           ).fetchnumpy()
    profile = {}
    for col in ("url", "text", "lang"):
        n, nulls, distinct, lo, hi = q(
            f"SELECT count(*), count(*) - count({col}), count(DISTINCT {col}), "
            f"min({col}), max({col}) FROM {t}").fetchone()
        profile[col] = {"count": n, "nulls": nulls, "distinct": distinct,
                        "min": lo, "max": hi}
    return {
        "uniqueness": dict(zip(("total_rows", "distinct_keys", "duplicated_keys",
                                "surplus_rows"), map(int, uniq))),
        "referential": dict(zip(("fact_rows", "orphan_rows", "orphan_keys"), ref)),
        "contingency": {(b, v): n for b, v, n in cells},
        "ks": exact_ks(np.asarray(ks["e"]), np.asarray(ks["g"], dtype=bool)),
        "profile": profile,
    }
