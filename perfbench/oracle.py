"""Correctness references, computed outside the timed phase.

- CDC: the single-pass replay model of ``tests/model_oracle.py`` (final row
  per url = max (warc_ts, lsn) event, absent when that event is a delete,
  text = the pure extractor over the winning html), compared with the table
  on (warc_ts, lsn, md5 of text).
- Near-duplicate operators: a brute-force exact char-n-gram Jaccard over
  all pairs for ``ngram_jaccard_pairs``; for the MinHash and SimHash
  operators, the DuckDB specifications in ``__spark_entry__.oracle_sql``
  (the SimHash one brute-forces every pair).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import re
import sys
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd


def _ts_us(s: pd.Series) -> pd.Series:
    """Timestamps (naive UTC or tz-aware) as int64 microseconds since epoch."""
    s = pd.to_datetime(s)
    if s.dt.tz is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    return s.astype("datetime64[us]").astype("int64")


def _digest(text) -> str | None:
    return None if text is None else hashlib.md5(text.encode("utf-8")).hexdigest()


def model_state(repo_root: str, events: pd.DataFrame) -> pd.DataFrame:
    """Expected live rows: url, ts_us, lsn, text_md5 (sorted by url)."""
    tests_dir = os.path.join(repo_root, "tests")
    if tests_dir not in sys.path:
        sys.path.insert(0, tests_dir)
    from model_oracle import model_final_state

    ev = events[["op", "url", "warc_ts", "lsn", "html"]].copy()
    ev["warc_ts"] = _ts_us(ev["warc_ts"])
    ev["lsn"] = ev["lsn"].astype("int64")
    st = model_final_state(ev, payload_cols=("html",))
    return pd.DataFrame({
        "url": st["url"],
        "ts_us": st["warc_ts"].astype("int64"),
        "lsn": st["lsn"].astype("int64"),
        "text_md5": [_digest(t) for t in st["text"]],
    })


def table_state(pdf: pd.DataFrame) -> pd.DataFrame:
    """Same shape as ``model_state`` from a table read (url, warc_ts, lsn, text)."""
    out = pd.DataFrame({
        "url": pdf["url"],
        "ts_us": _ts_us(pdf["warc_ts"]),
        "lsn": pdf["lsn"].astype("int64"),
        "text_md5": [_digest(t) for t in pdf["text"]],
    })
    return out.sort_values("url").reset_index(drop=True)


def state_mismatches(expected: pd.DataFrame, got: pd.DataFrame) -> int:
    """Number of urls whose row differs, is missing or is extra."""
    e = {r.url: (r.ts_us, r.lsn, r.text_md5) for r in expected.itertuples(index=False)}
    g = {r.url: (r.ts_us, r.lsn, r.text_md5) for r in got.itertuples(index=False)}
    extra = len(g) - len(set(g) & set(e))
    return extra + sum(1 for u, v in e.items() if g.get(u) != v)


# ------------------------------------------------------------ near-dup
def _norm(text: str) -> str:
    # functions/text.normalize_text: lower, collapse whitespace, trim spaces
    return re.sub(r"\s+", " ", text.lower()).strip(" ")


def ngram_pairs_exact(docs: pd.DataFrame, n: int, threshold: float) -> set:
    """{(key_a, key_b, jaccard)} over ALL pairs with round(J, 6) >= threshold."""
    grams = {}
    for k, t in zip(docs["doc_id"], docs["text"]):
        s = _norm(t)
        grams[int(k)] = frozenset(s[i : i + n] for i in range(max(len(s) - n + 1, 1)))
    out = set()
    for a, b in itertools.combinations(sorted(grams), 2):
        ga, gb = grams[a], grams[b]
        inter = len(ga & gb)
        union = len(ga) + len(gb) - inter
        j = _round6(inter / union) if union else 0.0
        if j >= threshold:
            out.add((a, b, j))
    return out


def _round6(x: float) -> float:
    """Spark's ``round(x, 6)``: half-up on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def pairs_match(got: set, want: set, tol: float = 1.5e-6) -> bool:
    """Same (key_a, key_b) pairs, each pair's measure equal within ``tol``."""
    g = {(int(a), int(b)): float(m) for a, b, m in got}
    w = {(int(a), int(b)): float(m) for a, b, m in want}
    return g.keys() == w.keys() and all(abs(g[k] - w[k]) <= tol for k in g)


def duckdb_pairs(docs: pd.DataFrame, sql: str) -> set:
    """Run a DuckDB specification over ``docs`` registered as ``documents``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        con.register("documents", docs[["doc_id", "text"]])
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()
