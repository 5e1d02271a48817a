"""Seeded change-stream inputs for the CDC workloads.

``events`` produces the frame ``datagen.gen_change_events`` produces (same
columns, url universe, Zipf popularity, first-touch I / later U / 5% D,
jittered and 2% very-late ``warc_ts``), but vectorized: the engine's
generator draws each html from its own RNG, about 0.3 ms per event here,
which would cost a cow_bulk run ~15 s of its budget. The html body keeps
the same structure (title, style, script, entity-bearing paragraphs) and
the same size distribution (2-4 paragraphs of 12-31 words, uniform lang)
so extraction and shuffle do the same amount of work. Segments are written with the
engine's ``datagen.write_change_segments`` (schema evolution included).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from game_library_enrichment_etl_spark import datagen as DG


DELETE_FRAC, LATE_FRAC, LATE_BY_S, JITTER_S = 0.05, 0.02, 100_000, 30  # as datagen's


def events(n_events: int, n_urls: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    urls = DG.make_urls(n_urls, 50, seed + 1)
    pick = rng.choice(n_urls, size=n_events, p=DG.zipf_weights(n_urls, s=1.05))
    lsn = np.arange(n_events, dtype=np.int64)
    ts = DG.EPOCH_BASE + lsn + rng.integers(-JITTER_S, JITTER_S + 1, size=n_events)
    ts = np.where(rng.random(n_events) < LATE_FRAC, ts - LATE_BY_S, ts)

    # op: first touch I; later U, or D with DELETE_FRAC (a D makes the
    # url's next touch an I again)
    is_del = rng.random(n_events) < DELETE_FRAC
    ops = np.empty(n_events, dtype=object)
    live = np.zeros(n_urls, dtype=bool)
    for i, u in enumerate(pick):
        if not live[u]:
            ops[i], live[u] = "I", True
        elif is_del[i]:
            ops[i], live[u] = "D", False
        else:
            ops[i] = "U"

    # as datagen.html_for: 2-4 paragraphs of 12-31 words, a uniform lang
    words = np.array(DG._WORDS, dtype=object)
    n_par = rng.integers(2, 5, size=n_events)
    par_len = 12 + rng.integers(0, 20, size=(n_events, 4))
    body = rng.integers(0, len(words), size=(n_events, 4 * 32))
    title_w = rng.integers(0, len(words), size=(n_events, 4))
    lang_i = rng.integers(0, len(DG.LANGS), size=n_events)
    html, lang, title = [], [], []
    for i in range(n_events):
        if ops[i] == "D":
            html.append(None)
            lang.append(None)
            title.append(None)
            continue
        t = " ".join(words[title_w[i]])
        paras = "\n".join(
            "<p>" + " ".join(words[body[i, 32 * p : 32 * p + par_len[i, p]]])
            + f" &amp; v{lsn[i]}</p>"
            for p in range(n_par[i])
        )
        lg = DG.LANGS[lang_i[i]]
        html.append(
            f'<html lang="{lg}"><head><title>{t}</title><style>body{{margin:0}}</style>'
            f"</head><body><script>var x={i % 97};</script>{paras}</body></html>"
            .encode("utf-8"))
        lang.append(lg)
        title.append(t)
    return pd.DataFrame({
        "op": ops,
        "lsn": lsn,
        "url": urls[pick],
        "warc_ts": pd.to_datetime(ts, unit="s", utc=True).tz_localize(None),
        "html": html,
        "lang": lang,
        "title": title,
    })


def widen(paths: list[str], part_files: int) -> list[str]:
    """Re-land each single-file segment as a directory of ``part_files``
    parquet files (a wide source for the engine's batch scan)."""
    out = []
    for p in paths:
        tbl = pq.read_table(p)
        d = p[: -len(".parquet")]
        os.makedirs(d)
        step = -(-tbl.num_rows // part_files)
        for i in range(part_files):
            pq.write_table(tbl.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"))
        os.remove(p)
        out.append(d)
    return out
