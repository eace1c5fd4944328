"""Correctness references and checks (untimed).

The crawl reference is ``plans.reference_sim.simulate_crawl`` over the
same seeded corpus: its ordered articles, plus the URL-seen set (every
card URL of every search page, which the reference fetches). The corpus
operators' reference is the contract's exact DuckDB oracle for each one.
References are reduced to digests and cached next to the corpus, so a
seed's reference is computed once.
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd

# article fields the parity tests compare (tests/test_wave_parity.py)
ARTICLE_KEYS = ["title", "url", "doi", "journal", "abstract",
                "download_link", "content_md5", "publication_date"]

# the corpus-operator set: contract query name -> short metric name
OPERATORS = {
    "dedup_exact": "exact_dedup",
    "dedup_simhash": "simhash_table",
    "dedup_minhash_lsh": "minhash_lsh_pairs",
    "dedup_substring": "duplicated_spans",
    "text_quality": "quality_table",
    "lang_id": "lang_id_table",
    "doc_fingerprint": "fingerprint_table",
    "doc_repetition": "repetition_table",
}


def _digest(obj) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()[:16]


def article_digest(row) -> str:
    """Digest of one stored article (a Row from Spark or a reference
    dict) over the compared fields."""
    get = row.__getitem__
    return _digest([get(k) for k in ARTICLE_KEYS]
                   + [list(get("authors") or []), list(get("keywords") or [])])


def frame_digest(df: pd.DataFrame) -> str:
    """Order-insensitive digest of a result table: columns sorted by name,
    floats rounded to 9 places, cells as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        df[c] = df[c].map(lambda v: None if v is None or v != v else
                          (round(v, 9) if isinstance(v, float) else v))
        df[c] = df[c].astype(str)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return _digest([list(df.columns)] + df.values.tolist())


def _pages_dict(corpus: str) -> dict[str, bytes]:
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(corpus, "pages.parquet"),
                      columns=["url", "html"])
    return dict(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def crawl_reference(corpus: str) -> dict:
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.operators import extract_core as ec
    from s_crawler_spark.plans.reference_sim import simulate_crawl

    pages = _pages_dict(corpus)
    seed = seed_search_url()
    articles, _ = simulate_crawl(pages, seed, max_count=10**9)
    prefix = seed.split("startPage=")[0]
    seen = sorted({card["url"] for url, html in pages.items()
                   if url.startswith(prefix)
                   for card in ec.extract_cards(html)})
    return {"articles": [[a["url"], article_digest(a)] for a in articles],
            "seen": seen}


def operator_reference(corpus: str) -> dict:
    import duckdb

    from s_crawler_spark.plans.contract import build_oracles

    oracles = build_oracles()
    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM '"
                + os.path.join(corpus, "documents.parquet", "*.parquet") + "'")
        return {name: frame_digest(con.sql(oracles[name]).df())
                for name in OPERATORS}
    finally:
        con.close()


def reference(corpus: str, operators: bool) -> dict:
    """The seed's cached reference digests (computed on first use)."""
    path = os.path.join(corpus, "reference.json")
    ref = {}
    if os.path.exists(path):
        with open(path) as f:
            ref = json.load(f)
    changed = False
    if "articles" not in ref:
        ref.update(crawl_reference(corpus))
        changed = True
    if operators and "operators" not in ref:
        ref["operators"] = operator_reference(corpus)
        changed = True
    if changed:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(ref, f)
        os.replace(tmp, path)
    return ref


def compare_crawl(ref: dict, rows, seen_urls=None) -> tuple[int, int]:
    """(attempted, failed) URLs of one pass or crawl. ``rows`` are the
    engine's stored articles in crawl order; a URL fails if its article
    differs, sits at another position, is missing or is extra, or if it
    is in only one of the two URL-seen sets (when ``seen_urls`` is given)."""
    want = [tuple(a) for a in ref["articles"]]
    got = [(r["url"], article_digest(r)) for r in rows]
    urls = {u for u, _ in want} | {u for u, _ in got}
    bad = {u for w, g in zip(want, got) if w != g for u in (w[0], g[0])}
    bad |= {u for u, _ in want[len(got):]} | {u for u, _ in got[len(want):]}
    if seen_urls is not None:
        urls |= set(ref["seen"]) | set(seen_urls)
        bad |= set(ref["seen"]) ^ set(seen_urls)
    return len(urls), len(bad)
