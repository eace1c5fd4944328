"""Seeded benchmark inputs: a generated ``documents`` table and its crawl
corpus.

The document *contents* come from a fixed generator, so every seed sees
the same texts, languages and duplicate structure. The seed only picks a
bijective renumbering of ``doc_id``: pages, hosts, markup variants and
search-page placement all derive from ``doc_id`` (corpus.derive_doc), so
a seed moves content around the crawl without changing the page count.

Both tables are cached as parquet under the benchmark's cache directory,
keyed by (documents, page weight, seed). Building them is untimed; the
pages are rendered by the program's own ``corpus.synthesize_pages``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# word vocabulary and language mix of the sf documents tables the engine's
# contract queries are written against (uniform words, ~44% English)
VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
CONTENT_SEED = 20240601  # fixed: contents never depend on the run seed
EXACT_DUP_EVERY = 97     # every 97th document repeats an earlier text
NEAR_DUP_EVERY = 23      # every 23rd repeats one with one word swapped
DOC_FILES = 4            # parquet files of the documents table
PAGE_FILES = 8           # parquet files of the pages table


def document_texts(n_docs: int) -> pd.DataFrame:
    """Seed-independent document contents, indexed 0..n_docs-1."""
    rng = np.random.default_rng(CONTENT_SEED)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 40 and i % EXACT_DUP_EVERY == 0:
            texts.append(texts[i - 1 - int(rng.integers(0, 30))])
            continue
        if i >= 40 and i % NEAR_DUP_EVERY == 0:
            words = texts[i - 1 - int(rng.integers(0, 30))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts.append(" ".join(words))
            continue
        words = list(rng.choice(VOCAB, size=int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    return pd.DataFrame({"text": texts, "lang": langs})


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """The ``documents`` table for one seed: the fixed contents under the
    seed's bijective ``doc_id`` renumbering."""
    base = document_texts(n_docs)
    doc_id = np.random.default_rng(seed).permutation(n_docs).astype("int64")
    df = pd.DataFrame({
        "doc_id": doc_id,
        "text": base["text"],
        "lang": base["lang"],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": base["text"].str.len().astype("int64"),
    })
    return df.sort_values("doc_id").reset_index(drop=True)


def corpus_dir(cache: str, n_docs: int, weight: int, seed: int) -> str:
    return os.path.join(cache, f"d{n_docs}_w{weight}_s{seed}")


def prepare(spark, cache: str, n_docs: int, weight: int, seed: int) -> str:
    """Write ``documents.parquet`` and ``pages.parquet`` for the key once;
    returns the directory (laid out like an sf dir, so the contract's
    ``(spark, sf_dir)`` queries and oracles read it unchanged)."""
    from s_crawler_spark.corpus import synthesize_pages

    d = corpus_dir(cache, n_docs, weight, seed)
    done = os.path.join(d, "READY")
    if os.path.exists(done):
        return d
    # several files, so Spark renders the pages in parallel tasks
    docs = documents(n_docs, seed)
    os.makedirs(os.path.join(d, "documents.parquet"), exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(docs)), DOC_FILES)):
        docs.iloc[part].to_parquet(
            os.path.join(d, "documents.parquet", f"part-{i:05d}.parquet"),
            index=False)
    # spread over several files, as bench.py writes its corpus: a pass
    # reads one task per file group, so one file would serialize the fetch
    synthesize_pages(spark, d, filler=weight).repartition(PAGE_FILES) \
        .write.mode("overwrite").parquet(os.path.join(d, "pages.parquet"))
    with open(done, "w"):
        pass
    return d
