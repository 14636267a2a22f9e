"""Seeded synthetic document corpus for the curation workload.

A run cannot read the repository's test tables (they are not part of a
checkout), so the corpus is generated with the shape and rates measured on
the `documents` table the tests read at scale factor 0.1 (5,000 rows):

* columns `doc_id, text, lang, source, n_chars`; `doc_id` runs 0..n-1 and
  `source` is `src<doc_id mod 20>` (20 sources of 250 documents each);
* a text is 10 to 99 words (uniform; median 54, mean 297 characters)
  drawn uniformly from a 30-word technical vocabulary;
* 5 % of the documents (250) are near-duplicates: the original text of
  another document, chosen uniformly, followed by the word `dup`. Two
  near-duplicates of one document are exact duplicates of each other
  (8 such pairs in the table), and a near-duplicate whose source document
  was itself replaced has no original left (7);
* languages: en 41.2 %, zh 15.1 %, es 14.9 %, fr 14.8 %, de 14.0 %;
* no markup, no e-mail addresses and no text under the quality gate's
  10-word floor.

The same seed gives the same corpus.
"""

from __future__ import annotations

import os
import random

import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
NEAR_DUP_SHARE = 0.05
NEAR_DUP_MARK = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (2059, 753, 744, 742, 702)  # counts in the measured table
N_SOURCES = 20

# eval documents copy corpus texts under ids shifted past every corpus id
EVAL_ID_OFFSET = 1_000_000_000


def make_documents(n_docs: int, seed: int) -> pd.DataFrame:
    rng = random.Random(seed)
    originals = [
        " ".join(rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS)))
        for _ in range(n_docs)
    ]
    texts = list(originals)
    for i in rng.sample(range(n_docs), int(n_docs * NEAR_DUP_SHARE)):
        texts[i] = f"{originals[rng.randrange(n_docs)]} {NEAR_DUP_MARK}"
    return pd.DataFrame(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        }
    )


def eval_ids(n_docs: int, seed: int, fraction: float = 0.01) -> list[int]:
    """The corpus ids whose texts form the eval slice (`fraction` of them)."""
    rng = random.Random(seed + 1)
    return sorted(rng.sample(range(n_docs), max(1, int(n_docs * fraction))))


def write_documents(out_dir: str, n_docs: int, seed: int) -> None:
    """Write `<out_dir>/documents.parquet` (the layout `load_table` reads)."""
    os.makedirs(out_dir, exist_ok=True)
    make_documents(n_docs, seed).to_parquet(
        os.path.join(out_dir, "documents.parquet"), index=False
    )
