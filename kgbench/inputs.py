"""Seeded inputs for one benchmark run, built during untimed set-up.

The program receives only two things from here: a pages parquet table
(``corpus.gen_page`` rows, as ``corpus.pages_df`` makes them) and a
word-vector dict (built by ``embeddings.EmbeddingProvider`` over
``corpus.LEXICON``).

The pages come from the seed-42 corpus, the 500 pages whose reference
triples ``goldens/p500/triples.parquet`` holds, so every run's triples are
checked against the reference. Each workload picks its pages from
``--seed`` (see workloads.py); ``--seed`` also orders the rows, spreads
them over the table's files and draws the planted family vectors.
"""

from __future__ import annotations

import os
import random

from openie_spark.corpus import LEXICON, NOUNS, TAIL_NOUNS, gen_page
from openie_spark.embeddings import EmbeddingProvider

N_SENTS = 6
DIM = 64  # PipelineConfig.dim default
CORPUS_SEED = 42  # the corpus of goldens/p500
# The ten columns of goldens/p500/triples.parquet.
TRIPLE_COLS = (
    "url", "sent_id", "sent_text", "left_arg", "left_arg_lemmas", "relation",
    "relation_lemmas", "right_arg", "right_arg_lemmas", "right_deprel",
)
# Planted families: pairs of nouns whose vectors lie within the merge
# cosine gate of each other; the pairs are fixed, their vectors follow --seed.
HEAD_PAIRS = 10
TAIL_PAIRS = 60


def page_urls(indices) -> set:
    return {gen_page(CORPUS_SEED, i, N_SENTS)["url"] for i in indices}


def write_pages(path: str, seed: int, indices, n_files: int) -> None:
    """Corpus pages ``indices`` (``corpus.pages_df``'s rows), in a
    ``seed``-drawn order, split over ``n_files`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [gen_page(CORPUS_SEED, i, N_SENTS) for i in indices]
    random.Random(seed).shuffle(rows)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path)
    for k in range(n_files):
        table = pa.Table.from_pylist(rows[k::n_files], schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


def embedding_dict(seed: int) -> dict:
    """``{lemma}_{UPOS}`` → vector for the whole lexicon, with noun pairs
    planted as families."""
    rng = random.Random(CORPUS_SEED)
    head = [lemma for _, lemma in NOUNS]
    tail = sorted({lemma for _, lemma in TAIL_NOUNS})
    rng.shuffle(head)
    tail = rng.sample(tail, 2 * TAIL_PAIRS)
    pairs = [head[2 * i : 2 * i + 2] for i in range(HEAD_PAIRS)]
    pairs += [tail[2 * i : 2 * i + 2] for i in range(TAIL_PAIRS)]
    families = {
        f"s{seed}-f{i}": [f"{lemma}_NOUN" for lemma in pair]
        for i, pair in enumerate(pairs)
    }
    vocabulary = sorted({f"{lemma}_{upos}" for lemma, upos in LEXICON.values()})
    return EmbeddingProvider(DIM, families=families, vocabulary=vocabulary).as_dict()
