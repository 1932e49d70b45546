"""Triple extraction stage: parses → triples DataFrame.

Runs the pure rule algebra (openie_spark.rules, parity-tested against the
reference's SentenceReltuples) batched inside ``mapInPandas``: each Arrow
batch of sentence rows explodes into triple rows. Phrase/sentence vectors
are computed in the same pass from the broadcast embedding dict — one scan,
no extra shuffle, no token-level join (SURVEY.md §2.5 M1 rationale).

This stage is narrow; everything downstream (aggregation, clustering,
merging) consumes this table. It is also the P/R contract surface: the set
of (left_arg, relation, right_arg) per (url, sent_id) must match the
reference's.

Failure isolation: a malformed parse that would crash the reference
(SURVEY.md §5.3) is caught per sentence and surfaced in the ``error``
column instead of killing a 100 TB job; downstream filters ``error IS
NULL``.
"""

from __future__ import annotations

from typing import Dict, Iterable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .embeddings import phrase_vector
from .rules import Sent, extract_triples

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sent_id", T.IntegerType(), False),
        T.StructField("sent_text", T.StringType(), True),
        T.StructField("left_arg", T.StringType(), True),
        T.StructField("left_arg_lemmas", T.StringType(), True),
        T.StructField("relation", T.StringType(), True),
        T.StructField("relation_lemmas", T.StringType(), True),
        T.StructField("right_arg", T.StringType(), True),
        T.StructField("right_arg_lemmas", T.StringType(), True),
        T.StructField("right_deprel", T.StringType(), True),
        T.StructField("left_vec", T.ArrayType(T.FloatType()), True),
        T.StructField("right_vec", T.ArrayType(T.FloatType()), True),
        T.StructField("sent_vec", T.ArrayType(T.FloatType()), True),
        T.StructField("error", T.StringType(), True),
    ]
)

_COLS = [f.name for f in TRIPLE_SCHEMA.fields]


def extract_triples_df(
    parses_df,
    stopwords: frozenset,
    embedding_dict: Optional[Dict[str, np.ndarray]] = None,
    dim: int = 64,
    additional_relations: bool = True,
    with_vectors: bool = True,
):
    """parses(url, sent_id, sent_text, tokens) → triples DataFrame.

    ``stopwords`` and ``embedding_dict`` travel as broadcast variables —
    the broadcast-dictionary-join pattern: a per-executor hash lookup
    instead of a token-explode shuffle join.
    """
    spark = parses_df.sparkSession
    sc = spark.sparkContext
    b_stop = sc.broadcast(frozenset(stopwords))
    b_vecs = sc.broadcast(embedding_dict or {})

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        stops = b_stop.value
        vecs = b_vecs.value
        for pdf in batches:
            out = {c: [] for c in _COLS}
            for url, sent_id, sent_text, tokens in zip(
                pdf["url"].tolist(),
                pdf["sent_id"].tolist(),
                pdf["sent_text"].tolist(),
                pdf["tokens"].tolist(),
            ):
                try:
                    rows = _extract_one(
                        tokens, sent_text, stops, vecs, dim,
                        additional_relations, with_vectors,
                    )
                except Exception as exc:  # degenerate parse — isolate, record
                    rows = [_error_row(type(exc).__name__ + ": " + str(exc)[:200])]
                for r in rows:
                    out["url"].append(url)
                    out["sent_id"].append(sent_id)
                    out["sent_text"].append(sent_text)
                    for k, v in r.items():
                        out[k].append(v)
            yield pd.DataFrame(out, columns=_COLS)

    return parses_df.select("url", "sent_id", "sent_text", "tokens").mapInPandas(
        run, schema=TRIPLE_SCHEMA
    )


def _extract_one(tokens, sent_text, stops, vecs, dim, additional, with_vectors):
    # tokens arrive as a list of struct-dicts (Arrow); unpack to arrays
    forms = [t["form"] for t in tokens]
    lemmas = [t["lemma"] for t in tokens]
    upos = [t["upostag"] for t in tokens]
    heads = [t["head"] for t in tokens]
    deprels = [t["deprel"] for t in tokens]
    return _extract_arrays(
        forms, lemmas, upos, heads, deprels, sent_text, stops, vecs, dim,
        additional, with_vectors,
    )


def _extract_arrays(
    forms, lemmas, upos, heads, deprels, sent_text, stops, vecs, dim,
    additional, with_vectors,
):
    sent = Sent(forms, lemmas, upos, heads, deprels, text=sent_text)

    triples = extract_triples(sent, stops, additional_relations=additional)
    if with_vectors:
        # sentence vector ranges over all words incl. the root placeholder,
        # whose "_"-suffixed key never hits — same as the reference's "all"
        sent_vec = phrase_vector(
            [""] + lemmas, [""] + upos, vecs, dim
        ).tolist()
    else:
        sent_vec = None

    rows = []
    for t in triples:
        if with_vectors:
            lv = phrase_vector(
                [sent.lemma[i] for i in t["left_ids"]],
                [sent.upos[i] for i in t["left_ids"]],
                vecs, dim,
            ).tolist()
            rv = phrase_vector(
                [sent.lemma[i] for i in t["right_ids"]],
                [sent.upos[i] for i in t["right_ids"]],
                vecs, dim,
            ).tolist()
        else:
            lv = rv = None
        rows.append(
            {
                "left_arg": t["left_arg"],
                "left_arg_lemmas": t["left_arg_lemmas"],
                "relation": t["relation"],
                "relation_lemmas": t["relation_lemmas"],
                "right_arg": t["right_arg"],
                "right_arg_lemmas": t["right_arg_lemmas"],
                "right_deprel": t["right_deprel"],
                "left_vec": lv,
                "right_vec": rv,
                "sent_vec": sent_vec,
                "error": None,
            }
        )
    return rows


def _error_row(msg: str) -> dict:
    return {
        "left_arg": None,
        "left_arg_lemmas": None,
        "relation": None,
        "relation_lemmas": None,
        "right_arg": None,
        "right_arg_lemmas": None,
        "right_deprel": None,
        "left_vec": None,
        "right_vec": None,
        "sent_vec": None,
        "error": msg,
    }


def ok_triples(triples_df):
    """Drop error rows (kept for lineage accounting)."""
    return triples_df.filter(F.col("error").isNull()).drop("error")


def extract_triples_from_pages(
    pages_df,
    stopwords: frozenset,
    page_parser=None,
    embedding_dict: Optional[Dict[str, np.ndarray]] = None,
    dim: int = 64,
    additional_relations: bool = True,
    with_vectors: bool = True,
    lang: Optional[str] = "ru",
):
    """Fused clean→parse→extract: pages → triples in ONE mapInPandas stage.

    Identical output to
    ``extract_triples_df(parse_pages(clean_pages(pages, lang)), ...)``
    (identity-tested in tests/test_extract_spark.py), but the page text and
    the token structs never cross the JVM↔Python boundary twice — three
    Arrow serialization round trips become one. This is the pipeline's fast
    path when no parse-stage checkpoint is requested (``run_pipeline``
    without a ``work_dir``); with a work_dir the unfused stages
    materialize parses for resume, which is worth the extra crossings.

    The lang filter stays JVM-side before the projection so it pushes into
    the scan exactly as in clean_pages.
    """
    from .parse import template_parse_page
    from .textclean import clean_page

    parser = page_parser or template_parse_page
    df = pages_df
    if lang is not None:
        df = df.filter(F.col("lang") == lang)

    spark = df.sparkSession
    sc = spark.sparkContext
    b_stop = sc.broadcast(frozenset(stopwords))
    b_vecs = sc.broadcast(embedding_dict or {})

    def run(batches):
        stops = b_stop.value
        vecs = b_vecs.value
        for pdf in batches:
            out = {c: [] for c in _COLS}
            for url, html_bytes, text in zip(
                pdf["url"].tolist(), pdf["html"].tolist(), pdf["text"].tolist()
            ):
                clean = clean_page(url, html_bytes, text)
                for sent_id, (sent_text, tokens) in enumerate(parser(url, clean)):
                    try:
                        rows = _extract_arrays(
                            [t[1] for t in tokens],
                            [t[2] for t in tokens],
                            [t[3] for t in tokens],
                            [t[6] for t in tokens],
                            [t[7] for t in tokens],
                            sent_text, stops, vecs, dim,
                            additional_relations, with_vectors,
                        )
                    except Exception as exc:
                        rows = [_error_row(type(exc).__name__ + ": " + str(exc)[:200])]
                    for r in rows:
                        out["url"].append(url)
                        out["sent_id"].append(sent_id)
                        out["sent_text"].append(sent_text)
                        for k, v in r.items():
                            out[k].append(v)
            yield pd.DataFrame(out, columns=_COLS)

    return df.select("url", "html", "text").mapInPandas(run, schema=TRIPLE_SCHEMA)
