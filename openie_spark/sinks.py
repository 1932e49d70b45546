"""Output sinks: per-sentence triples JSON, CoNLL-U parity output, node/edge
table writes, small-graph GEXF export.

The node/edge parquet writers are the primary sink (the reference's GEXF is
replaced by queryable partitioned tables, SURVEY.md §2.1 S8); GEXF survives
as a driver-side export utility for human-scale graphs only.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from typing import Iterable, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .conllu import write_conllu
from .rules import IS_A, RELATES_TO


def triples_json_df(triples_df: DataFrame) -> DataFrame:
    """sentence_text → [(left, relation, right)...] as one JSON string per
    sentence (reference: dict dumped at app.py:96-100). A dict keyed by
    sentence text collapses duplicate sentences — we group by sent_text for
    the same effect."""
    return (
        triples_df.groupBy("sent_text")
        .agg(
            F.to_json(
                F.collect_list(F.array("left_arg", "relation", "right_arg"))
            ).alias("triples_json")
        )
    )


def write_triples_json(triples_df: DataFrame, path: str) -> None:
    triples_json_df(triples_df).write.mode("overwrite").json(path)


def conllu_df(parses_df: DataFrame) -> DataFrame:
    """parses → (url, conllu) — one CoNLL-U document per page."""

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            by_url: dict = {}
            for url, sent_id, sent_text, tokens in zip(
                pdf["url"], pdf["sent_id"], pdf["sent_text"], pdf["tokens"]
            ):
                by_url.setdefault(url, []).append(
                    (
                        sent_id,
                        write_conllu(
                            sent_text,
                            [
                                (
                                    t["id"], t["form"], t["lemma"], t["upostag"],
                                    t["xpostag"], t["feats"], t["head"],
                                    t["deprel"], t["deps"], t["misc"],
                                )
                                for t in tokens
                            ],
                        ),
                    )
                )
            yield pd.DataFrame(
                {
                    "url": list(by_url),
                    "conllu": [
                        "".join(block for _, block in sorted(blocks))
                        for blocks in by_url.values()
                    ],
                }
            )

    return parses_df.repartition("url").mapInPandas(
        run, schema="url string, conllu string"
    )


def write_graph_tables(
    nodes_df: DataFrame, edges_df: DataFrame, out_dir: str, buckets: int = 16
) -> None:
    """Partitioned node/edge table writes (Iceberg-ready layout).

    Nodes/edges are hash-bucketed on their key so a downstream join on
    lemma_key scans co-located files; with an Iceberg catalog this becomes
    ``partitionedBy(bucket(N, lemma_key))`` hidden partitioning.
    """
    (
        nodes_df.withColumn(
            "bucket", F.pmod(F.xxhash64("lemma_key"), F.lit(buckets)).cast("int")
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/nodes")
    )
    (
        edges_df.withColumn(
            "bucket", F.pmod(F.xxhash64("src"), F.lit(buckets)).cast("int")
        )
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{out_dir}/edges")
    )


def _bucket_of(spark, key: str, buckets: int) -> int:
    """The bucket write_graph_tables assigned to ``key`` — computed with
    the SAME engine expression (xxhash64 is Spark-version-stable, but
    evaluating it in the JVM rather than reimplementing it driver-side
    keeps this correct by construction)."""
    return (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(key)), F.lit(buckets)).cast("int").alias("b")
        )
        .first()["b"]
    )


def read_graph_nodes(
    spark, out_dir: str, lemma_key: Optional[str] = None, buckets: int = 16
) -> DataFrame:
    """Open the nodes table written by write_graph_tables. With a
    ``lemma_key``, derive the bucket predicate so the scan PRUNES to one
    partition directory (1/buckets of the files) before the row filter —
    the point of the bucketed layout. ``buckets`` must match the write."""
    df = spark.read.parquet(f"{out_dir}/nodes")
    if lemma_key is not None:
        b = _bucket_of(spark, lemma_key, buckets)
        df = df.filter((F.col("bucket") == b) & (F.col("lemma_key") == lemma_key))
    return df


def read_graph_edges(
    spark, out_dir: str, src: Optional[str] = None, buckets: int = 16
) -> DataFrame:
    """Open the edges table written by write_graph_tables; with ``src``,
    prune to its bucket partition (see read_graph_nodes)."""
    df = spark.read.parquet(f"{out_dir}/edges")
    if src is not None:
        b = _bucket_of(spark, src, buckets)
        df = df.filter((F.col("bucket") == b) & (F.col("src") == src))
    return df


GEXF_NS = "http://www.gexf.net/1.1draft"
GEXF_VIZ_NS = "http://www.gexf.net/1.1draft/viz"

# relation-node colors by label kind (/root/reference/relations.py:901-907)
_REL_COLORS = {
    IS_A: ("255", "160", "160"),
    RELATES_TO: ("160", "255", "160"),
}
_DEFAULT_REL_COLOR = ("0", "0", "255")

_NODE_ATTRS = [
    ("description", "string"),
    ("weight", "long"),
    ("feat_type", "string"),
    ("node_type", "string"),
    ("lemmas", "string"),
    ("deprel", "string"),
]


def write_graph_tables_iceberg(
    nodes_df: DataFrame,
    edges_df: DataFrame,
    table_prefix: str,
    buckets: int = 16,
) -> None:
    """Iceberg table writes with hidden bucket partitioning — the north
    star's partitioned nodes/edges tables:

        df.writeTo(f"{prefix}_nodes").partitionedBy(bucket(N, lemma_key))

    Requires an Iceberg catalog configured on the session
    (``spark.sql.catalog.<name>`` + iceberg-spark-runtime jar). This
    sandbox has NO such jar and no network to fetch one (attempt dated in
    SCALE.md), so the parquet layout in ``write_graph_tables`` is the
    tested stand-in; this function is the one-line-swap production path,
    exercised in tests up to Spark's catalog-resolution error."""
    from pyspark.sql.functions import bucket, col

    (
        nodes_df.writeTo(f"{table_prefix}_nodes")
        .partitionedBy(bucket(buckets, col("lemma_key")))
        .createOrReplace()
    )
    (
        edges_df.writeTo(f"{table_prefix}_edges")
        .partitionedBy(bucket(buckets, col("src")))
        .createOrReplace()
    )


def export_gexf(nodes_df: DataFrame, edges_df: DataFrame, path: str, max_nodes: int = 50000) -> None:
    """Small-graph GEXF export with the reference's bipartite reification
    and viz scheme (/root/reference/relations.py:894-956):

    - each edge becomes a ``label(src; dst)`` relation-node with two plain
      edges; relation-node weight = min(endpoint weights);
    - relation nodes carry a ``viz:color`` by label kind — ``_is_a_``
      salmon (255,160,160), ``_relates_to_`` green (160,255,160), every
      real relation blue (0,0,255);
    - node attributes are declared with id == title and values emitted as
      ``attvalues`` (the reference post-processes networkx output into this
      shape in ``_fix_gexf``; we emit it directly).

    Driver-side by design — GEXF is a visualization format, not a data
    path. Semantic parity with the reference's ``save()`` is asserted in
    tests/test_sinks_gexf.py on a shared fixture graph."""
    nodes = nodes_df.limit(max_nodes).collect()
    keep = {r["lemma_key"] for r in nodes}
    edges = [
        e
        for e in edges_df.collect()
        if e["src"] in keep and e["dst"] in keep
    ]
    weights = {r["lemma_key"]: r["weight"] for r in nodes}

    ET.register_namespace("", GEXF_NS)
    ET.register_namespace("viz", GEXF_VIZ_NS)
    root = ET.Element(f"{{{GEXF_NS}}}gexf", version="1.1")
    graph = ET.SubElement(
        root, f"{{{GEXF_NS}}}graph", defaultedgetype="directed", mode="static"
    )
    attrs_el = ET.SubElement(
        graph, f"{{{GEXF_NS}}}attributes", mode="static", **{"class": "node"}
    )
    for title, typ in _NODE_ATTRS:
        ET.SubElement(
            attrs_el, f"{{{GEXF_NS}}}attribute", id=title, title=title, type=typ
        )
    nodes_el = ET.SubElement(graph, f"{{{GEXF_NS}}}nodes")
    edges_el = ET.SubElement(graph, f"{{{GEXF_NS}}}edges")

    def join_set(vals) -> str:
        return " | ".join(str(v) for v in (vals or []))

    def add_node(nid, label, attvalues, color=None):
        el = ET.SubElement(nodes_el, f"{{{GEXF_NS}}}node", id=nid, label=label or nid)
        if color is not None:
            r, g, b = color
            ET.SubElement(el, f"{{{GEXF_VIZ_NS}}}color", r=r, g=g, b=b)
        av = ET.SubElement(el, f"{{{GEXF_NS}}}attvalues")
        for k, v in attvalues:
            if v is not None:
                ET.SubElement(
                    av, f"{{{GEXF_NS}}}attvalue", **{"for": k, "value": str(v)}
                )

    for r in nodes:
        add_node(
            r["lemma_key"],
            r["label"],
            [
                ("description", join_set(r["descriptions"])),
                ("weight", r["weight"]),
                ("feat_type", join_set(r["clusters"])),
                ("node_type", "argument"),
            ],
        )

    eid = 0
    for e in edges:
        rel_id = f'{e["label"]}({e["src"]}; {e["dst"]})'
        add_node(
            rel_id,
            e["label"],
            [
                ("lemmas", e["lemmas"]),
                ("deprel", e["deprel"]),
                ("description", join_set(e["descriptions"])),
                ("weight", min(weights[e["src"]], weights[e["dst"]])),
                ("feat_type", join_set(e["clusters"])),
                ("node_type", "relation"),
            ],
            color=_REL_COLORS.get(e["label"], _DEFAULT_REL_COLOR),
        )
        for s, t in ((e["src"], rel_id), (rel_id, e["dst"])):
            ET.SubElement(edges_el, f"{{{GEXF_NS}}}edge", id=str(eid), source=s, target=t)
            eid += 1

    ET.ElementTree(root).write(path, encoding="utf-8", xml_declaration=True)
