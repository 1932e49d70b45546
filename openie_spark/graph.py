"""Graph materialization: triples (+ cluster labels) → node / edge tables.

Reference behavior being reproduced: RelGraph._add_node / _add_edge upserts
(/root/reference/relations.py:390-415, 500-594) — node key is the argument's
lemma string, edge key is the literal ``_is_a_``/``_relates_to_`` label or
``"{relation_lemmas} + {right_deprel}"``; weights count occurrences;
descriptions / clusters are set-unions of source-sentence texts / cluster
ids. We store sets as proper ``array`` columns instead of the reference's
``" | "``-joined strings, and vectors as a true weighted mean instead of the
reference's order-dependent ``(w·v_old + v_new)/2`` running update
(documented delta — vectors only gate merges; SURVEY.md §2.6 A1).

Design: batch and streaming share one aggregation per table. The batch
``aggregate_nodes``/``aggregate_edges`` are the finalized state delta of the
whole input (the table is the first fold of its stream), so the salting
decision lives in exactly one function per table:
- nodes: groupBy on Zipfian lemma keys → two-phase **salted** aggregation
  in ``node_state_delta`` (``salt = pmod(hash(url, sent_id), n_salts)``):
  partial agg on (key, salt) spreads a hot key over n_salts reducers, the
  final agg merges n_salts partials per key. Catalyst's map-side partial
  aggregation already bounds sum/count skew; salting additionally bounds
  the per-reducer size of the collect_set state, which is the real OOM
  risk for hot lemmas.
- edges: unsalted by construction in ``edge_state_delta`` (~0.8 distinct
  edge keys per triple, so a salt round would only double the shuffle).
- ``max_descriptions`` caps per-node description sets at scale (off by
  default for reference parity at test scale).
- "first label" is made deterministic by electing min_by a stable
  occurrence key (url, sent_id) — the reference's "first inserted" is its
  single-threaded arrival order, which has no distributed analogue.
- ``combine_edges`` is the one re-aggregation rule for edge rows that come
  to share a key after merge re-pointing or a top-K bypass round.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rules import IS_A, RELATES_TO


def edge_key_col() -> F.Column:
    return (
        F.when(F.col("relation").isin(IS_A, RELATES_TO), F.col("relation"))
        .otherwise(F.concat_ws(" + ", F.col("relation_lemmas"), F.col("right_deprel")))
    )


def _occurrence_key() -> F.Column:
    # stable total order stand-in for the reference's arrival order
    return F.struct(F.col("url"), F.col("sent_id"))


def _capped_set(col: str, cap: Optional[int]) -> F.Column:
    """Distinct values of ``col``; when capped, the ``cap`` smallest, applied
    already at the partial aggregation. Hot keys otherwise accumulate
    unbounded set state map-side — per-task execution memory shrinks with
    concurrency, so uncapped hot-key sets flip the aggregate to
    spill/sort mode and the stage ANTI-scales with cores (measured: node
    agg 19s@2cores → 38s@8cores on 1M triples before this cap)."""
    s = F.collect_set(col)
    if cap is None:
        return s
    return F.slice(F.array_sort(s), 1, cap)


def _merge_capped_sets(col: str, cap: Optional[int]) -> F.Column:
    """Final-side union of partial sets. With a cap this stays exact for
    'the cap smallest distinct values': each partial kept its own smallest
    ``cap``, and the global smallest ``cap`` distinct values are each the
    smallest within whichever partial saw them, so the union always
    contains them."""
    merged = F.array_distinct(F.flatten(F.collect_list(col)))
    if cap is None:
        return merged
    return F.slice(F.array_sort(merged), 1, cap)


def node_occurrences(triples_df: DataFrame) -> DataFrame:
    """Explode each triple into its two node occurrences."""
    left = triples_df.select(
        F.col("left_arg_lemmas").alias("lemma_key"),
        F.col("left_arg").alias("label"),
        F.col("sent_text"),
        F.col("cluster"),
        F.col("left_vec").alias("vector"),
        "url",
        "sent_id",
    )
    right = triples_df.select(
        F.col("right_arg_lemmas").alias("lemma_key"),
        F.col("right_arg").alias("label"),
        F.col("sent_text"),
        F.col("cluster"),
        F.col("right_vec").alias("vector"),
        "url",
        "sent_id",
    )
    return left.unionByName(right)


def edge_occurrences(triples_df: DataFrame) -> DataFrame:
    """Each triple as its edge occurrence."""
    return triples_df.select(
        F.col("left_arg_lemmas").alias("src"),
        F.col("right_arg_lemmas").alias("dst"),
        edge_key_col().alias("edge_key"),
        F.col("relation").alias("label"),
        F.col("relation_lemmas").alias("lemmas"),
        F.col("right_deprel").alias("deprel"),
        "sent_text",
        "cluster",
        "url",
        "sent_id",
    )


def _vector_dim(df: DataFrame, col: str) -> int:
    """Vector width via a ONE-ROW PEEK — this runs a Spark job (a
    ``.first()`` over the input's lineage). The pipeline always passes
    ``cfg.dim`` so the default path never gets here; direct callers of
    aggregate_nodes/node_state_delta should pass ``dim`` explicitly to
    avoid paying an extra job per call. Element-wise sums need a static
    width; arrays are fixed-width by construction (embedding dim)."""
    row = df.select(col).filter(F.col(col).isNotNull()).first()
    return len(row[0]) if row is not None else 0


def aggregate_nodes(
    triples_df: DataFrame,
    n_salts: int = 8,
    max_descriptions: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """triples (with ``cluster`` column) → nodes(lemma_key, weight, label,
    descriptions, clusters, vector): the node state of the whole input,
    finalized — the batch table is the first fold of the streaming state."""
    return finalize_node_state(
        node_state_delta(triples_df, dim, max_descriptions, n_salts), max_descriptions
    )


def aggregate_edges(
    triples_df: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """triples (with ``cluster``) → edges(src, dst, edge_key, weight, label,
    lemmas, deprel, descriptions, clusters): the edge state of the whole
    input, finalized."""
    return finalize_edge_state(
        edge_state_delta(triples_df, max_descriptions), max_descriptions
    )


# ---- incremental (mergeable) aggregation state -------------------------------
#
# Batch and streaming share one aggregation per table: the state below. Its
# combine is ASSOCIATIVE, so that any micro-batch split of the input reaches
# the exact same result as one batch aggregation:
#   weight        → sum
#   label         → carried with min(occ_key); combine keeps the pair with
#                   the smaller occ_key (min_by is a semilattice over the
#                   total occurrence order)
#   descriptions  → set union; with a cap, "the cap smallest" merges exactly
#                   (same argument as _merge_capped_sets)
#   clusters      → set union
#   vector        → stored as element-wise SUMS (vsum); mean = vsum/weight
#                   only at finalize (means don't combine, sums do)


def node_state_delta(
    triples_df: DataFrame,
    dim: Optional[int] = None,
    max_descriptions: Optional[int] = None,
    n_salts: int = 8,
) -> DataFrame:
    """One batch's node aggregation STATE (not finalized nodes), as a
    two-phase salted aggregation: lemma keys are Zipfian, so the partial agg
    on (key, salt) spreads a hot key over ``n_salts`` reducers.

    Vector sums are ``dim`` element-wise sum() aggregates —
    whole-stage-codegen'd with map-side partial aggregation — NOT a
    higher-order ``aggregate(collect_list(...))`` fold, which Catalyst
    interprets row-by-row and which collects every vector into the reducer
    (measured ~3× slower and O(group) reducer memory at sandbox scale; far
    worse on hot keys at web scale)."""
    occ = node_occurrences(triples_df).withColumn("occ_key", _occurrence_key())
    if dim is None:
        dim = _vector_dim(occ, "vector")
    vnames = [f"_v{i}" for i in range(dim)]
    partial = (
        occ.withColumn("salt", F.pmod(F.xxhash64("url", "sent_id"), F.lit(n_salts)))
        .groupBy("lemma_key", "salt")
        .agg(
            F.count(F.lit(1)).alias("w"),
            F.min_by("label", "occ_key").alias("label"),
            F.min("occ_key").alias("occ_key"),
            _capped_set("sent_text", max_descriptions).alias("descs"),
            F.collect_set("cluster").alias("clusters"),
            *[
                F.sum(F.col("vector")[i].cast("double")).alias(v)
                for i, v in enumerate(vnames)
            ],
        )
    )
    st = partial.groupBy("lemma_key").agg(
        F.sum("w").alias("weight"),
        F.min_by("label", "occ_key").alias("label"),
        F.min("occ_key").alias("occ_key"),
        _merge_capped_sets("descs", max_descriptions).alias("descriptions"),
        F.array_distinct(F.flatten(F.collect_list("clusters"))).alias("clusters"),
        *[F.sum(v).alias(v) for v in vnames],
    )
    return st.withColumn("vsum", F.array(*vnames)).drop(*vnames)


def edge_state_delta(
    triples_df: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """One batch's edge aggregation STATE. Unsalted by construction: the edge
    key space (src × dst × relation) is nearly 1:1 with triple occurrences —
    measured ~0.8 distinct keys per input row on the synthetic corpus — so a
    salt round would just double the shuffle for groups that are already
    singletons. Node lemma keys are the genuinely Zipfian side."""
    occ = edge_occurrences(triples_df).withColumn("occ_key", _occurrence_key())
    return occ.groupBy("src", "dst", "edge_key").agg(
        F.count(F.lit(1)).alias("weight"),
        F.min_by("label", "occ_key").alias("label"),
        F.min_by("lemmas", "occ_key").alias("lemmas"),
        F.min_by("deprel", "occ_key").alias("deprel"),
        F.min("occ_key").alias("occ_key"),
        _capped_set("sent_text", max_descriptions).alias("descriptions"),
        F.collect_set("cluster").alias("clusters"),
    )


def _take_min_occ(col: str) -> F.Column:
    """Of the old/delta sides of the state join, the value carried with the
    smaller occ_key (NULL side loses)."""
    o_occ, d_occ = F.col("o.occ_key"), F.col("d.occ_key")
    keep_old = d_occ.isNull() | (o_occ.isNotNull() & (o_occ <= d_occ))
    return F.when(keep_old, F.col(f"o.{col}")).otherwise(F.col(f"d.{col}"))


def _merged_set(col: str, cap: Optional[int]) -> F.Column:
    merged = F.array_distinct(
        F.concat(
            F.coalesce(F.col(f"o.{col}"), F.array()),
            F.coalesce(F.col(f"d.{col}"), F.array()),
        )
    )
    if cap is None:
        return merged
    return F.slice(F.array_sort(merged), 1, cap)


def merge_node_state(
    old: DataFrame, delta: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """Combine two node-state tables (full-outer join on lemma_key)."""
    j = old.alias("o").join(delta.alias("d"), "lemma_key", "full")
    zero = F.transform(
        F.coalesce(F.col("o.vsum"), F.col("d.vsum")), lambda _: F.lit(0.0)
    )
    return j.select(
        "lemma_key",
        (
            F.coalesce(F.col("o.weight"), F.lit(0))
            + F.coalesce(F.col("d.weight"), F.lit(0))
        ).alias("weight"),
        _take_min_occ("label").alias("label"),
        F.least(F.col("o.occ_key"), F.col("d.occ_key")).alias("occ_key"),
        _merged_set("descriptions", max_descriptions).alias("descriptions"),
        _merged_set("clusters", None).alias("clusters"),
        F.zip_with(
            F.coalesce(F.col("o.vsum"), zero),
            F.coalesce(F.col("d.vsum"), zero),
            lambda a, b: a + b,
        ).alias("vsum"),
    )


def merge_edge_state(
    old: DataFrame, delta: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """Combine two edge-state tables (full-outer join on the edge key)."""
    j = old.alias("o").join(delta.alias("d"), ["src", "dst", "edge_key"], "full")
    return j.select(
        "src",
        "dst",
        "edge_key",
        (
            F.coalesce(F.col("o.weight"), F.lit(0))
            + F.coalesce(F.col("d.weight"), F.lit(0))
        ).alias("weight"),
        _take_min_occ("label").alias("label"),
        _take_min_occ("lemmas").alias("lemmas"),
        _take_min_occ("deprel").alias("deprel"),
        F.least(F.col("o.occ_key"), F.col("d.occ_key")).alias("occ_key"),
        _merged_set("descriptions", max_descriptions).alias("descriptions"),
        _merged_set("clusters", None).alias("clusters"),
    )


def finalize_node_state(
    state: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """State → the aggregate_nodes output shape (vector = vsum/weight)."""
    out = state.withColumn(
        "vector",
        F.when(
            F.size("vsum") > 0,
            F.transform(F.col("vsum"), lambda x: (x / F.col("weight")).cast("float")),
        ).otherwise(F.lit(None).cast("array<float>")),
    ).drop("vsum", "occ_key")
    if max_descriptions is not None:
        out = out.withColumn(
            "descriptions", F.slice(F.array_sort("descriptions"), 1, max_descriptions)
        )
    return out.select("lemma_key", "weight", "label", "descriptions", "clusters", "vector")


def finalize_edge_state(
    state: DataFrame, max_descriptions: Optional[int] = None
) -> DataFrame:
    """State → the aggregate_edges output shape."""
    out = state.drop("occ_key")
    if max_descriptions is not None:
        out = out.withColumn(
            "descriptions", F.slice(F.array_sort("descriptions"), 1, max_descriptions)
        )
    return out.select(
        "src", "dst", "edge_key", "weight", "label", "lemmas", "deprel",
        "descriptions", "clusters",
    )


def combine_edges(edges: DataFrame) -> DataFrame:
    """Re-aggregate finalized edge rows that share (src, dst, edge_key) —
    after the merge re-points endpoints or a top-K bypass round adds edges.
    The occurrence key is gone at this point, so label/lemmas/deprel take
    the min instead of the first occurrence's value."""
    return edges.groupBy("src", "dst", "edge_key").agg(
        F.sum("weight").alias("weight"),
        F.min("label").alias("label"),
        F.min("lemmas").alias("lemmas"),
        F.min("deprel").alias("deprel"),
        F.array_distinct(F.flatten(F.collect_list("descriptions"))).alias("descriptions"),
        F.array_distinct(F.flatten(F.collect_list("clusters"))).alias("clusters"),
    )


def with_degrees(nodes_df: DataFrame, edges_df: DataFrame) -> DataFrame:
    """Attach degree_in / degree_out / frequency aggregates to nodes.

    One aggregation over exploded endpoints + one join — not a groupBy per
    direction + two joins, which costs 2 extra exchanges and scans edges
    twice. The degree table has one row per distinct endpoint; at full
    scale AQE picks the join strategy (it is far over any broadcast
    threshold at web scale).
    """
    is_out = F.col("is_out")
    ends = edges_df.select(
        F.col("src").alias("lemma_key"), F.lit(1).alias("is_out"), "weight"
    ).unionByName(
        edges_df.select(
            F.col("dst").alias("lemma_key"), F.lit(0).alias("is_out"), "weight"
        )
    )
    deg = ends.groupBy("lemma_key").agg(
        F.sum(is_out).cast("long").alias("degree_out"),
        F.sum(F.when(is_out == 1, F.col("weight")).otherwise(0)).alias("out_weight"),
        F.sum(1 - is_out).cast("long").alias("degree_in"),
        F.sum(F.when(is_out == 0, F.col("weight")).otherwise(0)).alias("in_weight"),
    )
    return nodes_df.join(deg, "lemma_key", "left").fillna(
        0, subset=["degree_in", "degree_out", "out_weight", "in_weight"]
    )
