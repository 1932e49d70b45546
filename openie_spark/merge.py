"""Entity canonicalization: the merge fixpoint over node / edge tables.

Reference behavior (/root/reference/relations.py:417-810): repeatedly scan
all edges; the first candidate set found wins; merge it; restart the scan —
O(E²)·merges and order-dependent. Our semantics is the deterministic bulk
version (SURVEY.md §2.8 G1): each round discovers **all** candidate groups
with relational ops, resolves conflicts deterministically, applies every
surviving merge at once via a broadcast mapping join, and iterates to a
fixpoint. Triples (the P/R contract) are upstream and unaffected; node/edge
outputs match the reference on order-insensitive fixtures.

Candidate rule (G2, relations.py:596-656), replicated exactly:
- targets sharing (source, edge_key) — or sources sharing (target,
  edge_key) — over a non-``_is_a_``/``_relates_to_`` edge label,
- anchor and candidate must share a cluster,
- any two candidates connected by an edge (either direction) or sharing a
  source sentence knock **each other** out (both discarded),
- main = max by (weight, lemma) desc; others kept only if
  cosine_distance(main, other) ≤ 0.3.

Deltas vs the reference (each documented in SURVEY.md §7.3):
- all non-conflicting groups merge per round (reference: first-found only),
- both in- and out-edges of an absorbed node are re-pointed; the
  reference's in-edges silently vanish via a dead ``elif``
  (relations.py:732) — ``strict_parity=True`` reproduces the drop,
- node vectors merge as a true weighted mean, not ``(w·v_old + v_new)/2``,
- edge-merge weight is the sum of the pair's member weights, not the
  reference's ``sum(set(weights))`` dedup quirk (relations.py:784-789),
- edge merging is scoped to one (src, dst) pair per cluster; the reference
  additionally relabels same-key edges on *other* pairs as a global side
  effect of whichever pair its scan happened to hit first.

Scale design: candidate discovery is equi-joins + groupBys (AQE-managed);
per-group candidate lists are capped (``max_group``) because hot predicates
(e.g. "<X> said <Y>") produce giant groups at web scale; the other→main
mapping is tiny relative to the graph and is broadcast for the rewrite
join (the north star's "broadcast dictionary join").
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsgc import gc_child_dirs
from .graph import _vector_dim, combine_edges
from .rules import IS_A, RELATES_TO

COSINE_THRESHOLD = 0.3  # reference: relations.py:26


@dataclass
class MergeConfig:
    cosine_threshold: float = COSINE_THRESHOLD
    max_rounds: int = 20
    max_group: int = 64  # cap candidates per (anchor, key) group
    strict_parity: bool = False  # reproduce the reference's in-edge drop
    dim: Optional[int] = None  # vector width; None → one-row peek
    # Reliable per-round checkpointing for the DataFrame fixpoint: when set,
    # each round materializes to parquet stage tables under this directory
    # instead of localCheckpoint. localCheckpoint blocks live on executors —
    # on a real cluster one lost executor mid-fixpoint kills the job, and
    # its blocks serialize concurrent readers (SCALE.md §4). The post-agg
    # graph is small relative to the corpus, so the parquet round-trip is
    # cheap insurance; pipeline.run_pipeline wires this automatically when a
    # work_dir is configured.
    checkpoint_dir: Optional[str] = None


def suggest_round_partitions(
    spark, total_rows: int, rows_per_partition: int = 250_000
) -> int:
    """Data-volume-scaled shuffle-partition count for fixpoint rounds:
    ~250k graph rows per task, floored at 8 (skew headroom for AQE to
    split), capped at the session shape (2× defaultParallelism).

    The session default (2× cores) is sized for the corpus-scale extract
    span, but fixpoint rounds shuffle the AGGREGATED graph — seconds-long
    stages where task-count overhead dominates. Interleaved 16-core A/B at
    1M nodes / 3M edges (BENCH/shuffle_parts_ab.json): 8 partitions
    83.1/82.3s vs 32 partitions 90.9/87.8s wall, identical CPU and exact
    merge counts (25% at 32 cores: 76.4s vs 103.6s at 1M rows)."""
    cores = spark.sparkContext.defaultParallelism
    return int(max(8, min(2 * cores, total_rows // rows_per_partition or 1)))


_CONF_SCOPE_LOCK = threading.Lock()
_CONF_SCOPE_DEPTH: dict = {}      # id(session) -> nesting depth
_CONF_SCOPE_BASELINE: dict = {}   # id(session) -> pre-scope conf value


@contextmanager
def scoped_shuffle_partitions(spark, parts: int):
    """Set ``spark.sql.shuffle.partitions`` for a fixpoint's rounds and
    restore it afterwards — RACE-SAFE under concurrent fixpoints in one
    session. Session conf is the only per-query lever Spark exposes for
    the shuffle-partition count, so the set/restore pair must be guarded:
    with naive try/finally, two interleaved scopes can restore in the
    wrong order and leave the conf permanently drifted. This guard
    refcounts per session under a module lock and restores the FIRST
    entrant's baseline only when the LAST scope exits, so the conf always
    returns to its pre-scope value. Residual (documented) hazard: while
    any scope is open, concurrent scopes and unrelated queries in the
    same session run under the most recently set count — acceptable for
    a batch pipeline stage."""
    key = id(spark)
    with _CONF_SCOPE_LOCK:
        depth = _CONF_SCOPE_DEPTH.get(key, 0)
        if depth == 0:
            _CONF_SCOPE_BASELINE[key] = spark.conf.get(
                "spark.sql.shuffle.partitions"
            )
        _CONF_SCOPE_DEPTH[key] = depth + 1
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    try:
        yield
    finally:
        with _CONF_SCOPE_LOCK:
            _CONF_SCOPE_DEPTH[key] -= 1
            if _CONF_SCOPE_DEPTH[key] == 0:
                del _CONF_SCOPE_DEPTH[key]
                spark.conf.set(
                    "spark.sql.shuffle.partitions",
                    _CONF_SCOPE_BASELINE.pop(key),
                )


def _dot(u: F.Column, v: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_distance_col(u: F.Column, v: F.Column) -> F.Column:
    """1 - cos(u, v) with 0-norm → 0 (missing vectors never block a merge,
    matching the reference's NaN-compares-false behavior)."""
    nu = F.sqrt(_dot(u, u))
    nv = F.sqrt(_dot(v, v))
    return F.when((nu == 0) | (nv == 0), F.lit(0.0)).otherwise(
        F.lit(1.0) - _dot(u, v) / (nu * nv)
    )


def find_node_mapping(
    nodes: DataFrame, edges: DataFrame, cfg: MergeConfig
) -> Tuple[DataFrame, Optional[DataFrame]]:
    """One round of candidate discovery → (mapping(other → main),
    joined-cache handle). Unpersist the handle once the mapping's
    consumers are done; it is None when no candidate group exists.

    Returns an empty mapping DataFrame when no merges remain.

    SCALE LAYOUT (r4, forced by the 384k-page capstone): heavy node
    attributes never ride the bulk candidate shuffles. Membership volume
    is hot-node-weighted — a hub sits in up to 18,650 groups (measured),
    so a shuffle that carries its 256-string description set or 64-float
    vector per MEMBERSHIP multiplies those bytes thousands of times
    (~50 GB of spill per round on 261k nodes / 2.9M edges). Discovery
    therefore runs on slim rows (keys + weight + the small cluster
    array); the shared-sentence exclusion uses GLOBAL node-overlap pairs
    (bounded by per-sentence arg counts, not memberships); vectors join
    per-NODE only after main election.
    """
    mergeable = edges.filter(~F.col("label").isin(IS_A, RELATES_TO))
    # direction "t": shared (source, key) → candidate targets
    # direction "s": shared (target, key) → candidate sources
    cand = (
        mergeable.select(
            F.lit("t").alias("direction"),
            F.col("src").alias("anchor"),
            F.col("edge_key"),
            F.col("dst").alias("cand"),
        )
        .unionByName(
            mergeable.select(
                F.lit("s").alias("direction"),
                F.col("dst").alias("anchor"),
                F.col("edge_key"),
                F.col("src").alias("cand"),
            )
        )
        .distinct()
    )

    # cluster gate: anchor and candidate share a cluster (relations.py:605-607)
    anchor_c = nodes.select(
        F.col("lemma_key").alias("anchor"), F.col("clusters").alias("anchor_clusters")
    )
    cand_attrs = nodes.select(
        F.col("lemma_key").alias("cand"),
        F.col("weight").alias("cand_weight"),
        F.col("clusters").alias("cand_clusters"),
    )
    gated = (
        cand.join(anchor_c, "anchor")
        .join(cand_attrs, "cand")
        .filter(F.arrays_overlap("anchor_clusters", "cand_clusters"))
        .select("direction", "anchor", "edge_key", "cand", "cand_weight")
    )

    # groups need ≥2 candidates; cap giant groups by weight desc (hot keys)
    w_grp = Window.partitionBy("direction", "anchor", "edge_key")
    w_rank = w_grp.orderBy(F.desc("cand_weight"), F.desc("cand"))
    grouped = (
        gated.withColumn("grp_size", F.count(F.lit(1)).over(w_grp))
        .filter(F.col("grp_size") >= 2)
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= cfg.max_group)
    )
    grouped = grouped.withColumn(
        "grp", F.xxhash64("direction", "anchor", "edge_key")
    ).cache()

    if grouped.isEmpty():
        grouped.unpersist()
        return _empty_mapping(nodes), None

    # pairwise exclusions: an edge between the pair (either direction) or a
    # shared source sentence discards BOTH members (relations.py:627-637).
    #
    # SCALE SHAPE (r4, forced by the 384k-page / 2.9M-edge capstone run —
    # three successively-wrong shapes measured before this one):
    # 1. The pair join must be SLIM. All-pairs-per-group is fine volume-
    #    wise (the max_group cap bounds it: measured 30.3M pairs over 385k
    #    real groups ≈ 1.5 GB shuffled slim) — but the original shape also
    #    carried BOTH members' up-to-256-string description arrays on
    #    every pair row (~30 KB/row → multi-TB shuffle, one round >20 min).
    # 2. The edge-exclusion join must be keyed on BOTH members. An
    #    edge-driven variant joining the edge list into membership on ONE
    #    endpoint first fans out to Σ deg(v)·groups(v) — measured 16.5
    #    BILLION intermediate rows on this graph (hot nodes sit in up to
    #    18,650 groups) and filled the disk. The slim pair list semi-joined
    #    against both-orientation edges on (c1, c2) is a plain hash join.
    #    (Both orientations materialized because an OR-of-ANDs condition
    #    has no equi keys — Spark plans a nested-loop join, one round
    #    >9 min at 375k nodes.)
    # 3. The shared-sentence exclusion is GLOBAL, not per-membership:
    #    "node u and node v share a description" does not depend on the
    #    group, so overlap pairs come from one explode of the NODE table
    #    (Σ|descs| rows, ~1M here) self-joined on the description — the
    #    per-description fan-out is the number of ARGS a sentence has
    #    (single digits), NOT how many groups its nodes sit in. The slim
    #    per-group pairs then semi-join this pair set exactly like the
    #    edge exclusion.
    a = grouped.select("grp", F.col("cand").alias("c1"))
    b = grouped.select("grp", F.col("cand").alias("c2"))
    pairs = a.join(b, "grp").filter(F.col("c1") < F.col("c2"))

    # exclusion inputs only matter for pair MEMBERS (they are consumed via
    # semi-joins keyed on the pairs' (c1, c2)) — restrict both global
    # tables to the member set before the expensive distinct / explode-
    # self-join.
    members = grouped.select(F.col("cand").alias("_mk")).distinct()

    edge_pairs = (
        edges.join(members.withColumnRenamed("_mk", "src"), "src", "left_semi")
        .join(members.withColumnRenamed("_mk", "dst"), "dst", "left_semi")
        .select("src", "dst")
        .distinct()
    )
    edge_pairs_both = (
        edge_pairs.select(F.col("src").alias("c1"), F.col("dst").alias("c2"))
        .unionByName(
            edge_pairs.select(F.col("dst").alias("c1"), F.col("src").alias("c2"))
        )
        .distinct()
    )
    pairs_with_edge = pairs.join(edge_pairs_both, ["c1", "c2"], "left_semi")

    node_descs = nodes.join(
        members.withColumnRenamed("_mk", "lemma_key"), "lemma_key", "left_semi"
    ).select(
        F.col("lemma_key").alias("c1"), F.explode("descriptions").alias("_d")
    )
    desc_overlap_pairs = (
        node_descs.join(
            node_descs.select(F.col("c1").alias("c2"), "_d"), "_d"
        )
        .filter(F.col("c1") < F.col("c2"))
        .select("c1", "c2")
        .distinct()
    )
    pairs_desc_overlap = pairs.join(desc_overlap_pairs, ["c1", "c2"], "left_semi")

    bad_pairs = pairs_with_edge.unionByName(pairs_desc_overlap)
    bad_members = (
        bad_pairs.select("grp", F.col("c1").alias("cand"))
        .unionByName(bad_pairs.select("grp", F.col("c2").alias("cand")))
        .distinct()
    )

    survivors = grouped.join(bad_members, ["grp", "cand"], "left_anti")

    # elect main per group: max (weight, lemma) desc (relations.py:642-646)
    w_main = Window.partitionBy("grp").orderBy(
        F.desc("cand_weight"), F.desc("cand")
    )
    ranked = survivors.withColumn("pos", F.row_number().over(w_main)).withColumn(
        "n_surv", F.count(F.lit(1)).over(Window.partitionBy("grp"))
    ).filter(F.col("n_surv") >= 2)

    # vectors join per-NODE here — after election, one row per surviving
    # member, never per raw membership (see docstring)
    node_vec = nodes.select("lemma_key", F.col("vector").alias("_vec"))
    mains = ranked.filter(F.col("pos") == 1).select(
        "grp",
        F.col("cand").alias("main"),
        F.col("cand_weight").alias("main_weight"),
    ).join(
        node_vec.select(F.col("lemma_key").alias("main"), F.col("_vec").alias("main_vector")),
        "main",
    )
    others = ranked.filter(F.col("pos") > 1).select(
        "grp", F.col("cand").alias("other")
    ).join(
        node_vec.select(F.col("lemma_key").alias("other"), F.col("_vec").alias("other_vector")),
        "other",
    )
    joined = others.join(mains, "grp").filter(
        cosine_distance_col(F.col("main_vector"), F.col("other_vector"))
        <= cfg.cosine_threshold
    ).cache()
    # cached: joined feeds the mapping and its absorbed-main self-join, and
    # the fixpoint consumes the mapping several times. It is tiny (one slim
    # row per cosine-passing candidate). The caller unpersists it via the
    # returned handle once the round's consumers are done.

    # conflict resolution across groups: one main per other (highest-priority
    # main wins); a main absorbed elsewhere defers to the next round
    w_other = Window.partitionBy("other").orderBy(
        F.desc("main_weight"), F.desc("main")
    )
    mapping = (
        joined.withColumn("r", F.row_number().over(w_other))
        .filter(F.col("r") == 1)
        .select("other", "main")
        .distinct()
    )
    absorbed = mapping.select(F.col("other").alias("k"))
    mapping = mapping.join(
        absorbed, mapping.main == absorbed.k, "left_anti"
    ).select("other", "main")
    grouped.unpersist()
    return mapping, joined


def _empty_mapping(nodes: DataFrame) -> DataFrame:
    return nodes.sparkSession.createDataFrame(
        [], "other string, main string"
    )


def apply_node_mapping(
    nodes: DataFrame, edges: DataFrame, mapping: DataFrame, cfg: MergeConfig
) -> Tuple[DataFrame, DataFrame]:
    """Rewrite nodes and edges under other→main; re-aggregate both tables."""
    bmap = F.broadcast(mapping)

    # ---- nodes -------------------------------------------------------------
    dim = cfg.dim if cfg.dim is not None else _vector_dim(nodes, "vector")
    n = nodes.join(
        bmap.withColumnRenamed("other", "lemma_key"), "lemma_key", "left"
    ).withColumn("is_main_row", F.col("main").isNull()).withColumn(
        "new_key", F.coalesce("main", "lemma_key")
    )
    merged_nodes = n.groupBy(F.col("new_key").alias("lemma_key")).agg(
        F.sum("weight").alias("weight"),
        # label: main's label first, absorbed labels appended in
        # (weight, lemma) desc order — the reference's " | " join order
        F.concat_ws(
            " | ",
            F.flatten(
                F.transform(
                    F.reverse(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("is_main_row").cast("int").alias("m"),
                                    F.col("weight").alias("w"),
                                    F.col("lemma_key").alias("k"),
                                    F.col("label").alias("label"),
                                )
                            )
                        )
                    ),
                    lambda s: F.array(s["label"]),
                )
            ),
        ).alias("label"),
        F.array_distinct(F.flatten(F.collect_list("descriptions"))).alias("descriptions"),
        F.array_distinct(F.flatten(F.collect_list("clusters"))).alias("clusters"),
        # true weighted vector mean via codegen'd element-wise sums
        # (documented delta vs the reference's (w·v_old + v_new)/2 quirk)
        *[
            F.sum(F.col("weight") * F.col("vector")[i].cast("double")).alias(f"_v{i}")
            for i in range(dim)
        ],
    )
    if dim > 0:
        merged_nodes = merged_nodes.withColumn(
            "vector",
            F.array(
                *[(F.col(f"_v{i}") / F.col("weight")).cast("float") for i in range(dim)]
            ),
        ).drop(*[f"_v{i}" for i in range(dim)])
    else:
        merged_nodes = merged_nodes.withColumn(
            "vector", F.lit(None).cast("array<float>")
        )

    # ---- edges -------------------------------------------------------------
    e = edges.join(
        bmap.withColumnRenamed("other", "src").withColumnRenamed("main", "src_main"),
        "src",
        "left",
    )
    if cfg.strict_parity:
        # reference quirk: in-edges of absorbed nodes vanish (dead elif,
        # relations.py:732) — drop edges whose dst is absorbed
        e = e.join(
            bmap.select(F.col("other").alias("dst")), "dst", "left_anti"
        ).withColumn("dst_main", F.lit(None).cast("string"))
    else:
        e = e.join(
            bmap.withColumnRenamed("other", "dst").withColumnRenamed("main", "dst_main"),
            "dst",
            "left",
        )
    e = e.withColumn("src", F.coalesce("src_main", "src")).withColumn(
        "dst", F.coalesce("dst_main", "dst")
    ).drop("src_main", "dst_main")

    return merged_nodes, combine_edges(e)


# ---- edge merging (G4/G5) ---------------------------------------------------

_EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
        T.StructField("edge_key", T.StringType()),
        T.StructField("weight", T.LongType()),
        T.StructField("label", T.StringType()),
        T.StructField("lemmas", T.StringType()),
        T.StructField("deprel", T.StringType()),
        T.StructField("descriptions", T.ArrayType(T.StringType())),
        T.StructField("clusters", T.ArrayType(T.IntegerType())),
        T.StructField("changed", T.IntegerType()),
    ]
)


def _aslist(v):
    # Arrow hands array columns to pandas as numpy arrays; `arr or []`
    # is a truthiness trap (a 1-element array of 0 is falsy)
    return [] if v is None else list(v)


def _is_literal_row(r) -> bool:
    return r["label"] in (IS_A, RELATES_TO)


def merge_pair_edge_rows(rows):
    """Pure pair-local edge merging (G4/G5 semantics, relations.py:658-810):
    given the parallel edge rows of ONE (src, dst) pair as dicts, repeatedly
    merge cluster-groups of ≥2 non-literal edges with all-distinct labels
    and pairwise-disjoint source sentences. Returns (rows, changed).

    Shared by the distributed grouped-map and the driver-local fixpoint so
    both paths have identical semantics by construction."""
    rows = list(rows)
    any_change = False
    changed = True
    while changed:
        changed = False
        clusters = sorted(
            {c for r in rows if not _is_literal_row(r) for c in _aslist(r["clusters"])}
        )
        for cl in clusters:
            group = [
                r
                for r in rows
                if not _is_literal_row(r) and cl in _aslist(r["clusters"])
            ]
            if len(group) < 2:
                continue
            # NULL label ≡ "" throughout (same convention as the candidate
            # pre-filter's coalesce) so filtered and unfiltered paths agree
            labels = [r["label"] or "" for r in group]
            if len(set(labels)) != len(labels):
                continue
            # pairwise shared-sentence exclusion (both discarded)
            excluded = set()
            for i in range(len(group)):
                for j in range(i + 1, len(group)):
                    if set(_aslist(group[i]["descriptions"])) & set(
                        _aslist(group[j]["descriptions"])
                    ):
                        excluded.add(i)
                        excluded.add(j)
            group = [g for i, g in enumerate(group) if i not in excluded]
            if len(group) < 2:
                continue
            # merge: attr set-unions; weight = plain sum (documented
            # delta vs the reference's sum-over-set dedup)
            # `or ""`: a NULL label/lemmas/deprel row is mergeable (it is
            # not IS_A/RELATES_TO) and must not crash the group merge —
            # mirrors the NULL-coalescing candidate pre-filter upstream
            new_label = " | ".join(
                sorted({p for g in group for p in (g["label"] or "").split(" | ")})
            )
            new_lemmas = " | ".join(
                sorted({p for g in group for p in (g["lemmas"] or "").split(" | ")})
            )
            new_deprel = " | ".join(
                sorted({p for g in group for p in (g["deprel"] or "").split(" | ")})
            )
            new_descs = sorted({d for g in group for d in _aslist(g["descriptions"])})
            new_clusters = sorted(
                {int(c) for g in group for c in _aslist(g["clusters"])}
            )
            new_row = {
                "src": group[0]["src"],
                "dst": group[0]["dst"],
                "edge_key": f"{new_lemmas} + {new_deprel}",
                "weight": int(sum(g["weight"] for g in group)),
                "label": new_label,
                "lemmas": new_lemmas,
                "deprel": new_deprel,
                "descriptions": new_descs,
                "clusters": new_clusters,
                "changed": 1,
            }
            ids = {id(g) for g in group}
            rows = [r for r in rows if id(r) not in ids]
            # collapse with an existing same-key edge if present
            existing = next(
                (r for r in rows if r["edge_key"] == new_row["edge_key"]), None
            )
            if existing is not None:
                existing["weight"] += new_row["weight"]
                existing["descriptions"] = sorted(
                    set(_aslist(existing["descriptions"])) | set(new_descs)
                )
                existing["clusters"] = sorted(
                    set(_aslist(existing["clusters"])) | set(new_clusters)
                )
                existing["changed"] = 1
            else:
                rows.append(new_row)
            changed = True
            any_change = True
            break
    return rows, any_change


def _edge_merge_cand_pairs(edges: DataFrame) -> DataFrame:
    """(src, dst) pairs that MIGHT merge: ≥2 clustered rows under ≥2
    distinct labels (a sound superset of the pairs merge_pair_edge_rows
    would change — reference relations.py:686-705 merges only across
    differing non-special labels with cluster evidence). Shared by
    merge_parallel_edges' dispatch and the fixpoint's skip probe: one slim
    partial-agg over the edge table, so a round with no candidates skips
    the full-table rewrite entirely.

    NULL-safe: isin() is NULL-valued for a NULL label, which would
    silently drop such rows from candidacy while merge_pair_edge_rows
    treats them as mergeable — coalesce to '' so the pre-filter stays a
    sound superset (the pipeline never produces NULL labels, but the
    contract shouldn't depend on that)."""
    _lbl = F.coalesce(F.col("label"), F.lit(""))
    return (
        edges.filter(~_lbl.isin(IS_A, RELATES_TO))
        .filter(F.size("clusters") > 0)
        .groupBy("src", "dst")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct(_lbl).alias("_nl"),
        )
        .filter((F.col("_n") >= 2) & (F.col("_nl") >= 2))
        .select("src", "dst", F.lit(True).alias("_cand"))
    )


def merge_parallel_edges(
    edges: DataFrame, cand_pairs: Optional[DataFrame] = None
) -> DataFrame:
    """Distributed pair-local edge merging: grouped-map over (src, dst);
    each group is tiny, so the per-group Python is O(k²) on k ≤ dozens.
    Emits a ``changed`` flag so the fixpoint can detect quiescence.

    Scale guard: the overwhelming bulk of (src, dst) pairs PROVABLY cannot
    merge — a merge needs ≥2 non-literal rows carrying clusters with ≥2
    DISTINCT labels on one pair (merge_pair_edge_rows skips literal rows,
    rows without clusters, and duplicate-label groups). Routing every pair
    through applyInPandas pays per-group pandas overhead on millions of
    singleton groups per round; instead a cheap aggregate finds the
    candidate pairs (a sound SUPERSET of mergeable) and only their rows —
    including their literal rows, so same-key collapse still sees the
    whole pair — take the Python path; everything else passes through
    JVM-side with changed=0. Identical output by construction; pinned by
    the edge-merge parity tests and the kg_merge_fixpoint driver oracle."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.to_dict("records")
        for r in rows:
            r["changed"] = 0
        rows, _ = merge_pair_edge_rows(rows)
        return pd.DataFrame(rows, columns=[f.name for f in _EDGE_SCHEMA.fields])

    # cand_pairs: pass the precomputed _edge_merge_cand_pairs(edges) when the
    # caller already ran it (the fixpoint's skip probe does) — the candidate
    # agg over the full edge table is the expensive half of this function's
    # setup and must not run twice per round
    if cand_pairs is None:
        cand_pairs = _edge_merge_cand_pairs(edges)
    flagged = edges.join(cand_pairs, ["src", "dst"], "left")
    passthrough = (
        flagged.filter(F.col("_cand").isNull())
        .drop("_cand")
        .withColumn("changed", F.lit(0))
        .select([f.name for f in _EDGE_SCHEMA.fields])
    )
    merged = (
        flagged.filter(F.col("_cand").isNotNull())
        .drop("_cand")
        .groupBy("src", "dst")
        .applyInPandas(merge_group, schema=_EDGE_SCHEMA)
    )
    return merged.unionByName(passthrough)


NODE_SCHEMA_DDL = (
    "lemma_key string, weight long, label string, descriptions array<string>, "
    "clusters array<int>, vector array<float>"
)
EDGE_SCHEMA_DDL = (
    "src string, dst string, edge_key string, weight long, label string, "
    "lemmas string, deprel string, descriptions array<string>, clusters array<int>"
)


def merge_fixpoint(
    nodes: DataFrame,
    edges: DataFrame,
    cfg: Optional[MergeConfig] = None,
    local_threshold: Optional[int] = None,
) -> Tuple[DataFrame, DataFrame, int]:
    """Run node-merge + edge-merge rounds to a fixpoint.

    Dispatch: when the aggregated graph fits the driver (nodes+edges rows ≤
    ``local_threshold``, default LOCAL_FIXPOINT_THRESHOLD), the fixpoint
    runs driver-local — the iterative candidate joins pay ~60 Spark-job
    latencies per convergence on data that is KBs after aggregation (the
    reference's entities_limit world is ≤10⁴ nodes by design). Above the
    threshold the identical bulk-round semantics run as DataFrame rounds
    (shared pair-merge code), each round localCheckpoint'ed to cut lineage.
    Returns (nodes, edges, rounds_run).
    """
    cfg = cfg or MergeConfig()
    if local_threshold is None:
        local_threshold = LOCAL_FIXPOINT_THRESHOLD
    spark = nodes.sparkSession
    n_count = nodes.count()
    e_count = edges.count()
    if local_threshold > 0 and n_count + e_count <= local_threshold:
        return _merge_fixpoint_via_driver(nodes, edges, cfg)
    round_parts = suggest_round_partitions(spark, n_count + e_count)
    seq = iter(range(10_000))
    run_dir = None
    if cfg.checkpoint_dir is not None:
        import uuid

        # per-run unique subdir: concurrent/re-runs sharing a work_dir can't
        # tread on each other's stage tables, and cleanup below can't remove
        # a sibling run's rounds
        run_dir = f"{cfg.checkpoint_dir}/merge_rounds/run_{uuid.uuid4().hex[:12]}"

    def ckpt(df: DataFrame, name: str) -> DataFrame:
        """Cut lineage per round: localCheckpoint (fast, executor-block-
        backed) by default; durable parquet stage tables when
        cfg.checkpoint_dir is set (cluster-grade fault tolerance)."""
        if run_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{run_dir}/stages/{next(seq):04d}_{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    # Scope the round-sized shuffle-partition count to this convergence:
    # every round's shuffles run while the conf is set (ckpt materializes
    # each round eagerly, and the finals below are parquet/checkpoint-
    # materialized before restore, so nothing lazy escapes the scope).
    # scoped_shuffle_partitions makes the set/restore pair race-safe under
    # concurrent fixpoints (refcounted baseline restore — see its docstring
    # for the residual shared-value hazard).
    with scoped_shuffle_partitions(spark, round_parts):
        return _merge_fixpoint_rounds(spark, nodes, edges, cfg, ckpt, run_dir)


def _merge_fixpoint_rounds(spark, nodes, edges, cfg, ckpt, run_dir):
    rounds = 0
    nodes = ckpt(nodes, "nodes_init")
    edges = ckpt(edges, "edges_init")
    while rounds < cfg.max_rounds:
        rounds += 1
        progressed = False

        mapping, joined_cache = find_node_mapping(nodes, edges, cfg)
        mapping = mapping.cache()
        if not mapping.isEmpty():
            nodes, edges = apply_node_mapping(nodes, edges, mapping, cfg)
            nodes = ckpt(nodes, "nodes")
            edges = ckpt(edges, "edges")
            progressed = True
        mapping.unpersist()
        if joined_cache is not None:
            joined_cache.unpersist()

        # Skip probe (r5): a round with no (src, dst) candidate pairs
        # cannot change the edge table (_edge_merge_cand_pairs is a sound
        # superset of what merge_pair_edge_rows rewrites), so pay one slim
        # partial-agg over the checkpointed edges instead of the full-table
        # rewrite + checkpoint + changed-scan. Candidate-free quiescent and
        # node-only rounds take this path; a graph whose only "candidates"
        # are permanently excluded pairs (shared-sentence groups) still
        # pays the full pass — the probe is a superset filter, not an
        # exclusion evaluator. The cached agg is REUSED by
        # merge_parallel_edges below, so candidate-bearing rounds pay it
        # once, not twice.
        cand_pairs = _edge_merge_cand_pairs(edges).cache()
        if not cand_pairs.isEmpty():
            # Fuse the changed-detection into the checkpoint action itself
            # (r5 next-round item 2): an Observation on the edges_par write
            # yields sum(changed) from the SAME job, replacing the separate
            # full-scan isEmpty probe that cost one extra job-barrier per
            # candidate-bearing round.
            from pyspark.sql import Observation

            obs = Observation(f"edges_par_r{rounds}")
            edges = ckpt(
                merge_parallel_edges(edges, cand_pairs=cand_pairs).observe(
                    obs, F.sum("changed").alias("n_changed")
                ),
                "edges_par",
            ).drop("changed")
            if obs.get["n_changed"]:
                progressed = True
        # safe to release: the edges_par checkpoint is eager, so nothing
        # downstream re-reads the cached candidate agg
        cand_pairs.unpersist()

        if not progressed:
            break
    else:
        # while-exhausted with the last permitted round still making
        # progress. That round may have been exactly the step that reached
        # the fixpoint (quiescence was never re-checked), so probe once
        # before warning: quiescent iff no node mapping remains AND an
        # edge-merge pass would change nothing. The probe costs one
        # detection pass, only on this exhaustion path.
        import logging

        quiescent = False
        if rounds > 0:
            probe_map, probe_joined = find_node_mapping(nodes, edges, cfg)
            no_mapping = probe_map.isEmpty()
            if probe_joined is not None:
                probe_joined.unpersist()
            if no_mapping:
                probe_cand = _edge_merge_cand_pairs(edges).cache()
                if probe_cand.isEmpty():
                    quiescent = True  # no candidates → no possible change
                else:
                    probe_edges = merge_parallel_edges(
                        edges, cand_pairs=probe_cand
                    )
                    quiescent = probe_edges.filter(
                        F.col("changed") == 1
                    ).isEmpty()
                probe_cand.unpersist()
        if not quiescent:
            # the 384k-page capstone used 15 of the default 20 rounds; a
            # larger corpus can legitimately need more → raise max_rounds
            logging.getLogger(__name__).warning(
                "merge_fixpoint: max_rounds=%d exhausted before quiescence"
                " — returning the non-converged round-%d state; raise"
                " MergeConfig.max_rounds for this corpus",
                cfg.max_rounds,
                rounds,
            )
    if run_dir is not None:
        # Materialize the converged tables under THIS run's unique dir, then
        # drop only the per-round stage tables. Finals must NOT live at a
        # shared fixed path: the returned DataFrames read lazily, so a second
        # run sharing the work_dir would overwrite them while the first run's
        # consumers (pipeline ledger, sinks) are still reading — GC of older
        # runs' finals is an explicit step (gc_merge_runs), never implicit.
        final_nodes = f"{run_dir}/final/nodes"
        final_edges = f"{run_dir}/final/edges"
        nodes.write.mode("overwrite").parquet(final_nodes)
        edges.write.mode("overwrite").parquet(final_edges)
        nodes = spark.read.parquet(final_nodes)
        edges = spark.read.parquet(final_edges)
        # Hadoop FS delete (not shutil): checkpoint_dir may be HDFS/S3
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(f"{run_dir}/stages")
        jpath.getFileSystem(spark._jsc.hadoopConfiguration()).delete(jpath, True)
    return nodes, edges, rounds


def gc_merge_runs(spark, checkpoint_dir: str, keep: int = 1) -> int:
    """Explicitly garbage-collect old merge-run dirs under
    ``{checkpoint_dir}/merge_rounds``, keeping the ``keep`` most recent
    (by modification time). merge_fixpoint never deletes another run's
    finals implicitly — a concurrent run's returned DataFrames read them
    lazily — so disk reclamation across runs is this explicit step.
    Returns the number of run dirs removed. HDFS/S3-safe (Hadoop FS API).
    """
    return gc_child_dirs(spark, f"{checkpoint_dir}/merge_rounds", keep)


# ---- driver-local fast path ---------------------------------------------------

def _np_cosine_distance(u, v) -> float:
    import numpy as np

    if u is None or v is None:
        return 0.0
    u = np.asarray(u, dtype=float)
    v = np.asarray(v, dtype=float)
    nu = float(np.linalg.norm(u))
    nv = float(np.linalg.norm(v))
    if nu == 0.0 or nv == 0.0:
        return 0.0
    return 1.0 - float(np.dot(u, v)) / (nu * nv)


def _local_find_mapping(nodes: dict, edges: dict, cfg: MergeConfig) -> dict:
    """Pure-Python mirror of find_node_mapping's bulk-round semantics."""
    groups: dict = {}
    edge_pairs = set()
    for (src, dst, key), e in edges.items():
        edge_pairs.add((src, dst))
        if e["label"] in (IS_A, RELATES_TO):
            continue
        groups.setdefault(("t", src, key), set()).add(dst)
        groups.setdefault(("s", dst, key), set()).add(src)

    candidates = []  # (other, main, main_weight)
    for (direction, anchor, key), cands in groups.items():
        anchor_clusters = nodes[anchor]["clusters"]
        gated = [c for c in cands if anchor_clusters & nodes[c]["clusters"]]
        if len(gated) < 2:
            continue
        gated.sort(key=lambda c: (nodes[c]["weight"], c), reverse=True)
        gated = gated[: cfg.max_group]
        # pairwise exclusions: edge between (either direction) or shared
        # source sentence knocks BOTH out
        bad = set()
        for i in range(len(gated)):
            for j in range(i + 1, len(gated)):
                a, b = gated[i], gated[j]
                if (
                    (a, b) in edge_pairs
                    or (b, a) in edge_pairs
                    or nodes[a]["descriptions"] & nodes[b]["descriptions"]
                ):
                    bad.add(a)
                    bad.add(b)
        surv = [c for c in gated if c not in bad]
        if len(surv) < 2:
            continue
        surv.sort(key=lambda c: (nodes[c]["weight"], c), reverse=True)
        main, *others = surv
        for other in others:
            if (
                _np_cosine_distance(nodes[main]["vector"], nodes[other]["vector"])
                <= cfg.cosine_threshold
            ):
                candidates.append((other, main, nodes[main]["weight"]))

    # conflict resolution: per other the highest-priority main; mains that
    # are themselves absorbed defer to the next round
    best: dict = {}
    for other, main, mw in candidates:
        cur = best.get(other)
        if cur is None or (mw, main) > (cur[1], cur[0]):
            best[other] = (main, mw)
    mapping = {other: main for other, (main, _) in best.items()}
    absorbed = set(mapping)
    return {o: m for o, m in mapping.items() if m not in absorbed}


def _local_apply_mapping(nodes: dict, edges: dict, mapping: dict, cfg: MergeConfig):
    import numpy as np

    # ---- nodes: group by new key, mirror the DataFrame agg ordering
    grouped: dict = {}
    for key, n in nodes.items():
        new_key = mapping.get(key, key)
        grouped.setdefault(new_key, []).append((key, n))
    new_nodes: dict = {}
    for new_key, members in grouped.items():
        members.sort(
            key=lambda kn: (
                1 if kn[0] == new_key else 0,  # main row first
                kn[1]["weight"],
                kn[0],
                kn[1]["label"] or "",
            ),
            reverse=True,
        )
        weight = sum(n["weight"] for _, n in members)
        label = " | ".join(n["label"] for _, n in members if n["label"])
        descs = set().union(*(n["descriptions"] for _, n in members))
        clusters = set().union(*(n["clusters"] for _, n in members))
        vecs = [(n["weight"], n["vector"]) for _, n in members if n["vector"] is not None]
        if vecs:
            acc = np.zeros(len(vecs[0][1]), dtype=float)
            for w, v in vecs:
                acc += w * np.asarray(v, dtype=float)
            vector = (acc / weight).astype("float32")
        else:
            vector = None
        new_nodes[new_key] = {
            "weight": weight,
            "label": label,
            "descriptions": descs,
            "clusters": clusters,
            "vector": vector,
        }

    # ---- edges: re-point, re-aggregate
    new_edges: dict = {}
    for (src, dst, key), e in edges.items():
        if cfg.strict_parity and dst in mapping:
            continue  # reference quirk: absorbed nodes' in-edges vanish
        nsrc = mapping.get(src, src)
        ndst = dst if cfg.strict_parity else mapping.get(dst, dst)
        k = (nsrc, ndst, key)
        if k not in new_edges:
            new_edges[k] = {
                "weight": e["weight"],
                "label": e["label"],
                "lemmas": e["lemmas"],
                "deprel": e["deprel"],
                "descriptions": set(e["descriptions"]),
                "clusters": set(e["clusters"]),
            }
        else:
            t = new_edges[k]
            t["weight"] += e["weight"]
            t["label"] = min(t["label"], e["label"])
            t["lemmas"] = min(t["lemmas"], e["lemmas"])
            t["deprel"] = min(t["deprel"], e["deprel"])
            t["descriptions"] |= e["descriptions"]
            t["clusters"] |= e["clusters"]
    return new_nodes, new_edges


def _local_merge_parallel_edges(edges: dict) -> tuple:
    by_pair: dict = {}
    for (src, dst, key), e in edges.items():
        by_pair.setdefault((src, dst), []).append(
            {
                "src": src,
                "dst": dst,
                "edge_key": key,
                "weight": e["weight"],
                "label": e["label"],
                "lemmas": e["lemmas"],
                "deprel": e["deprel"],
                "descriptions": sorted(e["descriptions"]),
                "clusters": sorted(e["clusters"]),
                "changed": 0,
            }
        )
    out: dict = {}
    any_change = False
    for pair, rows in by_pair.items():
        merged, changed = merge_pair_edge_rows(rows)
        any_change = any_change or changed
        for r in merged:
            out[(r["src"], r["dst"], r["edge_key"])] = {
                "weight": r["weight"],
                "label": r["label"],
                "lemmas": r["lemmas"],
                "deprel": r["deprel"],
                "descriptions": set(r["descriptions"]),
                "clusters": set(r["clusters"]),
            }
    return out, any_change


def merge_fixpoint_local(node_rows, edge_rows, cfg: MergeConfig):
    """Driver-local bulk-round fixpoint over collected rows. Same semantics
    as the distributed path (shared pair-merge code; mirrored candidate
    rule); used when the post-aggregation graph fits the driver."""
    nodes = {
        r["lemma_key"]: {
            "weight": r["weight"],
            "label": r["label"],
            "descriptions": set(r["descriptions"] or []),
            "clusters": set(r["clusters"] or []),
            "vector": list(r["vector"]) if r["vector"] is not None else None,
        }
        for r in node_rows
    }
    edges = {
        (r["src"], r["dst"], r["edge_key"]): {
            "weight": r["weight"],
            "label": r["label"],
            "lemmas": r["lemmas"],
            "deprel": r["deprel"],
            "descriptions": set(r["descriptions"] or []),
            "clusters": set(r["clusters"] or []),
        }
        for r in edge_rows
    }
    rounds = 0
    while rounds < cfg.max_rounds:
        rounds += 1
        progressed = False
        mapping = _local_find_mapping(nodes, edges, cfg)
        if mapping:
            nodes, edges = _local_apply_mapping(nodes, edges, mapping, cfg)
            progressed = True
        edges, changed = _local_merge_parallel_edges(edges)
        progressed = progressed or changed
        if not progressed:
            break
    else:
        import logging

        logging.getLogger(__name__).warning(
            "merge_fixpoint (local): max_rounds=%d exhausted while still"
            " progressing — returning the non-converged round-%d state",
            cfg.max_rounds,
            rounds,
        )
    return nodes, edges, rounds


LOCAL_FIXPOINT_THRESHOLD = 200_000  # nodes+edges rows that fit a driver pass


def _merge_fixpoint_via_driver(
    nodes: DataFrame, edges: DataFrame, cfg: MergeConfig
) -> Tuple[DataFrame, DataFrame, int]:
    spark = nodes.sparkSession
    n_rows = [r.asDict() for r in nodes.collect()]
    e_rows = [r.asDict() for r in edges.collect()]
    new_nodes, new_edges, rounds = merge_fixpoint_local(n_rows, e_rows, cfg)

    node_out = [
        (
            k,
            int(n["weight"]),
            n["label"],
            sorted(n["descriptions"]),
            sorted(int(c) for c in n["clusters"]),
            [float(x) for x in n["vector"]] if n["vector"] is not None else None,
        )
        for k, n in sorted(new_nodes.items())
    ]
    edge_out = [
        (
            src,
            dst,
            key,
            int(e["weight"]),
            e["label"],
            e["lemmas"],
            e["deprel"],
            sorted(e["descriptions"]),
            sorted(int(c) for c in e["clusters"]),
        )
        for (src, dst, key), e in sorted(new_edges.items())
    ]
    return (
        spark.createDataFrame(node_out, NODE_SCHEMA_DDL),
        spark.createDataFrame(edge_out, EDGE_SCHEMA_DDL),
        rounds,
    )
