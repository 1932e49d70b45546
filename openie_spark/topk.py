"""Top-K entity filtering + removed-node bypass.

Reference behavior (/root/reference/relations.py:496-498, 828-892):

1. ``_find_nodes_to_remove``: keep the N heaviest nodes, then iteratively
   swap out any kept node whose edges *within the kept set* are all
   ``_is_a_``/``_relates_to_``, pulling in the next-heaviest. Two quirks
   kept verbatim (SURVEY.md §2.8 G6): the in-edge check tests
   ``target in nodes_to_leave`` — for an in-edge the target IS the node, so
   in-edge labels count unconditionally; and the swap-in cursor starts at
   index ``min(N, len)+1``, skipping one node. Weight ties, nondeterministic
   set order in the reference, are broken by lemma DESC (matching the
   (weight, node)-desc sort used by merge-main election).

2. ``_perform_filtering``: for each removed node, add pred→succ bypass
   edges where in-label == out-label, then drop the node. Sequential in the
   reference; we process *independent batches* of removed nodes per round
   (a removed node defers if it has an edge to a removed neighbor with a
   smaller hash) so simultaneous removals can't break label-equal chains —
   the batch version composes to the same result as the sequential one.

Scale: the swap refinement runs on a driver-collected slice bounded by
entities_limit (default 10,000 — /root/reference/instance/config.json:5)
plus a swap buffer; the bypass rounds are joins, fully distributed.
"""

from __future__ import annotations

from typing import Optional, Set, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import combine_edges
from .rules import IS_A, RELATES_TO

# bypass pre-filter reachability fixpoint budget: label-homogeneous chains
# longer than this are synthetic; non-convergence falls back to the coarser
# label-level filter (see bypass_and_drop). Module-level so tests can force
# the fallback (0) for A/B equivalence.
REACH_ITERS = 12


def find_nodes_to_keep(
    nodes: DataFrame,
    edges: DataFrame,
    n_nodes_to_leave: int,
    buffer_factor: int = 3,
) -> Set[str]:
    """Driver-side replica of the reference's swap refinement, on a
    collected top slice (≤ N·buffer_factor rows — N is entities_limit-scale,
    so this is a small collect by design)."""
    n_buffer = n_nodes_to_leave * buffer_factor + 64
    top = (
        nodes.select("lemma_key", "weight")
        .orderBy(F.desc("weight"), F.desc("lemma_key"))
        .limit(n_buffer)
        .collect()
    )
    all_nodes = [r["lemma_key"] for r in top]
    cand_set = set(all_nodes)

    spark = nodes.sparkSession
    cand_df = F.broadcast(
        spark.createDataFrame([(k,) for k in sorted(cand_set)], "k string")
    )
    induced = (
        edges.join(cand_df.withColumnRenamed("k", "src"), "src", "left_semi")
        .join(cand_df.withColumnRenamed("k", "dst"), "dst", "left_semi")
        .select("src", "dst", "label")
        .collect()
    )
    out_edges: dict = {}
    for e in induced:
        if e["src"] in cand_set and e["dst"] in cand_set:
            out_edges.setdefault(e["src"], []).append((e["dst"], e["label"]))
    # The reference's in-edge quirk counts a node's in-edge labels
    # UNCONDITIONALLY (target==node is trivially in nodes_to_leave), so the
    # in-edge side must NOT be restricted to candidate-set sources — a
    # non-structural in-edge from a below-buffer node must still pin its
    # target. Since in-labels never depend on nodes_to_leave membership, the
    # only signal needed per candidate is "has ≥1 in-edge whose label is not
    # _is_a_/_relates_to_" — aggregated distributed-side, never collected
    # per-edge (a hub node may have millions of in-edges at scale).
    nonstructural_in = {
        r["dst"]
        for r in edges.filter(~F.col("label").isin(IS_A, RELATES_TO))
        .join(cand_df.withColumnRenamed("k", "dst"), "dst", "left_semi")
        .select("dst")
        .distinct()
        .collect()
    }

    keep = min(n_nodes_to_leave, len(all_nodes))
    nodes_to_leave = set(all_nodes[:keep])
    next_node_index = keep + 1  # reference's +1 skip quirk

    # The reference's restart-scan (re-scan sorted(nodes_to_leave) from the
    # top after every swap) is semantically "repeatedly discard the
    # lexicographically-smallest currently-eligible node". A naive restart
    # loop is O(swaps · K log K) driver time — ~10⁹ ops at
    # entities_limit=10⁴ with a large buffer (measured: dominates the whole
    # filter at 1M-node scale). The lazy-revalidation heap below pops the
    # identical discard sequence in O((K + swaps + touched) log K):
    # eligibility is re-checked at pop (membership or out-label-visibility
    # may have changed), and a node is (re)pushed only when a departed
    # target could have made it eligible.
    in_neighbors: dict = {}
    for src, outs in out_edges.items():
        for tgt, _lbl in outs:
            in_neighbors.setdefault(tgt, []).append(src)

    def eligible(n: str) -> bool:
        # in-edge quirk: target==node is always in nodes_to_leave, so a
        # single non-structural in-edge (from ANY node) pins the node
        if n in nonstructural_in:
            return False
        return all(
            lbl in (IS_A, RELATES_TO)
            for tgt, lbl in out_edges.get(n, [])
            if tgt in nodes_to_leave
        )

    import heapq

    heap = [n for n in nodes_to_leave if eligible(n)]
    heapq.heapify(heap)
    while heap:
        node = heapq.heappop(heap)
        if node not in nodes_to_leave or not eligible(node):
            continue  # stale entry (swapped out, or a new target pinned it)
        nodes_to_leave.discard(node)
        if next_node_index < len(all_nodes):
            added = all_nodes[next_node_index]
            next_node_index += 1
            nodes_to_leave.add(added)
            if eligible(added):
                heapq.heappush(heap, added)
        # the departed node's in-neighbors lost a target: a non-structural
        # out-edge of theirs may have vanished from the kept set, making
        # them eligible now (a GAINED target only pins — lazy check covers)
        for m in in_neighbors.get(node, []):
            if m in nodes_to_leave and eligible(m):
                heapq.heappush(heap, m)
    return nodes_to_leave


def bypass_and_drop(
    nodes: DataFrame,
    edges: DataFrame,
    keep_keys: Set[str],
    max_rounds: int = 50,
    stats: Optional[dict] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Drop all nodes not in ``keep_keys``, adding pred→succ bypass edges
    where the in-label equals the out-label (relations.py:865-892).

    Independent-batch rounds: per round, a removed node is processed only
    if none of its removed neighbors hashes smaller; edges incident to the
    processed batch are consumed, bypass edges join the live set.

    Round bound: per round every local-hash-minimum among removed nodes is
    consumed — a 1/(deg+1) fraction of the removed set in expectation, so
    chains drain in O(log) rounds but dense removed-adjacency drains
    geometrically at rate deg/(deg+1) per round (measured: ~13%/round at
    mean removed-degree ≈ 6). That is why the rounds are preceded by a
    sound (node,label) REACHABILITY pre-filter (see inline comment): only
    edges on a label-homogeneous kept→…→kept path through removed nodes
    can ever contribute a bypass edge, and that core is tiny at web scale
    with entities_limit ≪ |V| — the rounds then grind thousands of rows,
    not the full edge set. If the reachability fixpoint does not converge
    in REACH_ITERS iterations (chains longer than that are synthetic), a
    coarser label-level filter is used instead: an edge whose label L has
    no kept→removed in-edge or no removed→kept out-edge anywhere can never
    complete a chain.

    If ``max_rounds`` is exhausted with removed nodes remaining, the
    leftover edges touching non-kept nodes are dropped (never returned
    dangling) and the event is recorded in ``stats['truncated']``.
    """
    spark = nodes.sparkSession
    keep_df = F.broadcast(
        spark.createDataFrame([(k,) for k in sorted(keep_keys)], "lemma_key string")
    )

    # sound label pre-filter on removed↔removed edges (see docstring)
    k_src = keep_df.withColumnRenamed("lemma_key", "src")
    k_dst = keep_df.withColumnRenamed("lemma_key", "dst")
    src_kept = F.col("src_kept")
    dst_kept = F.col("dst_kept")
    tagged = (
        edges.join(k_src.withColumn("src_kept", F.lit(True)), "src", "left")
        .join(k_dst.withColumn("dst_kept", F.lit(True)), "dst", "left")
        .withColumn("src_kept", F.coalesce(src_kept, F.lit(False)))
        .withColumn("dst_kept", F.coalesce(dst_kept, F.lit(False)))
    )
    # Sound (node,label) REACHABILITY pre-filter: a final kept→kept bypass
    # edge of label L exists iff some label-L path kept → r₁ → … → rₖ →
    # kept runs entirely through removed intermediates (bypass only fuses
    # equal labels). So an in-play edge can contribute only if its src is
    # forward-L-reachable from the kept set and its dst backward-L-reachable
    # to it. Label-homogeneous chains decay geometrically with label
    # diversity, so the fixpoint below converges in a few (node,label)-join
    # iterations and discards the overwhelming bulk of the removed↔removed
    # set before the expensive hash-minima rounds — measured at 1M nodes /
    # 3M edges: the batch rounds alone consume only ~13% of removed nodes
    # per round (local-minima rate is 1/(deg+1)), needing ~70 rounds of
    # full-set grinding; with this filter the surviving core is thousands
    # of rows and drains in a handful of rounds (SCALE.md §8).
    from pyspark.sql import Observation

    _obs_rr = Observation("rr_size")
    rr = (
        tagged.filter(~src_kept & ~dst_kept)
        .select(F.col("src").alias("n"), F.col("dst").alias("m"), "label")
        .distinct()
        .observe(_obs_rr, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # Scope a data-scaled shuffle-partition count to the reach fixpoint +
    # bypass rounds (r6, same evidence class as the merge fixpoint policy:
    # 16-core 1M-node A/B, both orders — partitions=8 56.1/55.8s vs the
    # 2x-cores default 68.8/62.2s bypass span, identical kept graph). The
    # iterative stages grind the removed-adjacency set, whose size the rr
    # checkpoint just observed for free; the final aggregation runs after
    # the conf is restored (race-safe scope — see scoped_shuffle_partitions).
    from .merge import scoped_shuffle_partitions, suggest_round_partitions

    n_rr = int(_obs_rr.get["n"])
    _round_parts = suggest_round_partitions(spark, n_rr)

    with scoped_shuffle_partitions(spark, _round_parts):
        return _bypass_rounds(
            nodes, keep_df, k_src, k_dst, tagged, rr,
            src_kept, dst_kept, edges.columns, max_rounds, stats,
        )


def _bypass_rounds(
    nodes, keep_df, k_src, k_dst, tagged, rr,
    src_kept, dst_kept, edge_cols, max_rounds, stats,
):

    def _reach(seed: DataFrame, edges_nm: DataFrame, iters: int):
        """Fixpoint of (node,label) pairs reachable from seed along
        edges_nm; None when not converged within `iters` BFS levels (the
        caller then falls back to the coarser label-level filter — chains
        longer than `iters` are vanishingly rare outside synthetic
        fixtures).

        Barrier coalescing (r7, VERDICT r6 item 7): each localCheckpoint
        is a job barrier and the sandbox/scheduler fixed cost per job
        dominates these thousands-of-rows stages — so TWO BFS levels are
        expanded lazily per checkpoint (one barrier per pair instead of
        the old two barriers per level = 4× fewer jobs), and the reach
        set is kept as a lazy union of already-materialized checkpoint
        parts (no re-checkpoint of the union per level). Correctness is
        unchanged: hop2 expands from hop1 before the anti-join, the pair
        is deduped against reach at the end, and the next frontier is the
        pair's genuinely-new nodes (a revisit is removed by the next
        anti-join). Convergence check stays free — observed on the pair's
        checkpoint job.

        Pair-count budget: iters//2 + 1 pairs, NOT ceil(iters/2) —
        certifying convergence needs a pair that adds NOTHING, and a
        reach that only empties at level `iters` exactly still has new
        nodes in its ceil(iters/2)-th pair, so that budget returns None
        where the per-level version converged (measured at 1M nodes /
        3M edges: the off-by-one silently dropped the reach filter to
        the label fallback and the rounds ground the full ~1M-row
        removed set at ~15%/round instead of the pruned core — the whole
        pre-filter's reason to exist)."""
        from pyspark.sql import Observation

        reach = seed.localCheckpoint(eager=True)
        frontier = reach
        for it in range(iters // 2 + 1):
            obs = Observation(f"reach_{it}")
            hop1 = (
                frontier.join(edges_nm, ["n", "label"])
                .select(F.col("m").alias("n"), "label")
                .distinct()
            )
            hop2 = (
                hop1.join(edges_nm, ["n", "label"])
                .select(F.col("m").alias("n"), "label")
                .distinct()
            )
            nxt = (
                hop1.unionByName(hop2)
                .distinct()
                .join(reach, ["n", "label"], "left_anti")
                .observe(obs, F.count(F.lit(1)).alias("n_new"))
                .localCheckpoint(eager=True)
            )
            if int(obs.get["n_new"] or 0) == 0:
                return reach
            # lazy union of checkpointed parts: each part is materialized,
            # so no extra barrier is paid to compact the running set
            reach = reach.unionByName(nxt)
            frontier = nxt
        return None

    seed_f = (
        tagged.filter(src_kept & ~dst_kept)
        .select(F.col("dst").alias("n"), "label")
        .distinct()
    )
    reach_f = _reach(seed_f, rr, REACH_ITERS)
    reach_b = None
    if reach_f is not None:
        seed_b = (
            tagged.filter(~src_kept & dst_kept)
            .select(F.col("src").alias("n"), "label")
            .distinct()
        )
        reach_b = _reach(
            seed_b,
            rr.select(F.col("m").alias("n"), F.col("n").alias("m"), "label"),
            REACH_ITERS,
        )

    if stats is not None:
        # observable in tests and ops: False = the coarser label fallback
        # ran (reach fixpoint didn't converge within budget) — at scale
        # that means the rounds grind the full removed set, so a silent
        # regression here is a 10×+ wall cliff (r7's off-by-one was one)
        stats["reach_filter"] = reach_f is not None and reach_b is not None
    if reach_f is not None and reach_b is not None:
        f_src = reach_f.select(F.col("n").alias("src"), "label").withColumn(
            "_f", F.lit(True)
        )
        b_dst = reach_b.select(F.col("n").alias("dst"), "label").withColumn(
            "_b", F.lit(True)
        )
        src_ok = src_kept | F.coalesce(F.col("_f"), F.lit(False))
        dst_ok = dst_kept | F.coalesce(F.col("_b"), F.lit(False))
        surviving = (
            tagged.join(f_src, ["src", "label"], "left")
            .join(b_dst, ["dst", "label"], "left")
            .filter(src_ok & dst_ok)
            .drop("_f", "_b")
        )
    else:
        # fallback: sound label-level pre-filter (see docstring)
        useful_labels = F.broadcast(
            tagged.filter(src_kept & ~dst_kept)
            .select("label")
            .intersect(tagged.filter(~src_kept & dst_kept).select("label"))
        )
        surviving = tagged.join(
            useful_labels.withColumn("_useful", F.lit(True)), "label", "left"
        ).filter(src_kept | dst_kept | F.coalesce(F.col("_useful"), F.lit(False)))
    # Rounds only grind edges still TOUCHING a removed node; kept→kept rows
    # are final the moment they exist (they never pair — b_in/b_out join on
    # batch membership) and park in `done_parts` for ONE aggregation at the
    # end. The per-round groupBy below still runs on the in-play set before
    # the next pairing (pairing multiplicity is semantics: an unaggregated
    # duplicate in-edge would double a bypass weight), so results are
    # identical to aggregating everything every round — the associative
    # aggregates (sum/min/distinct-union) just happen later for parked rows.
    # At web scale with entities_limit ≪ |V| this turns 50 full-edge-set
    # aggregations into 50 shrinking ones plus one final merge.
    done_parts = [surviving.filter(src_kept & dst_kept).select(edge_cols)]
    cur_edges = (
        surviving.filter(~(src_kept & dst_kept)).select(edge_cols)
    )

    def finalize(parts) -> DataFrame:
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return combine_edges(out)

    def one_round(cur: DataFrame) -> DataFrame:
        """ONE bypass round as a LAZY plan: input rows in edge_cols (rows
        already kept→kept are inert — their endpoints never land in
        ``removed``/``batch``, so they pass through ``untouched`` and are
        merely re-touched by this round's aggregation, identically to
        what finalize() would do to them). Output: merged rows in
        edge_cols + src_kept/dst_kept tags."""
        removed = (
            cur.select(F.col("src").alias("lemma_key"))
            .unionByName(cur.select(F.col("dst").alias("lemma_key")))
            .distinct()
            .join(keep_df, "lemma_key", "left_anti")
            .withColumn("h", F.xxhash64("lemma_key"))
        )
        # defer removed nodes adjacent (among current edges) to a
        # smaller-hash removed node
        r_src = removed.select(
            F.col("lemma_key").alias("src"), F.col("h").alias("h_src")
        )
        r_dst = removed.select(
            F.col("lemma_key").alias("dst"), F.col("h").alias("h_dst")
        )
        adj = (
            cur.join(r_src, "src").join(r_dst, "dst")
            .select("src", "dst", "h_src", "h_dst")
        )
        losers = (
            adj.filter(F.col("h_src") > F.col("h_dst"))
            .select(F.col("src").alias("lemma_key"))
            .unionByName(
                adj.filter(F.col("h_dst") > F.col("h_src")).select(
                    F.col("dst").alias("lemma_key")
                )
            )
            # equal hashes on distinct keys: defer the lexically larger
            .unionByName(
                adj.filter(
                    (F.col("h_src") == F.col("h_dst")) & (F.col("src") > F.col("dst"))
                ).select(F.col("src").alias("lemma_key"))
            )
            .unionByName(
                adj.filter(
                    (F.col("h_dst") == F.col("h_src")) & (F.col("dst") > F.col("src"))
                ).select(F.col("dst").alias("lemma_key"))
            )
            .distinct()
        )
        batch = removed.select("lemma_key").join(losers, "lemma_key", "left_anti")
        batch = F.broadcast(batch)

        # Self-loops on a batch node must not participate in bypass pairs:
        # in the reference any bypass edge with an endpoint on the removed
        # node is deleted together with the node (relations.py:884-892), so
        # only pred != mid and succ != mid pairs survive. Without this
        # filter a (pred->v, v->v) pair re-adds pred->v each round and v is
        # never consumed (non-convergence).
        b_in = cur.join(
            batch.withColumnRenamed("lemma_key", "dst"), "dst"
        ).filter(F.col("src") != F.col("dst")).select(
            F.col("dst").alias("mid"),
            F.col("src").alias("pred"),
            F.col("label").alias("in_label"),
        )
        b_out = cur.join(
            batch.withColumnRenamed("lemma_key", "src"), "src"
        ).filter(F.col("dst") != F.col("src")).select(
            F.col("src").alias("mid"),
            F.col("dst").alias("succ"),
            F.col("label").alias("out_label"),
            "edge_key",
            "weight",
            "lemmas",
            "deprel",
            "descriptions",
            "clusters",
        )
        bypass = (
            b_in.join(b_out, "mid")
            .filter(F.col("in_label") == F.col("out_label"))
            .select(
                F.col("pred").alias("src"),
                F.col("succ").alias("dst"),
                "edge_key",
                "weight",
                F.col("out_label").alias("label"),
                "lemmas",
                "deprel",
                "descriptions",
                "clusters",
            )
        )
        untouched = (
            cur.join(batch.withColumnRenamed("lemma_key", "src"), "src", "left_anti")
            .join(batch.withColumnRenamed("lemma_key", "dst"), "dst", "left_anti")
        )
        return (
            combine_edges(untouched.select(bypass.columns).unionByName(bypass))
            .join(k_src.withColumn("src_kept", F.lit(True)), "src", "left")
            .join(k_dst.withColumn("dst_kept", F.lit(True)), "dst", "left")
            .withColumn("src_kept", F.coalesce(src_kept, F.lit(False)))
            .withColumn("dst_kept", F.coalesce(dst_kept, F.lit(False)))
        )

    rounds = 0
    truncated = False
    # One round per localCheckpoint. Chaining several rounds lazily per
    # checkpoint (one job barrier per group) was measured and rejected: a
    # round's plan references the previous round's subtree ~6× and only
    # the exchanges are reused, so the post-shuffle stages re-execute per
    # consumer (the 5 bypass pytest cases 159s sequential vs >430s paired;
    # 1M-node A/B in BENCH/bypass_pair_ab.json). The barrier saving is
    # taken inside _reach instead (two BFS levels per checkpoint).
    #
    # in-play row count carried across checkpoints: observed for free on
    # each checkpoint (r5 next-round item 2 — every in-play row touches
    # a removed node and vice versa, so in_play == 0 ⟺ removed is empty),
    # replacing the per-round removed.isEmpty() job. None = not yet known
    # (first iteration probes once).
    in_play_known: Optional[int] = None
    from pyspark.sql import Observation

    while rounds < max_rounds:
        if in_play_known == 0:
            break
        if in_play_known is None:
            removed_probe = (
                cur_edges.select(F.col("src").alias("lemma_key"))
                .unionByName(cur_edges.select(F.col("dst").alias("lemma_key")))
                .distinct()
                .join(keep_df, "lemma_key", "left_anti")
            )
            if removed_probe.isEmpty():
                break
        rounds += 1
        obs = Observation(f"bypass_r{rounds}")
        merged = one_round(cur_edges).observe(
            obs,
            F.sum((~(src_kept & dst_kept)).cast("long")).alias("in_play"),
        ).localCheckpoint(eager=True)
        done_parts.append(
            merged.filter(src_kept & dst_kept).select(edge_cols)
        )
        cur_edges = merged.filter(~(src_kept & dst_kept)).select(edge_cols)
        in_play_known = int(obs.get["in_play"] or 0)

    if in_play_known != 0 and rounds >= max_rounds:
        # max_rounds exhausted: never return edges referencing nodes absent
        # from new_nodes — drop any leftovers loudly instead of dangling.
        leftover = (
            in_play_known
            if in_play_known is not None
            else (0 if cur_edges.isEmpty() else 1)
        )
        if leftover:
            import logging

            logging.getLogger(__name__).warning(
                "bypass_and_drop: max_rounds=%d exhausted; dropping edges "
                "still touching non-kept nodes without bypassing them",
                max_rounds,
            )
            truncated = True
        cur_edges = cur_edges.limit(0)

    if stats is not None:
        stats["rounds"] = rounds
        stats["truncated"] = truncated
    new_nodes = nodes.join(keep_df, "lemma_key", "left_semi")
    return new_nodes, finalize(done_parts + [cur_edges])


def filter_nodes(
    nodes: DataFrame,
    edges: DataFrame,
    entities_limit: Optional[int],
) -> Tuple[DataFrame, DataFrame]:
    """The reference's filter_nodes: keep the refined top-K, bypass the rest."""
    if entities_limit is None:
        return nodes, edges
    keep = find_nodes_to_keep(nodes, edges, entities_limit)
    return bypass_and_drop(nodes, edges, keep)
