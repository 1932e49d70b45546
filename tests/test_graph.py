"""Graph aggregation + canonicalization + top-K tests. The ones marked
``needs_reference`` compare against the reference's RelGraph executed live
(real networkx); the others pin our own paths against each other
(distributed vs driver-local, salted vs one salt, pre-filter vs fallback).
Fixtures follow FIXTURES.md §6."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from openie_spark.graph import aggregate_edges, aggregate_nodes, with_degrees
from openie_spark.merge import MergeConfig, merge_fixpoint
from openie_spark.topk import filter_nodes, find_nodes_to_keep

from .reference_oracle import (
    build_reference_graph,
    graph_snapshot,
    make_reltuple,
    reference_available,
)

needs_reference = pytest.mark.skipif(
    not reference_available(), reason="reference not present"
)

TRIPLE_COLS = (
    "url string, sent_id int, sent_text string, left_arg string, "
    "left_arg_lemmas string, relation string, relation_lemmas string, "
    "right_arg string, right_arg_lemmas string, right_deprel string, "
    "left_vec array<float>, right_vec array<float>, cluster int"
)

DIM = 8
V_BASE = np.ones(DIM) / np.sqrt(DIM)
V_NEAR = (V_BASE + 0.05 * np.eye(DIM)[0]) / np.linalg.norm(V_BASE + 0.05 * np.eye(DIM)[0])
V_FAR = np.eye(DIM)[1]  # cosine vs V_BASE ≈ 0.35 dist > 0.3
V_ZERO = np.zeros(DIM)


def triples_df_from(spark, rows):
    """rows: (url, sent_id, sent_text, l, rel, r, deprel, lv, rv, cluster)"""
    data = [
        (
            u, sid, st, l, l, rel, rel, r, r, dep,
            [float(x) for x in lv], [float(x) for x in rv], c,
        )
        for (u, sid, st, l, rel, r, dep, lv, rv, c) in rows
    ]
    return spark.createDataFrame(data, TRIPLE_COLS)


def our_snapshot(nodes_df, edges_df):
    nodes = {}
    for r in nodes_df.collect():
        nodes[r["lemma_key"]] = {
            "label_parts": r["label"].split(" | "),
            "weight": r["weight"],
            "descriptions": set(r["descriptions"]),
            "clusters": set(r["clusters"]),
        }
    edges = {}
    for r in edges_df.collect():
        edges[(r["src"], r["dst"], r["edge_key"])] = {
            "label_parts": set(r["label"].split(" | ")),
            "weight": r["weight"],
            "descriptions": set(r["descriptions"]),
            "clusters": set(r["clusters"]),
        }
    return nodes, edges


def ref_snapshot_from(rows, merge=False, entities_limit=None):
    """Build + optionally canonicalize the reference graph from the same rows."""
    by_sent = {}
    for (u, sid, st, l, rel, r, dep, lv, rv, c) in rows:
        by_sent.setdefault((u, sid, st, c), []).append(
            make_reltuple(l, rel, r, right_deprel=dep, left_vec=lv, right_vec=rv, dim=DIM)
        )
    sentences = [
        (st, c, tuples) for (u, sid, st, c), tuples in sorted(by_sent.items())
    ]
    g = build_reference_graph(sentences)
    if merge:
        g.merge_relations()
    if entities_limit is not None:
        g.filter_nodes(entities_limit)
    return graph_snapshot(g)


# ---- fixtures ---------------------------------------------------------------

MERGE_POSITIVE = [
    # government --signed--> {contract(w2, near base), agreement(near), moon(far)}
    ("u1", 0, "s1", "government", "signed", "contract", "obj", V_BASE, V_BASE, 0),
    ("u1", 1, "s2", "government", "signed", "contract", "obj", V_BASE, V_BASE, 0),
    ("u2", 0, "s3", "government", "signed", "agreement", "obj", V_BASE, V_NEAR, 0),
    ("u3", 0, "s4", "government", "signed", "moon", "obj", V_BASE, V_FAR, 0),
]

EDGE_MERGE = [
    ("u1", 0, "s1", "government", "signed", "contract", "obj", V_ZERO, V_ZERO, 0),
    ("u2", 0, "s2", "government", "approved", "contract", "obj", V_ZERO, V_ZERO, 0),
]

CLUSTER_GATE = [
    ("u1", 0, "s1", "government", "signed", "contract", "obj", V_BASE, V_BASE, 0),
    ("u2", 0, "s2", "government", "signed", "agreement", "obj", V_BASE, V_BASE, 1),
]


def _agg(spark, rows, n_salts=8):
    tdf = triples_df_from(spark, rows)
    return aggregate_nodes(tdf, n_salts=n_salts), aggregate_edges(tdf)


@needs_reference
def test_aggregation_matches_reference(spark):
    nodes, edges = _agg(spark, MERGE_POSITIVE)
    ref_nodes, ref_edges = ref_snapshot_from(MERGE_POSITIVE)
    got_nodes, got_edges = our_snapshot(nodes, edges)
    assert {k: v["weight"] for k, v in got_nodes.items()} == {
        k: v["weight"] for k, v in ref_nodes.items()
    }
    assert {k: v["weight"] for k, v in got_edges.items()} == {
        k: v["weight"] for k, v in ref_edges.items()
    }
    for k in ref_nodes:
        assert got_nodes[k]["descriptions"] == ref_nodes[k]["descriptions"]
        assert got_nodes[k]["clusters"] == ref_nodes[k]["clusters"]


def test_node_salt_count_does_not_change_graph(spark):
    n1, e1 = _agg(spark, MERGE_POSITIVE, n_salts=8)
    n2, e2 = _agg(spark, MERGE_POSITIVE, n_salts=1)
    s1, t1 = our_snapshot(n1, e1)
    s2, t2 = our_snapshot(n2, e2)
    assert s1 == s2
    assert t1 == t2


def test_degrees(spark):
    nodes, edges = _agg(spark, MERGE_POSITIVE)
    nd = with_degrees(nodes, edges)
    rows = {r["lemma_key"]: r for r in nd.collect()}
    assert rows["government"]["degree_out"] == 3
    assert rows["government"]["degree_in"] == 0
    assert rows["contract"]["degree_in"] == 1
    assert rows["contract"]["in_weight"] == 2


@needs_reference
def test_merge_positive_matches_reference(spark):
    nodes, edges = _agg(spark, MERGE_POSITIVE)
    m_nodes, m_edges, _ = merge_fixpoint(nodes, edges, MergeConfig())
    ref_nodes, ref_edges = ref_snapshot_from(MERGE_POSITIVE, merge=True)
    got_nodes, got_edges = our_snapshot(m_nodes, m_edges)
    # agreement absorbed into contract; moon survives
    assert set(got_nodes) == set(ref_nodes)
    assert "agreement" not in got_nodes
    assert set(got_nodes["contract"]["label_parts"]) == set(
        ref_nodes["contract"]["label_parts"]
    )
    assert got_nodes["contract"]["weight"] == ref_nodes["contract"]["weight"]
    assert set(got_edges) == set(ref_edges)
    # DELTA (documented, SURVEY.md §2.8 G3): government→agreement was an
    # *in-edge* of the absorbed node; the reference silently drops it (dead
    # elif, relations.py:732) leaving weight 2 — we re-point it, weight 3.
    key = ("government", "contract", "signed + obj")
    assert ref_edges[key]["weight"] == 2
    assert got_edges[key]["weight"] == 3


@needs_reference
def test_merge_positive_strict_parity(spark):
    """strict_parity=True reproduces the reference's in-edge drop exactly."""
    nodes, edges = _agg(spark, MERGE_POSITIVE)
    m_nodes, m_edges, _ = merge_fixpoint(
        nodes, edges, MergeConfig(strict_parity=True)
    )
    ref_nodes, ref_edges = ref_snapshot_from(MERGE_POSITIVE, merge=True)
    got_nodes, got_edges = our_snapshot(m_nodes, m_edges)
    assert set(got_nodes) == set(ref_nodes)
    assert set(got_edges) == set(ref_edges)
    for k in ref_edges:
        assert got_edges[k]["weight"] == ref_edges[k]["weight"], k
        assert got_edges[k]["descriptions"] == ref_edges[k]["descriptions"], k


def _norm_key(key):
    """The reference's merged key joins a Python *set* — part order is
    process-nondeterministic (hash randomization). Normalize each ' + '
    segment's ' | ' parts to sorted order before comparing."""
    if " + " not in key:
        return key
    head, _, tail = key.rpartition(" + ")
    return " | ".join(sorted(head.split(" | "))) + " + " + " | ".join(
        sorted(tail.split(" | "))
    )


@needs_reference
def test_edge_merge_matches_reference(spark):
    nodes, edges = _agg(spark, EDGE_MERGE)
    m_nodes, m_edges, _ = merge_fixpoint(nodes, edges, MergeConfig())
    ref_nodes, ref_edges = ref_snapshot_from(EDGE_MERGE, merge=True)
    got_nodes, got_edges = our_snapshot(m_nodes, m_edges)
    assert {(s, t, _norm_key(k)) for s, t, k in got_edges} == {
        (s, t, _norm_key(k)) for s, t, k in ref_edges
    }
    ((key, attrs),) = got_edges.items()
    ((rkey, rattrs),) = ref_edges.items()
    assert attrs["label_parts"] == rattrs["label_parts"] == {"signed", "approved"}
    assert attrs["weight"] == rattrs["weight"] == 2


@needs_reference
def test_cluster_gate_parity(spark):
    """The reference's cluster gate tests ANCHOR ∩ candidate — and the anchor
    always shares the cluster of the sentence that created the edge, so two
    same-vector candidates in different clusters still merge through a
    two-cluster anchor (verified against the live reference here). Parity,
    not blocking, is the correct assertion."""
    nodes, edges = _agg(spark, CLUSTER_GATE)
    m_nodes, m_edges, _ = merge_fixpoint(nodes, edges, MergeConfig())
    ref_nodes, _ = ref_snapshot_from(CLUSTER_GATE, merge=True)
    got_nodes, _ = our_snapshot(m_nodes, m_edges)
    assert set(got_nodes) == set(ref_nodes)
    assert "agreement" not in ref_nodes  # the reference merges it too


def test_topk_chain(spark):
    # chain a->b->c->d weights via occurrence counts 2,3,2,1 (FIXTURES §6)
    rows = []
    sid = 0
    def add(l, r, times):
        nonlocal sid
        for _ in range(times):
            rows.append((f"u{sid}", 0, f"s{sid}", l, "rel", r, "obj", V_ZERO, V_ZERO, 0))
            sid += 1
    add("a", "b", 2)   # a:2, b:2
    add("b", "c", 1)   # b:3, c:1
    add("c", "d", 1)   # c:2, d:1
    nodes, edges = _agg(spark, rows)
    keep = find_nodes_to_keep(nodes, edges, 2)
    assert keep == {"b", "c"}
    f_nodes, f_edges = filter_nodes(nodes, edges, 2)
    kept = {r["lemma_key"] for r in f_nodes.collect()}
    assert kept == {"b", "c"}
    # surviving edges only between kept nodes
    for r in f_edges.collect():
        assert r["src"] in kept and r["dst"] in kept


def test_bypass_label_chain(spark):
    # a -r-> x -r-> b with x removed: bypass creates a -r-> b
    rows = [
        ("u1", 0, "s1", "a", "rel", "x", "obj", V_ZERO, V_ZERO, 0),
        ("u2", 0, "s2", "x", "rel", "b", "obj", V_ZERO, V_ZERO, 0),
        ("u3", 0, "s3", "a", "rel2", "b", "obj", V_ZERO, V_ZERO, 0),
        ("u4", 0, "s4", "a", "rel2", "b", "obj", V_ZERO, V_ZERO, 0),
    ]
    nodes, edges = _agg(spark, rows)
    from openie_spark.topk import bypass_and_drop

    f_nodes, f_edges = bypass_and_drop(nodes, edges, {"a", "b"})
    got = {(r["src"], r["dst"], r["edge_key"]): r["weight"] for r in f_edges.collect()}
    assert ("a", "b", "rel + obj") in got
    assert got[("a", "b", "rel + obj")] == 1
    assert got[("a", "b", "rel2 + obj")] == 2


def test_bypass_self_loop_on_removed_node(spark):
    """A removed node with a matching-label self-loop must still converge in
    one batch round with weight 1 on the kept->kept bypass: in the reference,
    bypass edges with an endpoint on the removed node are deleted together
    with the node (relations.py:884-892), so (pred->v, v->v) pairs never
    survive. Regression test for the non-convergence found in round-2 ADVICE
    (bypass weight inflated ~rounds-fold, max_rounds burned, run truncated)."""
    from openie_spark.topk import bypass_and_drop

    rows = [
        ("u1", 0, "s1", "a", "rel", "x", "obj", V_ZERO, V_ZERO, 0),
        ("u2", 0, "s2", "x", "rel", "x", "obj", V_ZERO, V_ZERO, 0),  # self-loop
        ("u3", 0, "s3", "x", "rel", "b", "obj", V_ZERO, V_ZERO, 0),
    ]
    nodes, edges = _agg(spark, rows)
    stats: dict = {}
    f_nodes, f_edges = bypass_and_drop(nodes, edges, {"a", "b"}, stats=stats)
    got = {(r["src"], r["dst"], r["edge_key"]): r["weight"] for r in f_edges.collect()}
    assert got == {("a", "b", "rel + obj"): 1}
    assert not stats["truncated"]
    assert stats["rounds"] <= 2, stats
    # kept-node self-loops created by bypass (pred == succ) must survive:
    # y -rel-> x -rel-> y with x removed yields the self-loop y->y in the
    # reference (both endpoints kept).
    rows2 = [
        ("v1", 0, "t1", "y", "rel", "x", "obj", V_ZERO, V_ZERO, 0),
        ("v2", 0, "t2", "x", "rel", "y", "obj", V_ZERO, V_ZERO, 0),
        ("v3", 0, "t3", "y", "rel", "z", "obj", V_ZERO, V_ZERO, 0),
    ]
    nodes2, edges2 = _agg(spark, rows2)
    f_nodes2, f_edges2 = bypass_and_drop(nodes2, edges2, {"y", "z"})
    got2 = {(r["src"], r["dst"], r["edge_key"]): r["weight"] for r in f_edges2.collect()}
    assert got2 == {
        ("y", "y", "rel + obj"): 1,
        ("y", "z", "rel + obj"): 1,
    }


def test_bypass_long_chain_round_bound(spark):
    """Large removed set: a label-homogeneous chain of 60 removed nodes
    between two kept endpoints must fully collapse to one kept→kept bypass
    edge, in ≈O(log n) rounds (hash-minima batches), well under max_rounds."""
    from openie_spark.topk import bypass_and_drop

    n = 60
    names = [f"n{i:03d}" for i in range(n + 2)]
    rows = [
        (f"u{i}", 0, f"s{i}", names[i], "rel", names[i + 1], "obj", V_ZERO, V_ZERO, 0)
        for i in range(n + 1)
    ]
    # plus a removed-removed edge with a label that can never reach kept
    # endpoints (no kept-incident 'dead' edge exists) — pre-filter fodder
    rows.append(("ux", 0, "sx", names[5], "dead", names[9], "obj", V_ZERO, V_ZERO, 0))
    nodes, edges = _agg(spark, rows)
    keep = {names[0], names[-1]}
    stats: dict = {}
    f_nodes, f_edges = bypass_and_drop(nodes, edges, keep, stats=stats)
    got = {(r["src"], r["dst"], r["edge_key"]): r["weight"] for r in f_edges.collect()}
    assert got == {(names[0], names[-1], "rel + obj"): 1}
    assert not stats["truncated"]
    assert stats["rounds"] <= 25, stats  # measured bound: ~O(log n) batches
    kept = {r["lemma_key"] for r in f_nodes.collect()}
    assert kept == keep


def test_bypass_reach_budget_boundary_converges(spark):
    """Pins the r7 off-by-one: a removed chain whose reach BFS empties
    exactly at the REACH_ITERS level budget must still CONVERGE (use the
    (node,label) reach filter, stats['reach_filter'] True) — the paired
    2-levels-per-checkpoint expansion needs iters//2 + 1 pairs to certify
    that, not ceil(iters/2). Regression: the off-by-one silently fell
    back to the label filter, and at 1M nodes the rounds ground the full
    removed set (~15%/round, measured 10×+ the wall)."""
    from openie_spark.topk import REACH_ITERS, bypass_and_drop

    n = REACH_ITERS  # forward reach needs exactly `iters` expansions
    names = [f"b{i:02d}" for i in range(n + 2)]
    rows = [
        (f"u{i}", 0, f"s{i}", names[i], "rel", names[i + 1], "obj", V_ZERO, V_ZERO, 0)
        for i in range(n + 1)
    ]
    nodes, edges = _agg(spark, rows)
    keep = {names[0], names[-1]}
    stats: dict = {}
    f_nodes, f_edges = bypass_and_drop(nodes, edges, keep, stats=stats)
    got = {(r["src"], r["dst"], r["edge_key"]): r["weight"] for r in f_edges.collect()}
    assert got == {(names[0], names[-1], "rel + obj"): 1}
    assert stats["reach_filter"] is True, stats
    assert not stats["truncated"]


def test_bypass_reach_filter_equals_fallback(spark, monkeypatch):
    """The (node,label) reachability pre-filter and the coarser label-level
    fallback must produce identical bypass output on a graph mixing chains,
    self-loops, diamonds, and dead-end removed branches."""
    import openie_spark.topk as topk_mod
    from openie_spark.topk import bypass_and_drop

    rows = [
        # kept a→…→b chain of label rel through removed x1,x2
        ("u1", 0, "s1", "a", "rel", "x1", "obj", V_ZERO, V_ZERO, 0),
        ("u2", 0, "s2", "x1", "rel", "x2", "obj", V_ZERO, V_ZERO, 0),
        ("u3", 0, "s3", "x2", "rel", "b", "obj", V_ZERO, V_ZERO, 0),
        # diamond: a→y1→b and a→y2→b label rel2
        ("u4", 0, "s4", "a", "rel2", "y1", "obj", V_ZERO, V_ZERO, 0),
        ("u5", 0, "s5", "a", "rel2", "y2", "obj", V_ZERO, V_ZERO, 0),
        ("u6", 0, "s6", "y1", "rel2", "b", "obj", V_ZERO, V_ZERO, 0),
        ("u7", 0, "s7", "y2", "rel2", "b", "obj", V_ZERO, V_ZERO, 0),
        # dead-end removed branch (label rel, never returns to kept)
        ("u8", 0, "s8", "x1", "rel", "z1", "obj", V_ZERO, V_ZERO, 0),
        ("u9", 0, "s9", "z1", "rel", "z2", "obj", V_ZERO, V_ZERO, 0),
        # removed self-loop on x2
        ("ua", 0, "sa", "x2", "rel", "x2", "obj", V_ZERO, V_ZERO, 0),
        # label break: x1→x2 with rel3 (chain can't fuse across labels)
        ("ub", 0, "sb", "x1", "rel3", "x2", "obj", V_ZERO, V_ZERO, 0),
    ]
    nodes, edges = _agg(spark, rows)
    keep = {"a", "b"}

    def snap(n, e):
        return (
            {r["lemma_key"] for r in n.collect()},
            {
                (r["src"], r["dst"], r["edge_key"]): r["weight"]
                for r in e.collect()
            },
        )

    sr = snap(*bypass_and_drop(nodes, edges, keep))
    monkeypatch.setattr(topk_mod, "REACH_ITERS", 0)  # force fallback path
    sf = snap(*bypass_and_drop(nodes, edges, keep))
    assert sr == sf
    assert ("a", "b", "rel + obj") in sr[1]


def test_bypass_max_rounds_truncation_never_dangles(spark):
    """If max_rounds is exhausted, leftover edges touching removed nodes are
    dropped (with stats['truncated']=True) — never returned dangling."""
    from openie_spark.topk import bypass_and_drop

    names = [f"m{i}" for i in range(8)]
    rows = [
        (f"u{i}", 0, f"s{i}", names[i], "rel", names[i + 1], "obj", V_ZERO, V_ZERO, 0)
        for i in range(7)
    ]
    nodes, edges = _agg(spark, rows)
    keep = {names[0], names[-1]}
    stats: dict = {}
    f_nodes, f_edges = bypass_and_drop(nodes, edges, keep, max_rounds=1, stats=stats)
    assert stats["truncated"]
    kept = {r["lemma_key"] for r in f_nodes.collect()}
    for r in f_edges.collect():
        assert r["src"] in kept and r["dst"] in kept


def _chain_corpus_graph(spark):
    """Aggregated graph of the confluent merge-fixture corpus (the
    kg_merge_fixpoint oracle's input): its chain groups only become
    discoverable after the first round's merges."""
    from openie_spark.corpus import merge_fixture_pages_df
    from openie_spark.extract import extract_triples_df, ok_triples
    from openie_spark.parse import parse_pages
    from openie_spark.textclean import clean_pages

    triples = ok_triples(
        extract_triples_df(
            parse_pages(clean_pages(merge_fixture_pages_df(spark, 24), lang="ru")),
            frozenset(),
            with_vectors=True,
        )
    ).withColumn("cluster", F.lit(0))
    return aggregate_nodes(triples, dim=64), aggregate_edges(triples)


def test_distributed_fixpoint_equals_local(spark):
    """The DataFrame fixpoint (scale path) and the driver-local fast path
    must produce identical graphs on the same input — including the chain
    corpus, whose round-2 groups the distributed rounds must find."""

    def both_paths(nodes, edges, cfg):
        ln, le, _ = merge_fixpoint(nodes, edges, cfg)  # local path
        dn, de, rounds = merge_fixpoint(
            nodes, edges, cfg, local_threshold=0
        )  # distributed path
        assert our_snapshot(ln, le) == our_snapshot(dn, de)
        return rounds

    for rows in (MERGE_POSITIVE, EDGE_MERGE, CLUSTER_GATE):
        both_paths(*_agg(spark, rows), MergeConfig())
    nodes, edges = _chain_corpus_graph(spark)
    rounds = both_paths(nodes, edges, MergeConfig(strict_parity=True))
    assert rounds >= 2  # the chain groups force a second round


def test_distributed_fixpoint_reliable_checkpoint(spark, tmp_path):
    """With MergeConfig.checkpoint_dir set, fixpoint rounds materialize to
    durable parquet stage tables (cluster fault tolerance) instead of
    executor-block localCheckpoint, the result is identical, the converged
    tables land under the PER-RUN dir's final/ (so concurrent runs sharing
    a work_dir can't overwrite each other's finals while they're still
    being lazily read), and the per-run round stage tables are cleaned up.
    Older runs' finals are GC'd only by the explicit gc_merge_runs step."""
    import os

    from openie_spark.merge import gc_merge_runs

    ckpt = str(tmp_path / "merge_ckpt")
    keep_alive = []
    for rows in (MERGE_POSITIVE, EDGE_MERGE):
        nodes, edges = _agg(spark, rows)
        dn, de, _ = merge_fixpoint(
            nodes, edges, MergeConfig(), local_threshold=0
        )
        cn, ce, _ = merge_fixpoint(
            nodes, edges, MergeConfig(checkpoint_dir=ckpt), local_threshold=0
        )
        assert our_snapshot(cn, ce) == our_snapshot(dn, de)
        # returned DataFrames stay readable after stage-dir cleanup
        assert cn.count() > 0 and ce.count() > 0
        keep_alive.append((cn, ce))

    run_dirs = sorted(os.listdir(f"{ckpt}/merge_rounds"))
    assert len(run_dirs) == 2, run_dirs  # one unique dir per run, both kept
    for rd in run_dirs:
        entries = sorted(os.listdir(f"{ckpt}/merge_rounds/{rd}"))
        assert entries == ["final"], f"stage tables not cleaned: {entries}"
        assert sorted(os.listdir(f"{ckpt}/merge_rounds/{rd}/final")) == [
            "edges",
            "nodes",
        ]
    # the FIRST run's finals survived the second run — the race the shared
    # merge_final/ path reintroduced
    first_n, first_e = keep_alive[0]
    assert first_n.count() > 0 and first_e.count() > 0

    removed = gc_merge_runs(spark, ckpt, keep=1)
    assert removed == 1
    assert len(os.listdir(f"{ckpt}/merge_rounds")) == 1


def _naive_find_nodes_to_keep(node_weights, edge_list, n_keep, buffer_factor=3):
    """Straightforward restart-scan replica of the reference's swap
    refinement (relations.py:828-860 semantics as documented in
    topk.find_nodes_to_keep): after every discard+swap-in, re-scan the kept
    set in sorted order from the top and discard the first eligible node.
    Pure Python over the same derived inputs the heap version collects —
    the A/B target for the lazy-revalidation heap."""
    from openie_spark.topk import IS_A, RELATES_TO

    n_buffer = n_keep * buffer_factor + 64
    # weight desc, lemma desc — mirrors orderBy(desc(weight), desc(key))
    all_nodes = sorted(
        node_weights.keys(), key=lambda k: (node_weights[k], k), reverse=True
    )[:n_buffer]
    cand_set = set(all_nodes)
    out_edges = {}
    for s, d, lbl in edge_list:
        if s in cand_set and d in cand_set:
            out_edges.setdefault(s, []).append((d, lbl))
    nonstructural_in = {
        d for s, d, lbl in edge_list
        if lbl not in (IS_A, RELATES_TO) and d in cand_set
    }

    keep = min(n_keep, len(all_nodes))
    nodes_to_leave = set(all_nodes[:keep])
    next_idx = keep + 1  # the reference's +1 skip quirk

    def eligible(n):
        if n in nonstructural_in:
            return False
        return all(
            lbl in (IS_A, RELATES_TO)
            for tgt, lbl in out_edges.get(n, [])
            if tgt in nodes_to_leave
        )

    while True:
        for n in sorted(nodes_to_leave):
            if eligible(n):
                nodes_to_leave.discard(n)
                if next_idx < len(all_nodes):
                    nodes_to_leave.add(all_nodes[next_idx])
                    next_idx += 1
                break
        else:
            return nodes_to_leave


def test_find_nodes_to_keep_heap_equals_restart_scan(spark):
    """Randomized A/B property test: the lazy-revalidation heap in
    find_nodes_to_keep must produce the IDENTICAL kept set as the naive
    sorted-restart-scan on random graphs with varied labels, weights
    (heavy ties), limits, and structural-label densities — including
    high-structural graphs that force long swap cascades and the
    in-neighbor re-push path."""
    import random

    from openie_spark.topk import IS_A, RELATES_TO

    rnd = random.Random(20260817)
    labels_pool = [IS_A, RELATES_TO, "rel_a", "rel_b"]
    for case in range(12):
        n = rnd.randint(8, 45)
        structural_bias = rnd.choice([0.3, 0.6, 0.9])
        node_keys = [f"n{i:02d}" for i in range(n)]
        node_weights = {k: rnd.randint(1, 6) for k in node_keys}
        n_edges = rnd.randint(n, n * 3)
        edge_set = set()
        for _ in range(n_edges):
            s, d = rnd.sample(node_keys, 2)
            lbl = (
                rnd.choice([IS_A, RELATES_TO])
                if rnd.random() < structural_bias
                else rnd.choice(labels_pool)
            )
            edge_set.add((s, d, lbl))
        edge_list = sorted(edge_set)
        n_keep = rnd.randint(2, max(3, n // 3))

        nodes_df = spark.createDataFrame(
            [(k, w) for k, w in node_weights.items()], "lemma_key string, weight long"
        )
        edges_df = spark.createDataFrame(
            edge_list, "src string, dst string, label string"
        )
        got = find_nodes_to_keep(nodes_df, edges_df, n_keep)
        want = _naive_find_nodes_to_keep(node_weights, edge_list, n_keep)
        assert got == want, (
            f"case={case} n={n} keep={n_keep} bias={structural_bias}: "
            f"heap^naive={sorted(got ^ want)}"
        )


def test_merge_parallel_edges_prefilter_equals_unfiltered(spark):
    """Randomized A/B: the r4 candidate pre-filter in merge_parallel_edges
    (only pairs with >=2 non-literal cluster-bearing rows and >=2 distinct
    labels take the Python path) must be output-identical to routing EVERY
    (src, dst) pair through the pair-merge — including literal rows,
    empty-cluster rows, duplicate labels, and shared-description
    exclusions."""
    import random

    import pandas as pd

    from openie_spark.merge import (
        _EDGE_SCHEMA,
        IS_A,
        RELATES_TO,
        merge_pair_edge_rows,
        merge_parallel_edges,
    )

    def unfiltered(edges):
        def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = pdf.to_dict("records")
            for r in rows:
                r["changed"] = 0
            rows, _ = merge_pair_edge_rows(rows)
            return pd.DataFrame(rows, columns=[f.name for f in _EDGE_SCHEMA.fields])

        return edges.groupBy("src", "dst").applyInPandas(
            merge_group, schema=_EDGE_SCHEMA
        )

    rnd = random.Random(20260818)
    labels = [IS_A, RELATES_TO, "la", "lb", "lc"]
    for case in range(6):
        n_nodes = rnd.randint(3, 8)
        rows = []
        for i in range(rnd.randint(6, 25)):
            s, d = rnd.sample(range(n_nodes), 2)
            lbl = rnd.choice(labels)
            rows.append(
                (
                    f"n{s}", f"n{d}",
                    f"{lbl} + obj" if lbl not in (IS_A, RELATES_TO) else lbl,
                    rnd.randint(1, 3),
                    lbl, lbl, "obj",
                    # shared descriptions sometimes → exclusion paths fire
                    [f"s{rnd.randint(0, 4)}"],
                    rnd.choice([[], [0], [0, 1], [1]]),
                )
            )
        edges = spark.createDataFrame(
            rows,
            "src string, dst string, edge_key string, weight long, "
            "label string, lemmas string, deprel string, "
            "descriptions array<string>, clusters array<int>",
        )

        def snap(df):
            return sorted(
                (
                    r["src"], r["dst"], r["edge_key"], r["weight"], r["label"],
                    r["lemmas"], r["deprel"], tuple(sorted(r["descriptions"])),
                    tuple(sorted(r["clusters"])),
                )
                for r in df.drop("changed").collect()
            )

        got = snap(merge_parallel_edges(edges))
        want = snap(unfiltered(edges))
        assert got == want, f"case {case}: prefilter changed output"

    # NULL label/lemmas/deprel rows (never produced by the pipeline, but the
    # contract must not depend on that): isin() is NULL-valued on NULL, so an
    # un-coalesced pre-filter would silently drop such pairs from candidacy
    # while merge_pair_edge_rows merges them — both paths must agree, and the
    # merge across (NULL, 'la') must actually happen.
    null_rows = [
        ("n0", "n1", "zz + obj", 2, None, None, None, ["s0"], [0]),
        ("n0", "n1", "la + obj", 1, "la", "la", "obj", ["s1"], [0]),
        ("n2", "n3", "lb + obj", 1, "lb", "lb", "obj", ["s2"], []),
    ]
    edges = spark.createDataFrame(
        null_rows,
        "src string, dst string, edge_key string, weight long, "
        "label string, lemmas string, deprel string, "
        "descriptions array<string>, clusters array<int>",
    )
    got = snap(merge_parallel_edges(edges))
    want = snap(unfiltered(edges))
    assert got == want, "NULL-label case: prefilter changed output"
    merged = [r for r in got if r[0] == "n0" and r[1] == "n1"]
    assert len(merged) == 1, "NULL-label pair must merge to one edge"
    assert merged[0][3] == 3, "merged NULL-label edge must sum weights"


def test_distributed_fixpoint_equals_local_randomized(spark):
    """Randomized A/B: the DISTRIBUTED merge fixpoint (with the r4
    linear-shaped exclusion joins) must converge to the same graph as the
    driver-local fixpoint on random triple sets engineered to fire every
    exclusion family — repeated sentence texts (shared-description
    exclusion), edges between group members (edge exclusion), weight ties,
    multi-group anchors, and >2-candidate groups."""
    import random

    rnd = random.Random(20260819)
    for case in range(4):
        n_args = rnd.randint(4, 9)
        n_anchors = rnd.randint(2, 4)
        rows = []
        sid = 0
        for _ in range(rnd.randint(8, 22)):
            anchor = f"anch{rnd.randrange(n_anchors)}"
            arg = f"arg{rnd.randrange(n_args)}"
            rel = rnd.choice(["made", "took", "saw"])
            # few distinct sentence texts → shared-description exclusions
            text = f"s{rnd.randrange(5)}"
            if rnd.random() < 0.25:
                # edges between args → edge exclusions
                anchor = f"arg{rnd.randrange(n_args)}"
            rows.append(
                (f"u{sid}", 0, text, anchor, rel, arg, "obj", V_ZERO, V_ZERO, 0)
            )
            sid += 1
        nodes, edges = _agg(spark, rows)
        ln, le, _ = merge_fixpoint(nodes, edges, MergeConfig())  # local path
        dn, de, _ = merge_fixpoint(nodes, edges, MergeConfig(), local_threshold=0)
        assert our_snapshot(ln, le) == our_snapshot(dn, de), f"case {case}"


def test_fixpoint_round_partitions_scoped(spark):
    """The data-scaled round-partition policy must (a) not change results,
    (b) restore the session conf after the distributed rounds — even when
    the fixpoint raises — and (c) floor, cap and scale as documented."""
    from openie_spark.merge import suggest_round_partitions

    nodes, edges = _agg(spark, MERGE_POSITIVE)
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    # a session value the policy never picks for this tiny graph (it
    # floors at 8), so a missed restore shows
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        local_n, _, _ = merge_fixpoint(nodes, edges, MergeConfig())
        want = {r["lemma_key"] for r in local_n.select("lemma_key").collect()}

        mn, _, _ = merge_fixpoint(nodes, edges, MergeConfig(), local_threshold=0)
        got = {r["lemma_key"] for r in mn.select("lemma_key").collect()}
        assert got == want
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"

        # restore-on-raise: a bad column upstream fails inside the scope
        with pytest.raises(Exception):
            merge_fixpoint(nodes.drop("weight"), edges, MergeConfig(), local_threshold=0)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "13"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)

    # auto policy floors at 8 and caps at 2x parallelism
    assert suggest_round_partitions(spark, 10) == 8
    two_cores = 2 * spark.sparkContext.defaultParallelism
    assert (
        suggest_round_partitions(spark, 10**12) == two_cores
    )
    assert suggest_round_partitions(spark, 4_000_000) == min(
        16, two_cores
    )
