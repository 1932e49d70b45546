"""Measure the DISTRIBUTED merge-fixpoint branch at realistic scale
(VERDICT r3 item 5): a synthetic ~1M-node / ~3M-edge aggregated graph with
planted merge groups, run through merge_fixpoint(local_threshold=0).

Graph shape: n_groups disjoint 2-candidate merge groups (every 4th a chain
group that only becomes mergeable in round 2 — same construction as the
confluent fixture corpus, corpus.merge_fixture_*), plus a large inert
remainder (noise nodes + noise edges with per-edge-unique keys and empty
clusters) standing in for the non-merging bulk a real web graph is made
of. Expected merges are closed-form (simple groups 1, chains 2), so the
run double-checks its own correctness:
final_nodes == initial_nodes - n_simple - 2*n_chain.

Records total wall and rounds, and optionally the durable-checkpoint
variant (--ckpt DIR). Results go to SCALE.md §8.

Run: python tools/measure_merge_scale.py [n_groups] [n_noise_edges] [--ckpt DIR]
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_groups = int(args[0]) if args else 250_000
    n_noise_edges = int(args[1]) if len(args) > 1 else 2_400_000
    ckpt_dir = None
    if "--ckpt" in sys.argv:
        ckpt_dir = sys.argv[sys.argv.index("--ckpt") + 1]

    from pyspark.sql import functions as F

    from openie_spark.merge import MergeConfig, merge_fixpoint
    from openie_spark.session import build_session

    spark = build_session(app_name="merge-scale")
    spark.sparkContext.setLogLevel("ERROR")

    g = spark.range(n_groups).select(F.col("id").alias("g"))
    is_chain = (F.col("g") % 4) == 3

    def node_rows(prefix: str, only_chain: bool = False):
        base = g.filter(is_chain) if only_chain else g
        return base.select(
            F.concat(F.lit(prefix), F.col("g")).alias("lemma_key"),
            F.lit(1).cast("long").alias("weight"),
            F.concat(F.lit(prefix), F.col("g")).alias("label"),
            F.array(F.concat(F.lit("sent_"), F.lit(prefix), F.col("g"))).alias(
                "descriptions"
            ),
            F.array(F.lit(0)).alias("clusters"),
            F.array_repeat(F.lit(0.0).cast("float"), 8).alias("vector"),
        )

    nodes = (
        node_rows("a").unionByName(node_rows("b")).unionByName(node_rows("c"))
        .unionByName(node_rows("x", True)).unionByName(node_rows("y", True))
    )
    n_noise_nodes = 200_000
    noise_nodes = spark.range(n_noise_nodes).select(
        F.concat(F.lit("z"), F.col("id")).alias("lemma_key"),
        F.lit(1).cast("long").alias("weight"),
        F.concat(F.lit("z"), F.col("id")).alias("label"),
        F.array(F.concat(F.lit("sent_z"), F.col("id"))).alias("descriptions"),
        F.array().cast("array<int>").alias("clusters"),
        F.array_repeat(F.lit(0.0).cast("float"), 8).alias("vector"),
    )
    nodes = nodes.unionByName(noise_nodes).repartition(64).localCheckpoint(eager=True)

    def edge_rows(sp: str, dp: str, verb: str, only_chain: bool = False):
        base = g.filter(is_chain) if only_chain else g
        label = F.concat(F.lit(verb), F.col("g"))
        return base.select(
            F.concat(F.lit(sp), F.col("g")).alias("src"),
            F.concat(F.lit(dp), F.col("g")).alias("dst"),
            F.concat(label, F.lit(" + obj")).alias("edge_key"),
            F.lit(1).cast("long").alias("weight"),
            label.alias("label"),
            label.alias("lemmas"),
            F.lit("obj").alias("deprel"),
            F.array().cast("array<string>").alias("descriptions"),
            F.array(F.lit(0)).alias("clusters"),
        )

    group_edges = (
        edge_rows("a", "b", "v").unionByName(edge_rows("a", "c", "v"))
        .unionByName(edge_rows("c", "x", "w", True))
        .unionByName(edge_rows("b", "y", "w", True))
    )
    noise_edges = spark.range(n_noise_edges).select(
        F.concat(F.lit("z"), (F.pow(F.rand(1), 2.0) * n_noise_nodes).cast("long")).alias("src"),
        F.concat(F.lit("z"), (F.pow(F.rand(2), 2.0) * n_noise_nodes).cast("long")).alias("dst"),
        F.concat(F.lit("r"), F.col("id"), F.lit(" + obj")).alias("edge_key"),
        F.lit(1).cast("long").alias("weight"),
        F.concat(F.lit("r"), F.col("id")).alias("label"),
        F.concat(F.lit("r"), F.col("id")).alias("lemmas"),
        F.lit("obj").alias("deprel"),
        F.array().cast("array<string>").alias("descriptions"),
        F.array().cast("array<int>").alias("clusters"),
    ).filter(F.col("src") != F.col("dst"))
    edges = (
        group_edges.unionByName(noise_edges).repartition(64).localCheckpoint(eager=True)
    )

    n_nodes, n_edges = nodes.count(), edges.count()
    n_chain = sum(1 for gg in range(n_groups) if gg % 4 == 3)
    n_simple = n_groups - n_chain
    expected_final = n_nodes - n_simple - 2 * n_chain
    print(f"graph built: {n_nodes} nodes, {n_edges} edges "
          f"({n_simple} simple + {n_chain} chain groups)", file=sys.stderr)

    cfg = MergeConfig(dim=8, checkpoint_dir=ckpt_dir)
    # optional CPU accounting over the measured span: process-TREE jiffies
    # (JVM + Python workers; immune to unrelated VM activity) — lets the
    # N-vs-4N harness separate engine parallel overhead (extra jiffies per
    # merge at higher cores) from host scheduling/latency (same jiffies,
    # longer wall)
    jiffies = None
    if "--jiffies" in sys.argv:
        from bench_scaling import _tree_jiffies

        j0 = _tree_jiffies()
    t0 = time.monotonic()
    m_nodes, m_edges, rounds = merge_fixpoint(nodes, edges, cfg, local_threshold=0)
    n_final = m_nodes.count()
    n_final_edges = m_edges.count()
    wall = time.monotonic() - t0
    if "--jiffies" in sys.argv:
        jiffies = _tree_jiffies() - j0

    ok = n_final == expected_final
    out = {
        **({"fixpoint_jiffies": jiffies} if jiffies is not None else {}),
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "n_groups": n_groups,
        "rounds": rounds,
        "wall_s": round(wall, 1),
        "final_nodes": n_final,
        "expected_final_nodes": expected_final,
        "merges_correct": ok,
        "final_edges": n_final_edges,
        "checkpoint": "parquet" if ckpt_dir else "localCheckpoint",
    }
    print(json.dumps(out))
    spark.stop()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
