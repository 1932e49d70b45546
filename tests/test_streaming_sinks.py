"""Streaming lift + sink tests: streaming triples must equal the batch
pipeline's triples on the same pages; sinks round-trip."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from openie_spark.corpus import STOPWORDS_FIXTURE, pages_df
from openie_spark.extract import extract_triples_df, ok_triples
from openie_spark.parse import parse_pages
from openie_spark.textclean import clean_pages


def batch_triples(spark, n_pages, seed):
    pages = pages_df(spark, n_pages, seed=seed, n_sents=4, partitions=2)
    return ok_triples(
        extract_triples_df(
            parse_pages(clean_pages(pages, lang="ru")),
            frozenset(STOPWORDS_FIXTURE),
            with_vectors=False,
        )
    )


def test_streaming_equals_batch(spark, tmp_path):
    from openie_spark.streaming import (
        read_pages_stream,
        start_triples_sink,
        stream_triples,
    )

    src = tmp_path / "pages_src"
    pages = pages_df(spark, 24, seed=9, n_sents=4, partitions=3)
    pages.write.parquet(str(src))

    stream = stream_triples(read_pages_stream(spark, str(src)), lang="ru")
    assert stream.isStreaming
    q = start_triples_sink(
        stream, str(tmp_path / "triples_out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    got = {
        (r["url"], r["sent_id"], r["left_arg"], r["relation"], r["right_arg"])
        for r in spark.read.parquet(str(tmp_path / "triples_out")).collect()
    }
    expected = {
        (r["url"], r["sent_id"], r["left_arg"], r["relation"], r["right_arg"])
        for r in batch_triples(spark, 24, 9).collect()
    }
    assert got == expected


def test_streaming_resume_is_exactly_once(spark, tmp_path):
    """New files after a restart are processed exactly once."""
    from openie_spark.streaming import (
        read_pages_stream,
        start_triples_sink,
        stream_triples,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ck"
    pages_df(spark, 10, seed=3, n_sents=3, partitions=1).write.parquet(str(src))

    q = start_triples_sink(
        stream_triples(read_pages_stream(spark, str(src)), lang="ru"),
        str(out), str(ckpt),
    )
    q.awaitTermination(120)
    n1 = spark.read.parquet(str(out)).count()

    # drop a second batch of genuinely new pages (indices 10..21 — the
    # generator is deterministic per index, so re-generating 0..9 would
    # append the SAME urls as new files, which the stream would correctly
    # process again), then restart the stream from the checkpoint
    first_urls = {r["url"] for r in spark.read.parquet(str(src)).select("url").collect()}
    pages_df(spark, 22, seed=3, n_sents=3, partitions=1).filter(
        ~F.col("url").isin(list(first_urls))
    ).write.mode("append").parquet(str(src))
    q2 = start_triples_sink(
        stream_triples(read_pages_stream(spark, str(src)), lang="ru"),
        str(out), str(ckpt),
    )
    q2.awaitTermination(120)
    n2 = spark.read.parquet(str(out)).count()
    assert n2 >= n1
    # no duplicates: (url, sent_id, triple) unique given unique page urls
    dups = (
        spark.read.parquet(str(out))
        .groupBy("url", "sent_id", "left_arg", "relation", "right_arg")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0


def test_triples_json_sink(spark, tmp_path):
    from openie_spark.sinks import triples_json_df

    t = batch_triples(spark, 10, seed=4)
    rows = triples_json_df(t).collect()
    assert rows
    for r in rows:
        parsed = json.loads(r["triples_json"])
        assert all(len(x) == 3 for x in parsed)


def test_conllu_roundtrip_sink(spark):
    from openie_spark.conllu import parse_conllu
    from openie_spark.sinks import conllu_df

    pages = pages_df(spark, 6, seed=5, n_sents=3, partitions=2)
    parses = parse_pages(clean_pages(pages, lang="ru"))
    out = {r["url"]: r["conllu"] for r in conllu_df(parses).collect()}
    orig = parses.collect()
    assert out
    for url, text in out.items():
        sents = parse_conllu(text)
        o = [p for p in orig if p["url"] == url]
        assert len(sents) == len(o)
        got_forms = [[t[1] for t in toks] for _, toks in sents]
        want_forms = [
            [t["form"] for t in p["tokens"]] for p in sorted(o, key=lambda r: r["sent_id"])
        ]
        assert got_forms == want_forms


def test_graph_tables_and_gexf(spark, tmp_path):
    from openie_spark.graph import aggregate_edges, aggregate_nodes
    from openie_spark.sinks import export_gexf, write_graph_tables

    t = batch_triples(spark, 12, seed=6).withColumn("cluster", F.lit(0))
    nodes = aggregate_nodes(t, dim=0)
    edges = aggregate_edges(t)
    write_graph_tables(nodes, edges, str(tmp_path / "g"), buckets=4)
    n2 = spark.read.parquet(str(tmp_path / "g" / "nodes"))
    assert n2.count() == nodes.count()
    assert "bucket" in n2.columns

    gexf = tmp_path / "graph.gexf"
    export_gexf(nodes, edges, str(gexf))
    content = gexf.read_text()
    assert "gexf" in content and "node_type" in content


def test_stream_dedup_matches_batch_hash_set(spark, tmp_path):
    """Streaming first-seen dedup over a closed file-source input must
    survive exactly one row per content hash — the same hash set batch
    exact_dedup produces — with bounded (watermarked) state."""
    from pyspark.sql import functions as F

    from openie_spark.dataops.dedup import exact_dedup
    from openie_spark.streaming import stream_dedup_docs

    src = tmp_path / "drops"
    src.mkdir()
    rows1 = [(1, "Hello  World"), (2, "other text"), (3, "hello world")]
    rows2 = [(4, "HELLO\tWORLD"), (5, "fresh content"), (6, "other text")]
    for i, rows in enumerate((rows1, rows2)):
        spark.createDataFrame(rows, "doc_id long, text string").withColumn(
            "ingest_ts", F.timestamp_seconds(F.lit(1700000000 + i * 60))
        ).write.parquet(str(src / f"part{i}"))

    stream = (
        spark.readStream.schema("doc_id long, text string, ingest_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    deduped = stream_dedup_docs(stream, watermark="5 minutes")
    out = tmp_path / "out"
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out))
    batch_docs = spark.createDataFrame(
        rows1 + rows2, "doc_id long, text string"
    )
    want_hashes = {
        r["content_hash"] for r in exact_dedup(batch_docs).collect()
    }
    got_hashes = [r["content_hash"] for r in got.collect()]
    assert sorted(got_hashes) == sorted(set(got_hashes)), "duplicate survived"
    assert set(got_hashes) == want_hashes


def _dedup_corpus():
    """Three closed micro-batch drops with exact dups and near-dups both
    within and ACROSS batches; ids increase with arrival order so
    stream-first-seen == batch-min-id."""
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near1 = base.replace("today", "tonight")          # ~J 0.8 vs base
    near2 = base.replace("runs far", "walks far")     # near-dup of base
    uniq = "completely different text about spark structured streaming state"
    uniq2 = "another unrelated document mentioning graphs and parquet files"
    b0 = [(1, base), (2, "  THE quick brown fox jumps over the lazy dog and runs far away today "), (3, uniq)]
    b1 = [(4, near1), (5, uniq2), (6, base)]          # 6 exact-dups 1; 4 near-dups 1
    b2 = [(7, near2), (8, uniq), (9, "fresh closing doc with nothing shared")]
    return b0, b1, b2


def test_streaming_dedup_refresh_equals_batch(spark, tmp_path):
    """Composed streaming dedup (VERDICT r5 item 4): first-seen exact dedup
    → cross-batch near-dup pairs → incremental connected components, per
    micro-batch with versioned state. Over a closed 3-micro-batch input the
    survivor set must EQUAL the batch path exact_dedup → minhash_lsh_pairs
    → dedup_survivors on the same corpus."""
    from openie_spark.dataops.components import dedup_survivors
    from openie_spark.dataops.dedup import exact_dedup, minhash_lsh_pairs
    from openie_spark.streaming import (
        DEDUP_STATE_TABLES,
        gc_state,
        make_dedup_refresh,
        read_dedup_survivors,
        start_refresh,
    )

    b0, b1, b2 = _dedup_corpus()
    src = tmp_path / "drops"
    for i, rows in enumerate((b0, b1, b2)):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"part{i}"))

    params = dict(n_hashes=32, bands=8, shingle_n=3, jaccard_threshold=0.6)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_refresh(
        stream,
        make_dedup_refresh(str(tmp_path / "state"), **params),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    got = read_dedup_survivors(spark, str(tmp_path / "state"))
    assert got is not None
    got_ids = {r["doc_id"] for r in got.collect()}

    # batch reference over the same closed corpus
    all_docs = spark.createDataFrame(b0 + b1 + b2, "doc_id long, text string")
    uniq = exact_dedup(all_docs).select(F.col("keep_id").alias("doc_id"))
    uniq_docs = all_docs.join(uniq, "doc_id", "left_semi")
    pairs = minhash_lsh_pairs(uniq_docs, **params)
    want_ids = {
        r["doc_id"] for r in dedup_survivors(uniq_docs, pairs).collect()
    }
    assert got_ids == want_ids
    # pinned outcome: exact layer drops 2/6/8; the near-dup layer clusters
    # 4 (batch 1) and 7 (batch 2) with 1 (batch 0) — BOTH pairs are
    # cross-batch, so the incremental band-index path is truly exercised
    assert got_ids == {1, 3, 5, 9}

    # versions accumulated per epoch; gc keeps the latest and survivors
    # stay readable
    import os

    n_versions = len(
        [d for d in os.listdir(tmp_path / "state") if d.startswith("v")]
    )
    assert n_versions >= 3
    removed = gc_state(
        spark, str(tmp_path / "state"), DEDUP_STATE_TABLES, keep=1
    )
    assert removed == n_versions - 1
    again = read_dedup_survivors(spark, str(tmp_path / "state"))
    assert {r["doc_id"] for r in again.collect()} == want_ids


def test_dedup_refresh_retry_is_idempotent(spark, tmp_path):
    """A replayed dedup epoch (state writes completed, streaming checkpoint
    uncommitted) must leave state identical to a single application — the
    same bounded-version retry guard as the graph refresh."""
    from openie_spark.streaming import (
        _latest_state_version,
        make_dedup_refresh,
        read_dedup_survivors,
    )

    b0, b1, _ = _dedup_corpus()
    state = tmp_path / "state"
    refresh = make_dedup_refresh(
        str(state), n_hashes=32, bands=8, jaccard_threshold=0.6
    )
    d0 = spark.createDataFrame(b0, "doc_id long, text string")
    d1 = spark.createDataFrame(b1, "doc_id long, text string")

    refresh(d0, 0)
    refresh(d1, 1)
    once = {
        r["doc_id"]
        for r in read_dedup_survivors(spark, str(state)).collect()
    }
    hashes_once = spark.read.parquet(f"{state}/v00000001/hashes").count()

    # replay epoch 1 verbatim
    refresh(d1, 1)
    twice = {
        r["doc_id"]
        for r in read_dedup_survivors(spark, str(state)).collect()
    }
    assert twice == once
    # the hash state must not have double-counted the replayed batch
    assert (
        spark.read.parquet(f"{state}/v00000001/hashes").count() == hashes_once
    )
    assert _latest_state_version(
        spark, str(state), max_version=0, tables=("hashes", "bands", "labels")
    ) == 0


def test_dedup_survivors_exclude_inflight_epoch(spark, tmp_path):
    """ADVICE r6: docs written by an in-flight/crashed epoch (docs
    partition landed, v{N} state incomplete) must NOT surface as
    survivors — read_dedup_survivors returns the consistent snapshot at
    the latest COMPLETE version (docs epoch <= cur)."""
    from openie_spark.streaming import make_dedup_refresh, read_dedup_survivors

    b0, b1, _ = _dedup_corpus()
    state = tmp_path / "state"
    refresh = make_dedup_refresh(
        str(state), n_hashes=32, bands=8, jaccard_threshold=0.6
    )
    refresh(spark.createDataFrame(b0, "doc_id long, text string"), 0)
    refresh(spark.createDataFrame(b1, "doc_id long, text string"), 1)
    base = {
        r["doc_id"]
        for r in read_dedup_survivors(spark, str(state)).collect()
    }

    # simulate epoch 2 crashing between its docs write and its state
    # write: the docs partition exists, v00000002 does not
    orphan = spark.createDataFrame(
        [(999, "orphan in-flight doc")], "doc_id long, text string"
    ).withColumn("content_hash", F.md5("text"))
    orphan.write.mode("overwrite").parquet(f"{state}/docs/epoch=00000002")

    got = {
        r["doc_id"]
        for r in read_dedup_survivors(spark, str(state)).collect()
    }
    assert 999 not in got
    assert got == base


def _graph_snapshot(nodes, edges):
    n = {
        r["lemma_key"]: (
            r["weight"],
            r["label"],
            tuple(sorted(r["descriptions"])),
            tuple(sorted(r["clusters"])),
            tuple(round(float(x), 5) for x in (r["vector"] or [])),
        )
        for r in nodes.collect()
    }
    e = {
        (r["src"], r["dst"], r["edge_key"]): (
            r["weight"],
            r["label"],
            r["lemmas"],
            r["deprel"],
            tuple(sorted(r["descriptions"])),
            tuple(sorted(r["clusters"])),
        )
        for r in edges.collect()
    }
    return n, e


def test_graph_refresh_retry_is_idempotent(spark, tmp_path):
    """Replayed-epoch safety (VERDICT r5 #1): a foreachBatch epoch whose
    first attempt completed BOTH state-table writes (_SUCCESS present) but
    died before the streaming checkpoint commit is re-run by Spark with the
    SAME epoch_id. The refresh must (a) not read the directory it is about
    to overwrite and (b) leave state equal to a single application — i.e.
    the old-state lookup must be bounded strictly below the retried epoch."""
    from openie_spark.graph import aggregate_edges, aggregate_nodes
    from openie_spark.streaming import (
        _latest_state_version,
        make_graph_refresh,
        read_graph_state,
    )

    state = tmp_path / "state"
    refresh = make_graph_refresh(str(state), dim=64)

    def vec_triples(seed):
        pages = pages_df(spark, 8, seed=seed, n_sents=4, partitions=2)
        return ok_triples(
            extract_triples_df(
                parse_pages(clean_pages(pages, lang="ru")),
                frozenset(STOPWORDS_FIXTURE),
                with_vectors=True,
            )
        ).withColumn("cluster", F.lit(0))

    b0 = vec_triples(11)
    b1 = vec_triples(12)

    refresh(b0, 0)
    # epoch 1: first attempt completes both writes...
    refresh(b1, 1)
    assert _latest_state_version(spark, str(state)) == 1
    # ...checkpoint never committed -> Spark replays epoch 1 verbatim
    refresh(b1, 1)

    got = _graph_snapshot(*read_graph_state(spark, str(state)))

    # single-application reference over the same closed input
    both = b0.unionByName(b1)
    want = _graph_snapshot(aggregate_nodes(both, dim=64), aggregate_edges(both))
    assert got == want

    # and the retry must still merge against the PRE-epoch state, never its
    # own completed v1 (which it is overwriting)
    assert _latest_state_version(spark, str(state), max_version=0) == 0


def test_incremental_graph_refresh_equals_batch(spark, tmp_path):
    """make_graph_refresh merges per-micro-batch node/edge deltas into the
    persistent state tables; over a closed input chopped into several
    micro-batches (maxFilesPerTrigger=1 over multiple file drops), the
    refreshed graph read back through read_graph_state must EQUAL the
    batch aggregate_nodes/aggregate_edges output — the associative-state
    contract (VERDICT r4 #7)."""
    from openie_spark.graph import aggregate_edges, aggregate_nodes
    from openie_spark.streaming import (
        make_graph_refresh,
        read_graph_state,
        read_pages_stream,
        start_refresh,
        stream_triples,
    )

    src = tmp_path / "pages_src"
    # several separate file drops -> several micro-batches
    for seed, part in ((5, "a"), (6, "b"), (7, "c")):
        pages_df(spark, 8, seed=seed, n_sents=4, partitions=1).write.mode(
            "append"
        ).parquet(str(src))

    stream = stream_triples(
        read_pages_stream(spark, str(src), max_files_per_trigger=1),
        lang="ru",
        with_vectors=True,
    )
    q = start_refresh(
        stream,
        make_graph_refresh(str(tmp_path / "graph_state"), dim=64),
        str(tmp_path / "refresh_ckpt"),
    )
    q.awaitTermination(180)

    got_nodes, got_edges = read_graph_state(spark, str(tmp_path / "graph_state"))
    assert got_nodes is not None
    # the input must actually have been chopped into multiple micro-batches
    # (one state version per epoch), or the merge path went unexercised
    import os

    versions = [
        d for d in os.listdir(tmp_path / "graph_state") if d.startswith("v")
    ]
    assert len(versions) >= 2, versions

    # batch reference over the SAME closed input
    all_pages = spark.read.parquet(str(src))
    batch = ok_triples(
        extract_triples_df(
            parse_pages(clean_pages(all_pages, lang="ru")),
            frozenset(STOPWORDS_FIXTURE),
            with_vectors=True,
        )
    ).withColumn("cluster", F.lit(0))
    want_nodes = aggregate_nodes(batch, dim=64)
    want_edges = aggregate_edges(batch)

    got = _graph_snapshot(got_nodes, got_edges)
    want = _graph_snapshot(want_nodes, want_edges)
    assert got[0] == want[0]
    assert got[1] == want[1]

    # explicit GC keeps the newest versions and the latest state readable
    from openie_spark.streaming import GRAPH_STATE_TABLES, gc_state

    removed = gc_state(
        spark, str(tmp_path / "graph_state"), GRAPH_STATE_TABLES, keep=1
    )
    assert removed == len(versions) - 1
    n2, e2 = read_graph_state(spark, str(tmp_path / "graph_state"))
    assert _graph_snapshot(n2, e2) == want


def test_streaming_cardinality_equals_batch_and_retry_idempotent(
    spark, tmp_path
):
    """Streaming HLL refresh: the stream-folded register snapshot must
    be IDENTICAL (registers and estimates) to batch hll_registers over
    the concatenated input — max-merge makes fold order irrelevant —
    and a replayed epoch must be a no-op (idempotent max + the
    strictly-below-epoch state guard). Also: before any version exists
    read_cardinality returns None; estimates readable after gc."""
    import os

    from openie_spark.dataops.cardinality import hll_estimate, hll_registers
    from openie_spark.streaming import (
        make_cardinality_refresh,
        read_cardinality,
        start_refresh,
    )

    batches = [
        [(f"g{i % 2}", f"tok{(i * 7 + b) % 50}") for i in range(40)]
        for b in range(3)
    ]
    src = tmp_path / "drops"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "grp string, val string").coalesce(
            1
        ).write.parquet(str(src / f"part{i}"))

    assert read_cardinality(spark, str(tmp_path / "state")) is None

    stream = (
        spark.readStream.schema("grp string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_refresh(
        stream,
        make_cardinality_refresh(str(tmp_path / "state"), ["grp"], "val"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    got = {
        (r["grp"], r["est_distinct"], r["registers_used"])
        for r in read_cardinality(spark, str(tmp_path / "state")).collect()
    }
    all_rows = [r for rows in batches for r in rows]
    all_df = spark.createDataFrame(all_rows, "grp string, val string")
    want = {
        (r["grp"], r["est_distinct"], r["registers_used"])
        for r in hll_estimate(hll_registers(all_df, ["grp"], "val")).collect()
    }
    assert got == want
    n_versions = len(
        [d for d in os.listdir(tmp_path / "state") if d.startswith("v")]
    )
    assert n_versions == 3

    # retry idempotency on a fresh state dir driven by hand
    state2 = tmp_path / "state2"
    refresh = make_cardinality_refresh(str(state2), ["grp"], "val")
    d0 = spark.createDataFrame(batches[0], "grp string, val string")
    d1 = spark.createDataFrame(batches[1], "grp string, val string")
    refresh(d0, 0)
    refresh(d1, 1)
    once = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/registers").collect()
    }
    refresh(d1, 1)  # replay epoch 1 verbatim
    twice = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/registers").collect()
    }
    assert once == twice


def test_streaming_frequency_equals_batch_and_retry_safe(spark, tmp_path):
    """Streaming count-min refresh: the stream-folded register snapshot
    equals batch cm_registers over the concatenated input (every row
    summed exactly once), estimates match, AND a replayed epoch does
    not double-count — the property that matters precisely because
    sum-merge is not idempotent."""
    import os

    from openie_spark.dataops.frequency import cm_estimate, cm_registers
    from openie_spark.streaming import (
        make_frequency_refresh,
        read_frequency,
        start_refresh,
    )

    batches = [
        [(f"g{i % 2}", f"tok{(i * 3 + b) % 20}") for i in range(40)]
        for b in range(3)
    ]
    src = tmp_path / "drops"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "grp string, val string").coalesce(
            1
        ).write.parquet(str(src / f"part{i}"))

    assert read_frequency(spark, str(tmp_path / "state")) is None

    stream = (
        spark.readStream.schema("grp string, val string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_refresh(
        stream,
        make_frequency_refresh(str(tmp_path / "state"), ["grp"], "val"),
        str(tmp_path / "ck"),
    )
    q.awaitTermination(180)

    regs_stream = read_frequency(spark, str(tmp_path / "state"))
    got = {tuple(r) for r in regs_stream.collect()}
    all_rows = [r for rows in batches for r in rows]
    all_df = spark.createDataFrame(all_rows, "grp string, val string")
    want = {
        tuple(r) for r in cm_registers(all_df, ["grp"], "val").collect()
    }
    assert got == want
    # estimates from the snapshot == estimates from batch registers
    keys = all_df.select(F.col("val").alias("key")).distinct()
    est_stream = {
        (r["grp"], r["key"]): r["est"]
        for r in cm_estimate(regs_stream, keys).collect()
    }
    est_batch = {
        (r["grp"], r["key"]): r["est"]
        for r in cm_estimate(
            cm_registers(all_df, ["grp"], "val"), keys
        ).collect()
    }
    assert est_stream == est_batch
    n_versions = len(
        [d for d in os.listdir(tmp_path / "state") if d.startswith("v")]
    )
    assert n_versions == 3

    # replayed epoch must NOT double-count (version-level idempotence)
    state2 = tmp_path / "state2"
    refresh = make_frequency_refresh(str(state2), ["grp"], "val")
    d0 = spark.createDataFrame(batches[0], "grp string, val string")
    d1 = spark.createDataFrame(batches[1], "grp string, val string")
    refresh(d0, 0)
    refresh(d1, 1)
    once = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/registers").collect()
    }
    refresh(d1, 1)  # replay epoch 1 verbatim
    twice = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/registers").collect()
    }
    assert once == twice


def test_streaming_firstseen_growth_curve_equals_batch(spark, tmp_path):
    """Streaming first-seen refresh: the min-merged snapshot yields a
    growth curve identical to batch activity_curve's new/cum columns
    over the concatenated input — including a key whose EARLIER first
    day arrives in a LATER batch (min-merge rewinds it); replayed
    epoch is a no-op (idempotent min + version bound)."""
    import datetime

    from openie_spark.dataops.retention import activity_curve
    from openie_spark.streaming import (
        make_firstseen_refresh,
        read_growth_curve,
        start_refresh,
    )

    d = datetime.datetime
    batches = [
        [(1, d(2024, 3, 5)), (2, d(2024, 3, 5)), (3, d(2024, 3, 6))],
        [(1, d(2024, 3, 7)), (4, d(2024, 3, 7)),
         (2, d(2024, 3, 1))],   # user 2's TRUE first day arrives late
        [(5, d(2024, 3, 8)), (3, d(2024, 3, 2))],
    ]
    src = tmp_path / "drops"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(
            1
        ).write.parquet(str(src / f"part{i}"))

    assert read_growth_curve(spark, str(tmp_path / "state")) is None

    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = start_refresh(
        stream, make_firstseen_refresh(str(tmp_path / "state")), str(tmp_path / "ck")
    )
    q.awaitTermination(180)

    got = {
        r["day"]: (r["new_keys"], r["cum_keys"])
        for r in read_growth_curve(spark, str(tmp_path / "state")).collect()
    }
    all_rows = [r for rows in batches for r in rows]
    all_df = spark.createDataFrame(all_rows, "user_id long, ts timestamp")
    # batch activity_curve has rows for ACTIVE days; the growth curve
    # only has first-appearance days — compare on those
    want = {
        r["day"]: (r["new_keys"], r["cum_keys"])
        for r in activity_curve(all_df).select(
            "day", "new_keys", "cum_keys"
        ).collect()
        if r["new_keys"] > 0
    }
    assert got == want
    assert got[datetime.date(2024, 3, 1)][0] == 1  # user 2 rewound

    # verbatim epoch replay is a no-op
    state2 = tmp_path / "state2"
    refresh = make_firstseen_refresh(str(state2))
    d0 = spark.createDataFrame(batches[0], "user_id long, ts timestamp")
    d1 = spark.createDataFrame(batches[1], "user_id long, ts timestamp")
    refresh(d0, 0)
    refresh(d1, 1)
    once = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/first_seen").collect()
    }
    refresh(d1, 1)
    twice = {
        tuple(r)
        for r in spark.read.parquet(f"{state2}/v00000001/first_seen").collect()
    }
    assert once == twice


def test_incomplete_version_is_never_read_or_collected(spark, tmp_path):
    """A version counts only once EVERY table of its family carries
    _SUCCESS. A v2 holding only ``nodes`` (an epoch that died between its
    table writes) is skipped by the reader, is not counted toward gc's
    ``keep``, and is left in place."""
    import os

    from openie_spark.graph import finalize_node_state
    from openie_spark.streaming import (
        GRAPH_STATE_TABLES,
        _latest_state_version,
        gc_state,
        make_graph_refresh,
        read_graph_state,
    )

    state = tmp_path / "state"
    refresh = make_graph_refresh(str(state), dim=0)
    refresh(batch_triples(spark, 6, seed=13), 0)
    refresh(batch_triples(spark, 6, seed=14), 1)
    # v2/nodes holds v0's nodes, so a reader that took v2 would show it
    spark.read.parquet(f"{state}/v00000000/nodes").write.parquet(
        f"{state}/v00000002/nodes"
    )

    def node_weights(nodes):
        return sorted(tuple(r) for r in nodes.select("lemma_key", "weight").collect())

    v0, v1 = (
        node_weights(
            finalize_node_state(spark.read.parquet(f"{state}/v{v:08d}/nodes"))
        )
        for v in (0, 1)
    )
    assert v0 != v1
    assert _latest_state_version(spark, str(state)) == 1
    nodes, edges = read_graph_state(spark, str(state))
    assert edges is not None
    assert node_weights(nodes) == v1

    assert gc_state(spark, str(state), GRAPH_STATE_TABLES, keep=1) == 1
    assert sorted(os.listdir(state)) == ["v00000001", "v00000002"]
    assert node_weights(read_graph_state(spark, str(state))[0]) == v1


def test_triples_rate_monitor_counts_per_window(spark, tmp_path):
    """The windowed rate monitor over a closed input of several file drops
    (one micro-batch each, append mode): every warc_ts window it emits
    holds the batch count of ok_triples whose page falls in that window.
    A last drop with one non-ru page far in the future moves the watermark
    past every real window, so all of them are emitted; it adds no
    triples."""
    from openie_spark.streaming import read_pages_stream, triples_rate_monitor

    t0 = 1767225600  # 2026-01-01 00:00 UTC
    pages = pages_df(spark, 18, seed=31, n_sents=3, partitions=1).withColumn(
        "_drop", F.abs(F.hash("url")) % 3
    ).withColumn(
        "warc_ts",
        F.timestamp_seconds(
            F.lit(t0) + F.col("_drop") * 3600 + F.abs(F.hash("url")) % 3000
        ),
    )
    assert pages.select("url").distinct().count() == 18
    src = tmp_path / "drops"
    for i in range(3):
        pages.filter(F.col("_drop") == i).drop("_drop").write.parquet(
            str(src / f"part{i}")
        )
    pages.limit(1).drop("_drop").select(
        F.lit("https://sentinel.example.org/").alias("url"),
        F.timestamp_seconds(F.lit(t0 + 10 * 3600)).alias("warc_ts"),
        "html",
        "text",
        F.lit("en").alias("lang"),
    ).write.parquet(str(src / "part3"))

    monitor = triples_rate_monitor(
        read_pages_stream(spark, str(src / "*"), max_files_per_trigger=1),
        window="1 hour",
        watermark="10 minutes",
    )
    q = (
        monitor.writeStream.format("memory")
        .queryName("triples_rate_monitor_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["window"]["start"], r["window"]["end"]): r["n_triples"]
        for r in spark.table("triples_rate_monitor_test").collect()
    }

    all_pages = spark.read.parquet(str(src / "*"))
    triples = ok_triples(
        extract_triples_df(
            parse_pages(clean_pages(all_pages, lang="ru")),
            frozenset(STOPWORDS_FIXTURE),
            with_vectors=False,
        )
    )
    want = {
        (r["window"]["start"], r["window"]["end"]): r["n_triples"]
        for r in triples.join(all_pages.select("url", "warc_ts"), "url")
        .groupBy(F.window("warc_ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_triples"))
        .collect()
    }
    assert len(want) == 3
    assert got == want
