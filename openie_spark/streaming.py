"""Structured Streaming lift of the stateless pipeline prefix.

The reference is strictly batch (SURVEY.md §2.10) — this module is the
engine's incremental-ingest extension: clean → parse → extract are
stateless per page, so they lift directly onto a streaming DataFrame; the
global stages (clustering, graph aggregation, merge fixpoint) stay batch
and are driven per micro-batch or on a schedule over the accumulated
triples stage table.

Modes:
- ``stream_triples`` + ``start_triples_sink``: fully streaming
  clean→parse→extract appended to the triples stage table (the
  checkpoint boundary).
- ``start_refresh`` with a ``make_*_refresh`` callable: per micro-batch,
  fold the batch into a versioned state table (graph nodes/edges, dedup
  index, HLL or count-min registers, first-seen days); the matching
  ``read_*`` opens the latest complete version and ``gc_state`` drops
  versions no retry can need.

Each family's state is a set of tables re-derived each epoch from the
previous version plus the batch's delta (the streams-as-tables view):
``{state_dir}/v{epoch:08d}/{table}`` for every table of the family, and a
version counts only once every table carries ``_SUCCESS``.

Watermarking: pages carry ``warc_ts``; a watermark bounds state if a
windowed aggregate (e.g. triples/minute monitoring) is attached. The
extraction path itself is stateless, so late data simply flows through.
"""

from __future__ import annotations

from typing import Callable, Dict, List, Optional, Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .corpus import PAGES_SCHEMA_DDL, STOPWORDS_FIXTURE
from .extract import extract_triples_df, ok_triples
from .parse import PageParser, parse_pages, template_parse_page
from .textclean import clean_pages

# The tables of each versioned-state family, in write order.
GRAPH_STATE_TABLES = ("nodes", "edges")
DEDUP_STATE_TABLES = ("hashes", "bands", "labels")
REGISTER_STATE_TABLES = ("registers",)  # HLL and count-min
FIRSTSEEN_STATE_TABLES = ("first_seen",)

States = Tuple[DataFrame, ...]


def read_pages_stream(
    spark: SparkSession,
    source_dir: str,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """File-source stream of pages parquet drops (Common-Crawl-dump shape:
    a directory that accumulates WARC-derived parquet files)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def stream_triples(
    pages_stream: DataFrame,
    stopwords=STOPWORDS_FIXTURE,
    embedding_dict: Optional[Dict[str, np.ndarray]] = None,
    lang: Optional[str] = "ru",
    page_parser: PageParser = template_parse_page,
    with_vectors: bool = False,
    dim: int = 64,
) -> DataFrame:
    """Streaming clean→parse→extract: returns a streaming triples frame
    (append-mode compatible — all three stages are stateless projections)."""
    cleaned = clean_pages(pages_stream, lang=lang)
    parses = parse_pages(cleaned, page_parser)
    return ok_triples(
        extract_triples_df(
            parses,
            frozenset(stopwords),
            embedding_dict=embedding_dict,
            dim=dim,
            with_vectors=with_vectors,
        )
    )


def _start(writer, checkpoint_dir: str, trigger_seconds: Optional[int]):
    """Start an append-mode query: every ``trigger_seconds`` when given,
    else once over everything available now."""
    writer = writer.option("checkpointLocation", checkpoint_dir).outputMode(
        "append"
    )
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_triples_sink(
    triples_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger_seconds: Optional[int] = None,
):
    """Append the streaming triples to the triples stage table. Exactly-once
    via the streaming checkpoint; this IS the pipeline's checkpoint-resume
    boundary in streaming mode."""
    return _start(
        triples_stream.writeStream.format("parquet").option("path", out_dir),
        checkpoint_dir,
        trigger_seconds,
    )


def start_refresh(
    stream_df: DataFrame,
    refresh: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger_seconds: Optional[int] = None,
):
    """Install a ``make_*_refresh`` callable as the stream's foreachBatch
    sink."""
    return _start(
        stream_df.writeStream.foreachBatch(refresh),
        checkpoint_dir,
        trigger_seconds,
    )


def triples_rate_monitor(
    pages_stream: DataFrame,
    stopwords=STOPWORDS_FIXTURE,
    lang: Optional[str] = "ru",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Windowed triples-per-warc_ts-window monitor with a watermark bounding
    state for late pages (the one stateful streaming op the engine ships).

    Append mode only: a window is emitted once, after the watermark passes
    its end. The triples are joined back to their pages' ``warc_ts``, a
    stream-stream join, which update mode rejects."""
    triples = stream_triples(pages_stream, stopwords, lang=lang)
    # re-attach warc_ts (extract keeps only url/sent ids) via the page key
    keyed = pages_stream.select("url", "warc_ts").withWatermark(
        "warc_ts", watermark
    )
    return (
        triples.join(keyed, "url")
        .groupBy(F.window("warc_ts", window))
        .agg(F.count(F.lit(1)).alias("n_triples"))
    )


# ---- versioned state ---------------------------------------------------------


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path constructor) for ``path`` — Hadoop FS API, so
    state dirs work on HDFS/S3 paths too."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _vdir(state_dir: str, version: int) -> str:
    return f"{state_dir}/v{int(version):08d}"


def _complete_versions(
    spark: SparkSession,
    state_dir: str,
    tables: Tuple[str, ...],
    max_version: Optional[int] = None,
) -> List[int]:
    """Sorted COMPLETE versions under state_dir: ``v{N}`` dirs in which
    every listed table carries ``_SUCCESS``. A version missing one is a
    write in flight or a crashed epoch and is never read or GC'd.
    ``max_version`` (inclusive) bounds the search."""
    fs, Path = _hadoop_fs(spark, state_dir)
    if not fs.exists(Path(state_dir)):
        return []
    versions = []
    for st in fs.listStatus(Path(state_dir)):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v")):
            continue
        try:
            v = int(name[1:])
        except ValueError:
            continue
        if max_version is not None and v > max_version:
            continue
        if all(
            fs.exists(Path(f"{state_dir}/{name}/{t}/_SUCCESS")) for t in tables
        ):
            versions.append(v)
    return sorted(versions)


def _latest_state_version(
    spark: SparkSession,
    state_dir: str,
    max_version: Optional[int] = None,
    tables: Tuple[str, ...] = GRAPH_STATE_TABLES,
) -> Optional[int]:
    """Highest complete version under state_dir, or None. The refresh
    callables pass ``max_version=epoch_id - 1`` so a retried epoch never
    reads its own output."""
    versions = _complete_versions(spark, state_dir, tables, max_version)
    return versions[-1] if versions else None


def _read_state(
    spark: SparkSession, state_dir: str, version: int, tables: Tuple[str, ...]
) -> States:
    vdir = _vdir(state_dir, version)
    return tuple(spark.read.parquet(f"{vdir}/{t}") for t in tables)


def _read_latest(
    spark: SparkSession, state_dir: str, tables: Tuple[str, ...]
) -> Optional[States]:
    cur = _latest_state_version(spark, state_dir, tables=tables)
    return None if cur is None else _read_state(spark, state_dir, cur, tables)


def _write_state(
    state_dir: str, epoch: int, tables: Tuple[str, ...], frames: States
) -> None:
    vdir = _vdir(state_dir, epoch)
    for t, df in zip(tables, frames):
        df.write.mode("overwrite").parquet(f"{vdir}/{t}")


def gc_state(
    spark: SparkSession,
    state_dir: str,
    tables: Tuple[str, ...],
    keep: int = 2,
) -> int:
    """Drop all but the ``keep`` newest complete versions of a state family.
    Incomplete versions (a write in flight) and non-version dirs (the dedup
    ``docs/`` corpus) are never touched. Old versions exist only for retry
    safety — once the streaming checkpoint has advanced past an epoch, its
    predecessors are dead weight. Returns the number of versions removed.

    Not ``fsgc.gc_child_dirs``: that keeps the newest dirs by mtime, so an
    in-flight ``v{N+1}`` would push out the last complete version, and it
    would delete ``docs/``."""
    complete = _complete_versions(spark, state_dir, tables)
    fs, Path = _hadoop_fs(spark, state_dir)
    doomed = complete[: max(0, len(complete) - max(keep, 1))]
    for v in doomed:
        fs.delete(Path(_vdir(state_dir, v)), True)
    return len(doomed)


def _fold_refresh(
    state_dir: str,
    tables: Tuple[str, ...],
    delta: Callable[[DataFrame], States],
    merge: Callable[[States, States], States],
):
    """The foreachBatch callable of a versioned-state family: epoch N
    writes ``merge(old, delta(batch))`` — or ``delta(batch)`` before the
    first version — to ``v{N}/{table}`` for each of ``tables``, where
    ``old`` is the newest complete version strictly below N. ``delta``
    and ``merge`` return one DataFrame per table, in ``tables`` order.

    Retry contract. Each epoch gets its own immutable version, named by
    the foreachBatch epoch_id, so a RETRIED epoch overwrites its own
    directory (idempotent) instead of corrupting the previous state, which
    the merge is still lazily reading. The old-state lookup is bounded to
    versions strictly below the current epoch, so a retry whose first
    attempt already completed every table write (but died before the
    streaming checkpoint commit) re-merges against the PRE-epoch state
    rather than double-counting its own output. That makes a replay a
    no-op even for a merge that is not idempotent (the count-min sum).
    Readers open the highest complete version; old versions are retained
    for retry safety — :func:`gc_state` them once the streaming checkpoint
    has advanced.

    When ``merge`` is associative, the folded state over any closed input
    EQUALS one batch aggregation of it, however the stream chopped it into
    micro-batches (the stream==batch tests pin this per family)."""

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        new = delta(batch_df)
        cur = _latest_state_version(
            spark, state_dir, max_version=epoch - 1, tables=tables
        )
        if cur is not None:
            new = merge(_read_state(spark, state_dir, cur, tables), new)
        _write_state(state_dir, epoch, tables, new)

    return refresh


# ---- graph -------------------------------------------------------------------


def make_graph_refresh(
    state_dir: str,
    dim: int = 64,
    max_descriptions: Optional[int] = None,
):
    """Per-micro-batch incremental graph refresh: aggregate each batch of
    triples into node/edge DELTA state and merge it into the persistent
    state tables by key — so the downstream graph tables follow the stream
    instead of stopping at the triples stage.

    The state combine is associative (sums, min-occurrence carries, set
    unions; vectors kept as element-wise sums — see graph.py node_state_
    delta), so the refreshed graph equals the batch aggregate_nodes/
    aggregate_edges output — which is these same deltas over the whole
    input, finalized (retry and fold contract: :func:`_fold_refresh`).

    Triples without a ``cluster`` column (clustering is a global batch
    stage) get cluster=0, matching the batch pipeline's skip_clustering
    labeling."""
    from .graph import (
        edge_state_delta,
        merge_edge_state,
        merge_node_state,
        node_state_delta,
    )

    def delta(batch_df: DataFrame) -> States:
        if "cluster" not in batch_df.columns:
            batch_df = batch_df.withColumn("cluster", F.lit(0))
        return (
            node_state_delta(batch_df, dim=dim, max_descriptions=max_descriptions),
            edge_state_delta(batch_df, max_descriptions=max_descriptions),
        )

    def merge(old: States, new: States) -> States:
        return (
            merge_node_state(old[0], new[0], max_descriptions),
            merge_edge_state(old[1], new[1], max_descriptions),
        )

    return _fold_refresh(state_dir, GRAPH_STATE_TABLES, delta, merge)


def read_graph_state(
    spark: SparkSession,
    state_dir: str,
    max_descriptions: Optional[int] = None,
):
    """Open the latest complete refreshed graph as FINALIZED nodes/edges
    (the aggregate_nodes/aggregate_edges output shape). Returns
    (nodes, edges) or (None, None) when no version is complete yet."""
    from .graph import finalize_edge_state, finalize_node_state

    state = _read_latest(spark, state_dir, GRAPH_STATE_TABLES)
    if state is None:
        return None, None
    nodes, edges = state
    return (
        finalize_node_state(nodes, max_descriptions),
        finalize_edge_state(edges, max_descriptions),
    )


# ---- dedup -------------------------------------------------------------------


def stream_dedup_docs(
    docs_stream: DataFrame,
    ts_col: str = "ingest_ts",
    watermark: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """First-seen-only streaming exact dedup on the normalized content hash
    — the ingest-side filter of a training-data pipeline (drop re-crawled
    boilerplate before it ever reaches storage).

    Built on ``dropDuplicatesWithinWatermark``: per-key dedup state is
    EVICTED once the watermark passes it, so state is bounded by the
    (event-time window × distinct-hash rate), not by the total corpus —
    the property that makes this viable on an unbounded crawl. A duplicate
    arriving after its original's state expired is re-emitted; choose the
    watermark as the max re-crawl lag to suppress. The content hash is the
    same ``md5(normalized_text)`` the batch exact_dedup groups on, so the
    streamed survivor set matches batch exact_dedup's hash set over any
    closed input."""
    from .dataops.dedup import normalized_text

    hashed = docs_stream.withColumn("content_hash", F.md5(normalized_text(text_col)))
    return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def make_dedup_refresh(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 8,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
):
    """Build the foreachBatch callable for the composed streaming dedup
    path (VERDICT r5 item 4): per micro-batch,

    1. exact first-seen dedup — the batch's min-id row per content hash,
       anti-joined against the accumulated hash state (only genuinely new
       content proceeds);
    2. the new docs land in ``{state_dir}/docs/epoch=N`` (overwrite-per-
       epoch, so the append-only corpus is retry-idempotent);
    3. near-dup candidate pairs — the new docs' MinHash band entries
       joined against the accumulated band index ∪ themselves, so
       cross-batch near-dups surface the moment the later doc arrives;
    4. exact-Jaccard verification against the accumulated docs table;
    5. :func:`openie_spark.dataops.components.update_components` folds the
       verified pairs into the persistent (node, component) labels.

    State layout: ``{state_dir}/v{epoch:08d}/{hashes,bands,labels}`` with
    the same version lookup and retry guard as :func:`_fold_refresh` — a
    replayed epoch (writes completed, streaming checkpoint uncommitted)
    recomputes from the pre-epoch state and its overwrites are
    idempotent. It keeps its own body because the docs write of step 2
    sits between reading the old state and deriving the new one.

    Determinism note: "first seen" within a batch is the minimum id per
    content hash (micro-batch row order is not defined); with ids that
    increase with arrival order this equals arrival-order-first, and over
    any closed input the survivor set equals the batch pipeline
    exact_dedup → minhash_lsh_pairs → dedup_survivors (equality-pinned).
    The band-bucket skew cap (max_bucket) is NOT applied on this path:
    caps are emission-time decisions, and an epoch-local cap would make
    the result depend on batch boundaries — cap upstream if needed.

    Scale: steps 1–5 are all equi-joins keyed on content_hash / band
    buckets / node ids; per-epoch state rewrite is O(unique docs seen) —
    the same rewrite-per-epoch contract as the graph refresh (compact or
    GC with :func:`gc_state`). The exact-Jaccard verify re-reads the
    accumulated docs table each epoch (pruned to candidate ids by
    verify_jaccard's semi-join, but still a scan of the docs parquet); with epoch-partitioned docs a deployment
    that tracks id→epoch can restrict that scan to the partitions holding
    candidates — not done here because candidates are bounded by the band
    join, so the scan, not the join, is the first thing to shard."""
    from .dataops.components import update_components
    from .dataops.dedup import (
        minhash_bands,
        normalized_text,
        verify_jaccard,
    )

    def refresh(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        epoch = int(epoch_id)
        cur = _latest_state_version(
            spark, state_dir, max_version=epoch - 1, tables=DEDUP_STATE_TABLES
        )
        hashed = batch_df.withColumn(
            "content_hash", F.md5(normalized_text(text_col))
        )
        # min-id survivor per content hash WITHIN the batch
        w_first = Window.partitionBy("content_hash").orderBy(F.col(id_col))
        batch_first = (
            hashed.withColumn("_rk", F.row_number().over(w_first))
            .filter(F.col("_rk") == 1)
            .drop("_rk")
        )
        if cur is not None:
            prev_hashes, prev_bands, prev_labels = _read_state(
                spark, state_dir, cur, DEDUP_STATE_TABLES
            )
            new_docs = batch_first.join(prev_hashes, "content_hash", "left_anti")
        else:
            prev_hashes = prev_bands = prev_labels = None
            new_docs = batch_first

        # retry-idempotent append: this epoch's docs partition is OVERWRITTEN
        docs_epoch = f"{state_dir}/docs/epoch={epoch:08d}"
        new_docs.select(id_col, text_col, "content_hash").write.mode(
            "overwrite"
        ).parquet(docs_epoch)
        new_docs = spark.read.parquet(docs_epoch)

        new_bands = minhash_bands(
            new_docs, id_col, text_col, n_hashes, bands, shingle_n
        )
        all_bands = (
            new_bands
            if prev_bands is None
            else prev_bands.unionByName(new_bands)
        )
        cand = (
            new_bands.select(
                "band", "band_hash", F.col(id_col).alias("id_a")
            )
            .join(
                all_bands.select(
                    "band", "band_hash", F.col(id_col).alias("id_b")
                ),
                ["band", "band_hash"],
            )
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .distinct()
        )
        # bounded to epoch <= current: stale future-epoch docs partitions
        # (left behind by a run whose streaming checkpoint was reset) must
        # not contribute candidates to this epoch's verify
        all_docs = (
            spark.read.parquet(f"{state_dir}/docs")
            .filter(F.col("epoch") <= epoch)
            .drop("epoch")
        )
        pairs = verify_jaccard(
            all_docs, cand, id_col, text_col, shingle_n
        ).filter(F.col("jaccard") >= jaccard_threshold)

        if prev_labels is not None:
            labels = update_components(prev_labels, pairs)
        else:
            # bootstrap: CC over the first epoch's pairs; empty-safe
            labels = update_components(
                new_docs.select(
                    F.col(id_col).alias("node"),
                    F.col(id_col).alias("component"),
                ).limit(0),
                pairs,
            )

        hashes = new_docs.select("content_hash")
        if prev_hashes is not None:
            hashes = prev_hashes.unionByName(hashes)
        _write_state(
            state_dir, epoch, DEDUP_STATE_TABLES, (hashes, all_bands, labels)
        )

    return refresh


def read_dedup_survivors(
    spark: SparkSession,
    state_dir: str,
    id_col: str = "doc_id",
):
    """Open the latest complete dedup state as the surviving corpus:
    exact-unique docs minus near-dup cluster non-minima — the same
    contract as batch dataops.components.dedup_survivors. Returns None
    when no version is complete yet.

    Consistent-snapshot guard: docs are epoch-partitioned, and an
    in-flight or crashed epoch may have written its docs partition
    without completing its v{N} state — reading ALL docs partitions
    would surface those docs as survivors with no loser labels,
    transiently leaking near-duplicates. The docs read is therefore
    bounded to ``epoch <= cur`` (the latest COMPLETE version), the same
    strictly-consistent cut the versioned state exists to provide; the
    filter is a partition-prune, not a scan."""
    cur = _latest_state_version(spark, state_dir, tables=DEDUP_STATE_TABLES)
    if cur is None:
        return None
    docs = (
        spark.read.parquet(f"{state_dir}/docs")
        .filter(F.col("epoch") <= cur)
        .drop("epoch")
    )
    (labels,) = _read_state(spark, state_dir, cur, ("labels",))
    losers = labels.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


# ---- sketches and first-seen -------------------------------------------------


def make_cardinality_refresh(
    state_dir: str,
    group_cols,
    value_col: str,
):
    """foreachBatch callable for a streaming distinct-count dashboard:
    each micro-batch's HLL register table (dataops/cardinality.py) is
    max-merged with the previous state version into an immutable
    ``v{epoch}/registers`` snapshot. Max-merge is idempotent AND the
    old-state lookup is bounded strictly below the epoch (the
    :func:`_fold_refresh` retry guard), so a replayed epoch —
    completed write, uncommitted checkpoint — is a no-op twice over.
    State size is bounded at groups*256 rows per version regardless of
    stream volume; the registers stay a PLAIN table, so any engine can
    read a snapshot and estimate."""
    from .dataops.cardinality import hll_merge, hll_registers

    group_cols = list(group_cols)
    return _fold_refresh(
        state_dir,
        REGISTER_STATE_TABLES,
        lambda batch: (hll_registers(batch, group_cols, value_col),),
        lambda old, new: (hll_merge(old[0], new[0]),),
    )


def read_cardinality(spark: SparkSession, state_dir: str):
    """Estimates from the latest COMPLETE register snapshot — (group...,
    est_distinct, registers_used), or None before the first version.
    Because registers max-merge, the stream-folded snapshot is
    IDENTICAL to batch hll_registers over the concatenated input, and
    the estimate inherits the batch operator's bit-exact integer
    contract."""
    from .dataops.cardinality import hll_estimate

    state = _read_latest(spark, state_dir, REGISTER_STATE_TABLES)
    return None if state is None else hll_estimate(state[0])


def make_frequency_refresh(
    state_dir: str,
    group_cols,
    value_col: str,
    weight_col: Optional[str] = None,
):
    """foreachBatch callable for a streaming hot-key dashboard: each
    micro-batch's count-min register table (dataops/frequency.py) is
    SUM-merged with the previous state version into an immutable
    ``v{epoch}/registers`` snapshot.

    Sum-merge — unlike the HLL's max — is NOT idempotent, which is
    exactly why the version discipline matters here: a replayed epoch
    (completed write, uncommitted checkpoint) re-derives the SAME
    snapshot from the same pre-epoch inputs and overwrites it
    (:func:`_fold_refresh`) — idempotence at the version level even
    though the merge op cannot provide it. State stays bounded at
    groups*D*W rows per version; the registers are a plain table any
    engine can re-aggregate or estimate from."""
    from .dataops.frequency import cm_merge, cm_registers

    group_cols = list(group_cols)
    return _fold_refresh(
        state_dir,
        REGISTER_STATE_TABLES,
        lambda batch: (cm_registers(batch, group_cols, value_col, weight_col),),
        lambda old, new: (cm_merge(old[0], new[0]),),
    )


def read_frequency(spark: SparkSession, state_dir: str):
    """The latest COMPLETE count-min register snapshot (or None before
    the first version). Because registers sum-merge and every row is
    counted in exactly one micro-batch, the stream-folded snapshot is
    IDENTICAL to batch cm_registers over the concatenated input; pipe
    it into dataops.frequency.cm_estimate with a key set to get the
    hot-key upper bounds."""
    state = _read_latest(spark, state_dir, REGISTER_STATE_TABLES)
    return None if state is None else state[0]


def _min_first_day(df: DataFrame) -> DataFrame:
    return df.groupBy("key").agg(F.min("first_day").alias("first_day"))


def make_firstseen_refresh(
    state_dir: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
):
    """foreachBatch callable maintaining the (key, first_day) table —
    the state behind the cumulative-distinct growth curve
    (dataops/retention.py): each micro-batch's per-key min(day) is
    MIN-merged with the previous snapshot into an immutable
    ``v{epoch}/first_seen`` version. Min is associative, commutative,
    and idempotent (like the HLL max, unlike the count-min sum), and
    the lookup is bounded strictly below the epoch — replay-safe twice
    over. State is one row per distinct key ever seen: that is the
    true information content of a first-seen curve, not sketch
    overhead; at 100 TB shard the state table by key hash and the
    min-merge stays co-partitioned."""

    def delta(batch_df: DataFrame) -> States:
        days = batch_df.select(
            F.col(key_col).alias("key"),
            F.to_date(F.col(ts_col)).alias("first_day"),
        )
        return (_min_first_day(days),)

    return _fold_refresh(
        state_dir,
        FIRSTSEEN_STATE_TABLES,
        delta,
        lambda old, new: (_min_first_day(old[0].unionByName(new[0])),),
    )


def read_growth_curve(spark: SparkSession, state_dir: str):
    """(day, new_keys, cum_keys) from the latest COMPLETE first-seen
    snapshot (None before the first version): new = first appearances
    per day, cum = running sum — because min-merge makes the snapshot
    identical to batch min(day) over the concatenated input, this
    equals the batch activity curve's new/cum columns over all data
    seen so far."""
    state = _read_latest(spark, state_dir, FIRSTSEEN_STATE_TABLES)
    if state is None:
        return None
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        state[0]
        .groupBy(F.col("first_day").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("new_keys"))
        .withColumn("cum_keys", F.sum("new_keys").over(w).cast("long"))
    )
