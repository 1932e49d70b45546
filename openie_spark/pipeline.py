"""End-to-end pipeline orchestration.

Stage graph (SURVEY.md §3, Spark lifecycle):

    pages ──lang filter──▶ clean (UDF, narrow)
          ──▶ parse (mapInPandas, narrow)          [checkpoint: parses]
          ──▶ extract (mapInPandas, narrow)        [checkpoint: triples]
          ──▶ sentence vectors → KMeans sweep      [shuffle: ML fit]
          ──▶ cluster join (equi-join on sentence key)
          ──▶ node (salted) / edge aggregation     [shuffle, checkpoints]
          ──▶ merge fixpoint (driver loop)         [checkpoints per result]
          ──▶ top-K filter + bypass
          ──▶ nodes/edges partitioned writes

Every boundary materializes through the StageLedger when a work_dir is
configured — that is the checkpoint-resume contract; without a work_dir the
pipeline runs fully lazy (tests, benchmarks).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Dict, Optional

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .clustering import cluster_sentences, sentence_vectors, with_clusters
from .corpus import STOPWORDS_FIXTURE
from .extract import extract_triples_df, ok_triples
from .graph import aggregate_edges, aggregate_nodes, with_degrees
from .lineage import StageLedger
from .merge import MergeConfig, merge_fixpoint
from .parse import PageParser, parse_pages, template_parse_page
from .textclean import clean_pages
from .topk import filter_nodes


@dataclass
class PipelineConfig:
    lang: Optional[str] = "ru"
    stopwords: tuple = tuple(STOPWORDS_FIXTURE)
    additional_relations: bool = True
    entities_limit: Optional[int] = 10000  # reference default, instance/config.json:5
    dim: int = 64
    seed: int = 42
    n_salts: int = 8  # node aggregation salts (Zipfian lemma keys)
    strict_parity: bool = False
    skip_clustering: bool = False  # sandbox corpora are usually < MIN_CLUSTER_SIZE·2
    skip_merge: bool = False
    work_dir: Optional[str] = None
    max_descriptions: Optional[int] = None
    # merge_fixpoint dispatch override: None → merge.LOCAL_FIXPOINT_THRESHOLD
    # (driver-local fast path for small aggregated graphs); 0 → always the
    # distributed DataFrame rounds (identical semantics, A/B-tested). Not in
    # fingerprint(): the two paths produce identical output by contract.
    merge_local_threshold: Optional[int] = None

    @classmethod
    def for_scale(cls, work_dir: Optional[str] = None, **overrides) -> "PipelineConfig":
        """The scale profile: defaults a large-corpus run (10⁵+ pages,
        real cluster) wants, as opposed to the parity defaults the
        reference-equivalence tests pin.

        - ``max_descriptions=256``: uncapped ``collect_set`` description
          state is the measured OOM/anti-scaling risk (graph.py:50 —
          node agg 19s@2cores → 38s@8cores on 1M triples before the
          cap; the 384k-page capstone ran with 256). The cap bounds
          per-key aggregation state AND the merge stage's per-round
          attribute spill. Semantics note: the shared-sentence merge
          exclusion compares description sets, so a cap can in principle
          let two nodes merge that the uncapped run would exclude —
          which is why the parity default stays None and strict_parity
          refuses a cap.
        - ``merge_local_threshold=0``: always the distributed DataFrame
          fixpoint — the driver-local fast path's collect is wrong on a
          graph that doesn't comfortably fit the driver.
        - ``work_dir``: pass one; it turns on durable checkpoint-resume
          at every stage boundary and durable merge-round checkpoints.

        Any field can still be overridden via keyword arguments.
        """
        opts = dict(max_descriptions=256, merge_local_threshold=0, work_dir=work_dir)
        opts.update(overrides)
        return cls(**opts)

    def __post_init__(self) -> None:
        if self.strict_parity and self.max_descriptions is not None:
            raise ValueError(
                "strict_parity pins reference-identical merge semantics; "
                "max_descriptions caps the description sets that drive the "
                "shared-sentence merge exclusion — unset one of them"
            )

    def fingerprint(self) -> str:
        import hashlib

        # stable digest — Python's hash() is salted per process, which would
        # spuriously invalidate every cross-process resume
        stop_digest = hashlib.sha256("\x00".join(self.stopwords).encode()).hexdigest()[:16]
        # every output-affecting knob must appear here — omitting one makes
        # a checkpoint-resume silently reuse stale stage parquet after the
        # knob changes (salt count/layout doesn't change stage OUTPUT, but
        # max_descriptions caps the emitted description sets, so it does)
        return (
            f"lang={self.lang};stop={stop_digest};add={self.additional_relations};"
            f"limit={self.entities_limit};dim={self.dim};seed={self.seed};"
            f"strict={self.strict_parity};"
            f"skip_c={self.skip_clustering};skip_m={self.skip_merge};"
            f"maxd={self.max_descriptions}"
        )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    cfg: Optional[PipelineConfig] = None,
    embedding_dict: Optional[Dict[str, np.ndarray]] = None,
    page_parser: PageParser = template_parse_page,
    input_fingerprint: str = "",
) -> Dict[str, DataFrame]:
    """Run clean→parse→extract→cluster→aggregate→merge→filter; returns all
    stage DataFrames keyed by stage name."""
    cfg = cfg or PipelineConfig()
    fp = cfg.fingerprint() + "|" + input_fingerprint
    ledger = StageLedger(spark, cfg.work_dir) if cfg.work_dir else None

    def stage(name: str, build, partition_by=None) -> DataFrame:
        if ledger is None:
            return build()
        return ledger.run_stage(name, fp, build, partition_by=partition_by)

    out: Dict[str, DataFrame] = {}

    cleaned = stage("clean", lambda: clean_pages(pages, lang=cfg.lang))
    out["clean"] = cleaned

    parses = stage("parses", lambda: parse_pages(cleaned, page_parser))
    out["parses"] = parses

    # Without a work_dir, clean→parse→extract run fused in one mapInPandas
    # (one JVM↔Python crossing instead of three; identity-tested against
    # the unfused stages, measured 1.9× faster at sf0.1 by
    # tools/bench_fuse.py). A work_dir materializes the parse stage for
    # resume, which is worth the extra crossings.
    if ledger is None:
        from .extract import extract_triples_from_pages

        triples_all = extract_triples_from_pages(
            pages,
            frozenset(cfg.stopwords),
            page_parser=page_parser,
            embedding_dict=embedding_dict,
            dim=cfg.dim,
            additional_relations=cfg.additional_relations,
            lang=cfg.lang,
        )
    else:
        triples_all = stage(
            "triples",
            lambda: extract_triples_df(
                parses,
                frozenset(cfg.stopwords),
                embedding_dict=embedding_dict,
                dim=cfg.dim,
                additional_relations=cfg.additional_relations,
            ),
        )
    out["triples_raw"] = triples_all
    triples = ok_triples(triples_all)
    out["triples"] = triples

    if cfg.skip_clustering:
        clusters = triples.select("url", "sent_id").distinct().withColumn(
            "cluster", F.lit(0)
        )
    else:
        clusters = stage(
            "clusters",
            lambda: cluster_sentences(sentence_vectors(triples), seed=cfg.seed),
        )
    out["clusters"] = clusters

    labeled = with_clusters(triples, clusters)
    out["triples_clustered"] = labeled

    nodes = stage(
        "nodes_raw",
        lambda: aggregate_nodes(
            labeled,
            n_salts=cfg.n_salts,
            max_descriptions=cfg.max_descriptions,
            dim=cfg.dim,
        ),
    )
    edges = stage(
        "edges_raw",
        lambda: aggregate_edges(labeled, max_descriptions=cfg.max_descriptions),
    )

    if not cfg.skip_merge:
        mcfg = MergeConfig(
            strict_parity=cfg.strict_parity,
            dim=cfg.dim,
            # with a work_dir, fixpoint rounds checkpoint durably (parquet
            # stage tables) instead of executor-block localCheckpoint
            checkpoint_dir=(f"{cfg.work_dir}/merge_ckpt" if cfg.work_dir else None),
        )
        if (
            ledger is not None
            and ledger.completed("nodes_merged", fp)
            and ledger.completed("edges_merged", fp)
        ):
            nodes, edges = ledger.read("nodes_merged"), ledger.read("edges_merged")
        else:
            m_nodes, m_edges, _ = merge_fixpoint(
                nodes, edges, mcfg, local_threshold=cfg.merge_local_threshold
            )
            if ledger is not None:
                nodes = ledger.run_stage("nodes_merged", fp, lambda: m_nodes)
                edges = ledger.run_stage("edges_merged", fp, lambda: m_edges)
            else:
                nodes, edges = m_nodes, m_edges

    if cfg.entities_limit is not None:
        nodes, edges = filter_nodes(nodes, edges, cfg.entities_limit)

    nodes = with_degrees(nodes, edges)
    out["nodes"] = stage("nodes", lambda: nodes)
    out["edges"] = stage("edges", lambda: edges)
    return out
