"""Output checks. Each returns a list of failure messages (empty = pass).

Outputs are read back from the files the CLI path wrote, with pyarrow in
the benchmark process, so a check costs no Spark job in the timed iteration.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from tools.golden_digest import golden_digest

from . import inputs

GOLDEN_TRIPLES = os.path.join("goldens", "p500", "triples.parquet")


def read_rows(path: str, columns=None) -> list:
    """Rows of a (possibly hive-partitioned) parquet table, without the
    partition column the graph-table writer adds."""
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns
    )
    if "bucket" in table.column_names:
        table = table.drop(["bucket"])
    return table.to_pylist()


def _norm(rows: list) -> list:
    # sent_text compares up to whitespace characters: the cleaner decodes
    # "&nbsp;" to U+00A0 where the generator's (and the golden's) clean text
    # has a plain space; the tokens, and so every other column, agree
    return [dict(r, sent_text=" ".join(r["sent_text"].split())) for r in rows]


def compare_triples(label: str, got: list, want: list) -> list:
    if golden_digest(_norm(got)) == golden_digest(_norm(want)):
        return []
    return [
        f"{label}: triples differ ({len(got)} rows emitted, {len(want)} expected)"
    ]


def golden_triples(root: str, got: list, urls: set) -> list:
    """Triples of some seed-42 pages against the reference golden's rows
    for those pages' urls."""
    want = [r for r in read_rows(os.path.join(root, GOLDEN_TRIPLES)) if r["url"] in urls]
    return compare_triples(f"golden p500 ({len(urls)} pages)", got, want)


def graph_outputs(out_dir: str, root: str, urls: set, entities_limit) -> tuple:
    """→ (failures, digest of the final node and edge tables)."""
    failures = golden_triples(
        root, read_rows(os.path.join(out_dir, "triples"), list(inputs.TRIPLE_COLS)), urls
    )
    nodes = read_rows(os.path.join(out_dir, "nodes"))
    edges = read_rows(os.path.join(out_dir, "edges"))
    keys = {n["lemma_key"] for n in nodes}
    if not nodes or not edges:
        failures.append(f"empty graph: {len(nodes)} nodes, {len(edges)} edges")
    if len(keys) != len(nodes):
        failures.append("duplicate node keys")
    if entities_limit is not None and len(nodes) > entities_limit:
        failures.append(f"{len(nodes)} nodes exceed entities_limit={entities_limit}")
    dangling = sum(e["src"] not in keys or e["dst"] not in keys for e in edges)
    if dangling:
        failures.append(f"{dangling} edges reference dropped nodes")
    return failures, golden_digest(nodes) + golden_digest(edges)
