"""Shared explicit-GC helper for durable work dirs.

Operators that write per-run unique dirs under a caller-provided
checkpoint/work dir (merge fixpoint runs, connected-components runs,
verify_jaccard pair snapshots) never delete a SIBLING run implicitly —
a concurrent run's returned DataFrames may still be lazily reading it.
Reclaiming disk across runs is therefore an explicit step: keep the
``keep`` newest children of ``root`` (by modification time), delete the
rest. HDFS/S3-safe (Hadoop FS API).
"""

from __future__ import annotations


def gc_child_dirs(spark, root_path: str, keep: int = 1) -> int:
    """Delete all but the ``keep`` most recently modified child dirs of
    ``root_path``. Missing root → 0. Returns the number removed."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(root_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return 0
    statuses = sorted(
        (s for s in fs.listStatus(root) if s.isDirectory()),
        key=lambda s: s.getModificationTime(),
    )
    removed = 0
    for s in statuses[: max(0, len(statuses) - max(keep, 0))]:
        fs.delete(s.getPath(), True)
        removed += 1
    return removed
