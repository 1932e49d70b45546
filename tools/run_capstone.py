"""The 384k-page full-pipeline capstone (r4 protocol, now a checked-in
tool): run_pipeline end-to-end on the real-Zipf-shaped scaling corpus —
clean → parse → extract → aggregate → distributed merge fixpoint →
top-K 10,000 + bypass → degrees — with durable work_dir checkpointing,
exactly as a production batch would run. Records total wall + the final
graph shape; the final (nodes, edges) counts double as a determinism
check against BENCH/capstone_384k_cold.json (10,000 / 485,054).

Usage: python tools/run_capstone.py [n_pages] [--out BENCH/capstone.json]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_pages = int(args[0]) if args else 384_000
    out_path = "BENCH/capstone.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]

    from pyspark.sql import functions as F

    from openie_spark.corpus import pages_df
    from openie_spark.pipeline import PipelineConfig, run_pipeline
    from openie_spark.session import build_session

    spark = build_session(app_name="capstone")
    spark.sparkContext.setLogLevel("ERROR")

    work_dir = tempfile.mkdtemp(prefix="capstone_wd_")
    try:
        pages = pages_df(spark, n_pages, seed=42, n_sents=6).repartition(96)
        cfg = PipelineConfig.for_scale(
            work_dir=work_dir,
            entities_limit=10_000,
            skip_clustering=True,
            merge_local_threshold=0,
        )
        t0 = time.monotonic()
        out = run_pipeline(spark, pages, cfg, input_fingerprint=f"cap:{n_pages}")
        nodes, edges = out["nodes"], out["edges"]
        n_nodes = nodes.count()
        n_edges = edges.count()
        wall = time.monotonic() - t0
        n_triples = out["triples"].count()

        result = {
            "n_pages": n_pages,
            "n_triples": n_triples,
            "final_nodes": n_nodes,
            "final_edges": n_edges,
            "wall_total_s": round(wall, 1),
            "pages_per_sec_e2e": round(n_pages / wall, 1),
            "triples_per_sec_e2e": round(n_triples / wall, 1),
        }
        print(json.dumps(result))
        (REPO / out_path).write_text(json.dumps(result, indent=1))
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
