"""A/B-bench the unfused clean→parse→extract stages vs the fused
single-mapInPandas path (run_pipeline without a work_dir) to decide the
no-work_dir default (VERDICT r3 item 7).

Protocol: same deterministic corpus, interleaved reps (fused/unfused
alternating so hypervisor burst-credit decay hits both equally), cooldown
between reps, per-variant MEDIAN reported. Output: one JSON line.

Usage: python tools/bench_fuse.py [n_pages] [reps] [cooldown_s]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    cooldown = int(sys.argv[3]) if len(sys.argv) > 3 else 20

    from openie_spark.corpus import STOPWORDS_FIXTURE, pages_df
    from openie_spark.extract import (
        extract_triples_df,
        extract_triples_from_pages,
        ok_triples,
    )
    from openie_spark.parse import parse_pages
    from openie_spark.session import build_session
    from openie_spark.textclean import clean_pages

    spark = build_session(app_name="bench-fuse")
    spark.sparkContext.setLogLevel("ERROR")
    stop = frozenset(STOPWORDS_FIXTURE)
    pages = pages_df(spark, n_pages, seed=42, n_sents=6).cache()
    pages.count()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    def unfused():
        force(
            ok_triples(
                extract_triples_df(
                    parse_pages(clean_pages(pages, lang="ru")), stop,
                    with_vectors=True,
                )
            )
        )

    def fused():
        force(
            ok_triples(
                extract_triples_from_pages(
                    pages, stop, with_vectors=True, lang="ru"
                )
            )
        )

    # warm both shapes (JIT + Python workers) before timing
    unfused()
    fused()

    t_unfused, t_fused = [], []
    for r in range(reps):
        time.sleep(cooldown)
        t0 = time.monotonic()
        unfused()
        t_unfused.append(time.monotonic() - t0)
        time.sleep(cooldown)
        t0 = time.monotonic()
        fused()
        t_fused.append(time.monotonic() - t0)
        print(
            f"rep{r}: unfused={t_unfused[-1]:.2f}s fused={t_fused[-1]:.2f}s",
            file=sys.stderr,
        )

    mu, mf = statistics.median(t_unfused), statistics.median(t_fused)
    print(
        json.dumps(
            {
                "n_pages": n_pages,
                "reps": reps,
                "unfused_median_s": round(mu, 3),
                "fused_median_s": round(mf, 3),
                "fused_speedup": round(mu / mf, 3),
                "unfused_all": [round(x, 3) for x in t_unfused],
                "fused_all": [round(x, 3) for x in t_fused],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
