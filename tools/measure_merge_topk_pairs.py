"""Paired N-vs-4N scaling efficiency for the MERGE+TOPK phase (VERDICT r4
item 4): the 0.928 scaling gate covers the extract span, but the 384k
capstone showed merge+topk is 543s of the 606s cold run — this measures
that phase's own efficiency at 1M-node scale.

Protocol mirrors BENCH/BASELINE.md: each leg is a separate JVM pinned with
taskset to exactly its core count (cpuset spread across the vCPU range to
dodge SMT-sibling co-scheduling), SPARK_GRAFT_CPUS drives local[N] and
shuffle partitions (2x cores), legs of a pair run back-to-back in the same
hypervisor window (paired efficiency cancels credit drift), pair order
alternates per rep, cooldowns between runs. Children are the existing
self-checking tools (tools/measure_merge_scale.py — closed-form expected
merge count; tools/measure_topk_scale.py), so every timed run also
verifies its own output.

Efficiency per pair = (throughput_4N / throughput_N) / 4, throughput =
workload rows / measured span (merge: fixpoint wall over n_nodes; topk:
find_nodes_to_keep + bypass wall over n_nodes).

Usage: python tools/measure_merge_topk_pairs.py [--reps 2] [--groups 250000]
       [--noise-edges 2400000] [--topk-nodes 1000000] [--topk-edges 3000000]
       [--cores-n 2] [--out BENCH/merge_topk_scaling.json]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# pinned sets spread across the vCPU range (32 vCPUs): avoid SMT siblings
CPUSETS = {
    1: "0",
    2: "0,16",
    4: "0,8,16,24",
    8: "0,4,8,12,16,20,24,28",
    16: "0,2,4,6,8,10,12,14,16,18,20,22,24,26,28,30",
    32: ",".join(str(i) for i in range(32)),
}


def _steal_pct():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v, (lambda a, b: round(100.0 * (b[7] - a[7]) / max(sum(b) - sum(a), 1), 2))


def run_child(tool: str, args: list[str], cores: int) -> dict:
    cmd = [
        "taskset",
        "-c",
        CPUSETS[cores],
        sys.executable,
        str(REPO / "tools" / tool),
        *args,
    ]
    env = dict(__import__("os").environ, SPARK_GRAFT_CPUS=str(cores))
    before, steal = _steal_pct()
    t0 = time.monotonic()
    proc = subprocess.run(
        cmd, capture_output=True, text=True, cwd=str(REPO), env=env
    )
    wall = time.monotonic() - t0
    after, _ = _steal_pct()
    line = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else "{}"
    try:
        out = json.loads(line)
    except json.JSONDecodeError:
        out = {"error": line[:400]}
    out["leg_wall_s"] = round(wall, 1)
    out["steal_pct"] = steal(before, after)
    out["cores"] = cores
    out["rc"] = proc.returncode
    if proc.returncode != 0:
        out["stderr_tail"] = proc.stderr[-400:]
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--groups", type=int, default=250_000)
    ap.add_argument("--noise-edges", type=int, default=2_400_000)
    ap.add_argument("--topk-nodes", type=int, default=1_000_000)
    ap.add_argument("--topk-edges", type=int, default=3_000_000)
    ap.add_argument("--cores-n", type=int, default=2)
    ap.add_argument("--cooldown", type=int, default=45)
    ap.add_argument("--out", default="BENCH/merge_topk_scaling.json")
    args = ap.parse_args()

    n, n4 = args.cores_n, args.cores_n * 4
    merge_args = [str(args.groups), str(args.noise_edges)]
    topk_args = [str(args.topk_nodes), str(args.topk_edges)]

    results = {"merge": [], "topk": []}
    for rep in range(args.reps):
        legs = [n, n4] if rep % 2 == 0 else [n4, n]
        for phase, tool, targs, span_keys in (
            ("merge", "measure_merge_scale.py", merge_args, ("wall_s",)),
            (
                "topk",
                "measure_topk_scale.py",
                topk_args,
                ("find_nodes_to_keep_s", "bypass_s"),
            ),
        ):
            pair = {}
            for cores in legs:
                print(
                    f"rep {rep + 1}/{args.reps} {phase} @ {cores} cores...",
                    file=sys.stderr,
                    flush=True,
                )
                r = run_child(tool, targs, cores)
                span = sum(float(r.get(k, 0.0)) for k in span_keys)
                r["span_s"] = round(span, 1)
                pair[cores] = r
                time.sleep(args.cooldown)
            work = pair[n].get("n_nodes") or 1
            tput = {c: work / max(pair[c]["span_s"], 1e-9) for c in (n, n4)}
            eff = round((tput[n4] / tput[n]) / 4.0, 3)
            results[phase].append(
                {
                    "rep": rep,
                    "order": legs,
                    "eff_paired": eff,
                    **{f"span_{c}c_s": pair[c]["span_s"] for c in (n, n4)},
                    **{f"steal_{c}c_pct": pair[c]["steal_pct"] for c in (n, n4)},
                    **{f"rc_{c}c": pair[c]["rc"] for c in (n, n4)},
                    "detail": pair,
                }
            )
            print(
                f"  {phase}: {pair[n]['span_s']}s@{n}c {pair[n4]['span_s']}s@{n4}c"
                f" eff={eff}",
                file=sys.stderr,
                flush=True,
            )

    summary = {
        phase: {
            "median_paired_eff": round(
                statistics.median(r["eff_paired"] for r in results[phase]), 3
            ),
            "effs": [r["eff_paired"] for r in results[phase]],
        }
        for phase in results
        if results[phase]
    }
    out = {
        "protocol": f"taskset-pinned {n} vs {n4} cores, interleaved pairs, "
        f"shuffle partitions 2x cores, reps={args.reps}",
        "summary": summary,
        "runs": results,
    }
    (REPO / args.out).write_text(json.dumps(out, indent=1))
    print(json.dumps({"summary": summary}))


if __name__ == "__main__":
    main()
