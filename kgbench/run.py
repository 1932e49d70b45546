#!/usr/bin/env python3
"""Run one workload of the KG pipeline benchmark; print its result.

    python3 kgbench/run.py --workload paper_default --seed 7 --seconds 30 --trace 0
    python3 kgbench/run.py --workload all          # every workload, in turn

Run from the repository root. A run:

1. pins the host settings (driver heap, cores, local and temp dirs, all
   under ``.kgbench_scratch/`` in the checkout);
2. generates its inputs from ``--seed`` (untimed; see inputs.py): a pages
   parquet table and a word-vector dict with planted families;
3. sets up ``SETUPS`` times: a new SparkSession from ``build_session``
   and its first job; the first set-up also launches the JVM, and
   ``setup_s`` is the median. The last session's Python workers are then
   started, untimed;
4. times whole CLI-path iterations (``run_pipeline`` → three counts →
   ``write_graph_tables`` → triples parquet) for up to ``--seconds``, at
   least one, and checks each iteration's written outputs: triples equal
   to ``goldens/p500/triples.parquet``'s for the same pages, no extraction
   error rows, a top-K graph without dangling edges, and a node/edge
   digest that repeats across runs.

With ``--trace 1`` it times one traced iteration instead and reports the
per-layer metrics of ``kgbench/trace.py``. The last stdout line is the
result JSON; the line before it records the pinned host settings. The exit
code is 1 when any output check failed or any pipeline run raised.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

STARTED = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRATCH = os.path.join(ROOT, ".kgbench_scratch")
SETUPS = 3
DRIVER_MEM = "2g"
# environment knobs that change what the program runs (debug prints that
# add jobs, conf overlays); a run clears them so the host cannot skew it
CLEARED_ENV = ("SPARK_GRAFT_EXTRA_CONF", "OPENIE_MERGE_DEBUG", "OPENIE_BYPASS_DEBUG")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_host(run_dir: str) -> dict:
    """Pin the settings the program reads from the environment; must run
    before the JVM starts."""
    local_dir = os.path.join(run_dir, "local")
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(local_dir)
    os.makedirs(tmp_dir)
    nproc = len(os.sched_getaffinity(0))
    for key in CLEARED_ENV:
        os.environ.pop(key, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=local_dir,
        TMPDIR=tmp_dir,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"nproc": nproc, "driver_mem": DRIVER_MEM, "local_dir": local_dir, "tmp_dir": tmp_dir}


def session_conf(run_dir: str, trace: bool) -> dict:
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def plain_call(layer, name, fn, *args, **kwargs):
    return fn(*args, **kwargs), None


def cli_iteration(spark, cfg, pages_path: str, emb: dict, out_dir: str, call=plain_call):
    """``python -m openie_spark run --pages P --out O`` (``__main__.py``),
    in-process so the word vectors can be passed."""
    from openie_spark.pipeline import run_pipeline
    from openie_spark.sinks import write_graph_tables

    pages = spark.read.parquet(pages_path)
    out = run_pipeline(
        spark, pages, cfg, embedding_dict=emb, input_fingerprint=f"run:{pages_path}"
    )
    n_triples, _ = call("sinks", "count_triples", out["triples"].count)
    call("sinks", "count_nodes", out["nodes"].count)
    call("sinks", "count_edges", out["edges"].count)
    call("sinks", "write_graph_tables", write_graph_tables, out["nodes"], out["edges"], out_dir)
    call(
        "sinks", "write_triples",
        out["triples"].write.mode("overwrite").parquet, os.path.join(out_dir, "triples"),
    )
    return out, n_triples


def warm_up_python(spark) -> None:
    """Start every Python worker and import the extraction path in it."""

    def load(batches):
        import openie_spark.extract  # noqa: F401

        yield from batches

    spark.range(spark.sparkContext.defaultParallelism * 2).mapInPandas(
        load, "id long"
    ).count()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def program_digest() -> str:
    """Digest of the program's source, so a changed program starts a new
    record instead of failing against the old one's outputs."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "openie_spark")
    for dirpath, dirnames, filenames in sorted(os.walk(pkg)):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:12]


def check_digest(workload: str, seed: int, digest: str) -> list:
    """The final node/edge digest must repeat across every run of one
    (program, workload, seed) in this checkout."""
    store = os.path.join(SCRATCH, "digests")
    os.makedirs(store, exist_ok=True)
    path = os.path.join(store, f"{program_digest()}-{workload}-seed{seed}.txt")
    if os.path.exists(path):
        with open(path) as f:
            first = f.read().strip()
        if first != digest:
            return [f"node/edge digest {digest} differs from an earlier run's {first}"]
        return []
    with open(path, "w") as f:
        f.write(digest + "\n")
    return []


def run(args, run_dir: str, host: dict) -> dict:
    import pyarrow
    import pyspark
    from pyspark.sql import functions as F

    from kgbench import checks, inputs, trace, workloads
    from openie_spark.session import build_session

    wl = workloads.WORKLOADS[args.workload]
    phases = {}  # phase → seconds since the process started, at its end

    def phase(name: str) -> None:
        phases[name] = round(time.perf_counter() - STARTED, 3)

    host.update(spark=pyspark.__version__, pyarrow=pyarrow.__version__, python=sys.version.split()[0])
    conf = session_conf(run_dir, bool(args.trace))
    failures = []
    attempted = failed = 0

    # -- inputs (untimed) --------------------------------------------------
    pages_path = os.path.join(run_dir, "pages.parquet")
    pages = wl.pages(args.seed)
    inputs.write_pages(pages_path, args.seed, pages, host["nproc"])
    urls = inputs.page_urls(pages)
    emb = inputs.embedding_dict(args.seed)
    host.update(pages=len(pages))
    phase("inputs")

    # -- set-up: a SparkSession and its first job, SETUPS times ------------
    # the first also launches the JVM; the median is a warm restart
    setup_s = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(app_name=f"kgbench-{wl.name}", extra_conf=conf)
        spark.range(1).count()
        setup_s.append(time.perf_counter() - t0)
    # untimed: a new session's Python workers would otherwise start inside
    # the first timed Python stage
    warm_up_python(spark)
    phase("setups")

    # -- timed iterations -------------------------------------------------
    walls, rates, digests = [], [], set()
    tracer = trace.Tracer(spark) if args.trace else None
    deadline = time.perf_counter() + args.seconds
    iteration = 0
    while True:
        out_dir = os.path.join(run_dir, f"out{iteration}")
        cfg = wl.config(os.path.join(run_dir, f"work{iteration}"))
        attempted += 1
        if tracer:
            tracer.install()
        t0 = time.perf_counter()
        try:
            out, n_triples = cli_iteration(
                spark, cfg, pages_path, emb, out_dir, tracer.call if tracer else plain_call
            )
        except Exception:
            traceback.print_exc()
            failed += 1
            failures.append(f"iteration {iteration} raised")
            break
        finally:
            if tracer:
                tracer.uninstall()
        wall = time.perf_counter() - t0
        phase(f"iteration{iteration}")
        got, digest = checks.graph_outputs(out_dir, ROOT, urls, cfg.entities_limit)
        errors = out["triples_raw"].filter(F.col("error").isNotNull()).count()
        if errors:
            got.append(f"{errors} extraction error rows")
        digests.add(digest)
        failed += bool(got)
        failures += got
        walls.append(wall)
        rates.append(n_triples / wall)
        phase(f"checks{iteration}")
        iteration += 1
        if tracer or time.perf_counter() + wall > deadline:
            break
    if len(digests) > 1:
        failures.append("node/edge digest differs between iterations")
    elif digests:
        failures += check_digest(wl.name, args.seed, digests.pop())

    if tracer and walls:
        post = tracer.count_outputs()
        log = os.path.join(conf["spark.eventLog.dir"][len("file://"):], spark.sparkContext.applicationId)
        phase("post_counts")
        stop_spark(spark)
        phase("stop")
        values = trace.rollup(log, tracer, post, walls[0], host["nproc"])
        units = {m["name"]: m["unit"] for m in trace.per_layer_spec()}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    else:
        stop_spark(spark)
        phase("stop")
        metrics = {}
        if walls:
            metrics = {
                "wall_s": {"value": statistics.median(walls), "unit": "s"},
                "triples_per_s": {"value": statistics.median(rates), "unit": "1/s"},
            }
        metrics["setup_s"] = {"value": statistics.median(setup_s), "unit": "s"}
        metrics["driver_peak_rss_mb"] = {
            "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
            "unit": "MB",
        }
    for msg in failures:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    phase("end")
    print(json.dumps({"host": host, "iterations": len(walls), "phases": phases}))
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": max(failed, 1) if failures else 0,
        "metrics": metrics,
    }


def run_all(args) -> int:
    from kgbench.workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        print(f"{name} (exit {proc.returncode}): {proc.stdout.strip().splitlines()[-1:]}")
        code = code or proc.returncode
    return code


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    from kgbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    run_dir = os.path.join(SCRATCH, f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    os.makedirs(run_dir)
    try:
        host = pin_host(run_dir)
        result = run(args, run_dir, host)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
