"""Benchmark of record for the crawl engine.

    python3 perfbench/run.py --workload crawl_steady --seed 1 --seconds 1 --trace 0

Runs one workload in one process on ``local[nproc]`` and prints, as the
last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it is a
detail record: loadavg at start and end, every timed sample and every
output check. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
wraps the engine's layer entry points, enables the Spark event log and
reports the per-layer metrics instead (see perfbench/README.md).

Each timed operation is the same crawl round: round 1 of a store that
was bootstrapped from the seeded inputs. The store is restored from a
copy before every repetition, so every sample does identical work and
is checked against the same expected outcome.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

# Why each workload exists is recorded in BENCHMARK.json; the shapes are
# sized so one run (set-up included) stays near a minute on 4 cores.
WORKLOADS = {
    # ~2.5k URLs scheduled per timed round, 40 per host over 64 hosts;
    # over 90 % of them come from hosts whose queue exceeds the budget,
    # so politeness budgets, not the frontier, bound the round.
    "crawl_steady": dict(n_urls=12_000, n_hosts=64, n_seeds=10_000,
                         host_budget=40),
    # one URL per host per round over 300 hosts: under 300 URLs, so the
    # round's fixed cost (jobs, planning, commits) dominates.
    "crawl_trickle": dict(n_urls=6_000, n_hosts=300, n_seeds=3_000,
                          host_budget=1),
    # not a benchmark workload: the smallest crawl, for selftest.py
    "tiny": dict(n_urls=600, n_hosts=20, n_seeds=300, host_budget=5),
}
SETUP_REPS = 3          # bootstraps per run; setup_s is their median
MIN_TIMED_ROUNDS = 1
MAX_TIMED_ROUNDS = 12
CHECKED = ("scheduled", "fetched", "failed", "new_urls", "deduped")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _stop_session(spark) -> None:
    """Stop Spark, then shut the JVM down and wait until it has exited
    (it exits when its stdin closes; its Python workers go with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def fit_session_to_host(work: str) -> dict:
    """Size the Spark session to this machine before the JVM starts:
    one task slot per core, a driver heap well under physical memory,
    and the checkout and this directory on PYTHONPATH so Python workers
    can import the engine and the input generator. Temporary files of
    Python and the JVM go under ``work``. Returns extra Spark conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(2, mem_kb // (4 << 20)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    return {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


def _load_inputs(spark, inputs: dict) -> dict:
    """Move the generated frames into Spark (cached) and build the
    corpus with the engine's public image codec. Returns DataFrames, the
    Spark ``xxhash64`` of every canonical URL and the ids of images that
    fail validation, both for the model."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from crawl_inputs import image_valid

    from hyperion_crawler_spark import schemas as S
    from hyperion_crawler_spark.functions.images import encode, make_pixels, phash64

    def corpus_kernel(batches):
        for pdf in batches:
            rows = []
            for iid, w, h, fmt in zip(pdf["image_id"], pdf["w"], pdf["h"], pdf["fmt"]):
                px = make_pixels(iid, int(w), int(h))
                blob, ph = encode(px, fmt), phash64(px)
                rows.append((iid, blob, int(w), int(h), fmt,
                             f"caption of {iid} in en", ph,
                             image_valid(px, blob, fmt, ph)))
            yield pd.DataFrame(rows, columns=[*S.CORPUS.names, "valid"])

    ids = spark.createDataFrame(inputs["ids"])
    generated = ids.select("image_id", "w", "h", "fmt").mapInPandas(
        corpus_kernel, T.StructType([*S.CORPUS.fields,
                                     T.StructField("valid", T.BooleanType())])).persist()
    corpus = generated.select(*S.CORPUS.names)
    seeds = spark.createDataFrame(inputs["seeds"]).persist()
    links = spark.createDataFrame(inputs["links"]).persist()
    robots = spark.createDataFrame(
        inputs["robots"],
        "host string, disallow_prefixes array<string>, "
        "allow_prefixes array<string>, crawl_delay_s double, max_per_round int",
    ).persist()
    for df in (seeds, links, robots):
        df.count()
    invalid = {r[0] for r in generated.filter(~F.col("valid")).select("image_id").collect()}
    hashes = spark.createDataFrame(inputs["ids"][["url"]].reset_index()) \
        .select("index", F.xxhash64("url").alias("h")).toPandas()
    urlhash = np.empty(len(hashes), dtype=np.int64)
    urlhash[hashes["index"].to_numpy()] = hashes["h"].to_numpy()
    return {"corpus": corpus, "seeds": seeds, "links": links,
            "robots": robots, "urlhash": urlhash, "invalid": invalid}


def run_crawl_workload(spark, name: str, seed: int, seconds: float,
                       work: str, tracer=None) -> dict:
    from crawl_inputs import CrawlShape, expected_rounds, generate

    from hyperion_crawler_spark.config import CrawlConfig
    from hyperion_crawler_spark.plans.loop import run_crawl

    shape = CrawlShape(**WORKLOADS[name])
    cfg = CrawlConfig(exact_seen_shadow=False,
                      default_host_budget=shape.host_budget)
    t0 = time.perf_counter()
    inputs = generate(shape, seed)
    data = _load_inputs(spark, inputs)
    inputs_s = time.perf_counter() - t0

    def crawl(store: str, n_rounds: int) -> list[dict]:
        return run_crawl(spark, store, cfg, data["corpus"], data["links"],
                         data["robots"], data["seeds"], n_rounds=n_rounds)

    setup_s = []
    for k in range(SETUP_REPS):
        store = os.path.join(work, f"store{k}")
        t0 = time.perf_counter()
        crawl(store, 0)
        setup_s.append(time.perf_counter() - t0)
    pre_state = os.path.join(work, "bootstrapped")
    shutil.copytree(store, pre_state)

    expected = expected_rounds(inputs, data["urlhash"], data["invalid"], 1)[0]
    samples, outputs, failed = [], [], 0
    t_start = time.perf_counter()
    while len(samples) < MAX_TIMED_ROUNDS and (
            len(samples) < MIN_TIMED_ROUNDS or time.perf_counter() - t_start < seconds):
        shutil.rmtree(store)
        shutil.copytree(pre_state, store)
        if tracer is not None:
            tracer.begin_op(len(samples))
        t0 = time.perf_counter()
        try:
            got = crawl(store, 1)[-1]
        except Exception as exc:  # a failed round is counted, the run goes on
            got = {"error": repr(exc)}
        dt = time.perf_counter() - t0
        if tracer is not None:
            tracer.end_op(got)
        samples.append(dt)
        ok = all(got.get(k) == expected[k] for k in CHECKED)
        failed += not ok
        outputs.append({k: got.get(k) for k in (*CHECKED, "timing", "error")
                        if k in got})
    fetched = sum(o.get("fetched") or 0 for o in outputs)
    return {
        "attempted": len(samples), "failed": failed,
        "metrics": {
            "round_s_p50": (statistics.median(samples), "s"),
            "fetched_urls_per_s": (fetched / sum(samples), "URLs/s"),
            "setup_s": (statistics.median(setup_s), "s"),
        },
        "detail": {"inputs_s": inputs_s, "setup_reps_s": setup_s,
                   "round_s": samples, "expected": expected,
                   "rounds": outputs},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    loadavg_start = _loadavg()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    conf = fit_session_to_host(work)
    try:
        from hyperion_crawler_spark.config import get_spark

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(work)
            conf.update(tracer.spark_conf())
        t0 = time.perf_counter()
        spark = get_spark(app=f"perfbench-{args.workload}", extra_conf=conf)
        session_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.install(spark)
        try:
            res = run_crawl_workload(spark, args.workload, args.seed,
                                     args.seconds, work, tracer)
            cores = spark.sparkContext.defaultParallelism
            pids = [os.getpid(), spark.sparkContext._gateway.proc.pid]
            peak_rss_mb = _peak_rss_mb(pids)
        finally:
            _stop_session(spark)
        if tracer is not None:
            metrics = tracer.fold(cores)
            report_path = tracer.write_report(args.workload, args.seed, metrics)
        else:
            metrics = {**res["metrics"], "peak_rss_mb": (peak_rss_mb, "MB")}
            report_path = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "loadavg_start": loadavg_start, "loadavg_end": _loadavg(),
              "session_s": session_s, "peak_rss_mb": peak_rss_mb,
              "report": report_path, **res["detail"]}
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
