"""One benchmark run in a fresh process: start the session, set up,
run the timed job, check its output, and write the result as JSON.

Started by run.py, which prepares the inputs and goldens beforehand
and sets the environment (machine-sized heap, scratch dirs inside the
run dir). Times only calls into the program's public functions; the
rest is read from counters the program writes itself
(``<ckpt>/metrics.jsonl``, ``FrontierEngine.timings``).

    python3 perfbench/worker.py --workload crawl_polite_resume \
        --seconds 20 --traced 0 --cores 4 \
        --inputs WEB --run-dir DIR --out result.json
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import workloads  # noqa: E402
from spans import Tracer, event_log_conf, span_task_metrics  # noqa: E402


def log(msg: str) -> None:
    print(f"# [{time.time() - T_PROCESS:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def rss_mb() -> float:
    """Peak RSS of this process image (VmHWM). ru_maxrss would also
    count the pre-exec peak inherited from run.py, which varies with
    the inputs it just generated."""
    with open("/proc/self/status") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("VmHWM:"))
    return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def steal_share(since: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests since
    ``since`` — the noise floor of every timing in the run."""
    steal, total = cpu_ticks()
    return (steal - since[0]) / max(1, total - since[1])


def dir_stats(path: str) -> tuple[float, int]:
    size, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size / 2**20, files


def read_rounds(ckpt: str) -> list[dict]:
    with open(os.path.join(ckpt, "metrics.jsonl")) as f:
        return [json.loads(line) for line in f]


# ---------------------------------------------------------------- crawl

def crawl_engine(spark, web: str, ckpt: str):
    from crawler_spark.engine.frontier import FrontierEngine

    return FrontierEngine(spark, workloads.CRAWL_CFG, web, ckpt,
                          enforce_politeness=True)


def crawl_once(tracer: Tracer, eng, k: int) -> dict:
    """The timed crawl: explore ``k`` rounds, restart on the same
    checkpoint in a fresh engine, finish, resolve and materialize the
    visits."""
    ckpt = eng.ckpt
    t0 = time.time()
    with tracer.span("explore"):
        eng.explore(max_rounds=k)
    t_explore = time.time() - t0
    log(f"explored {k} rounds in {t_explore:.2f} s")
    t_pause = time.time()
    ckpt_mb, ckpt_files = dir_stats(ckpt)
    rounds_before = len(read_rounds(ckpt))
    paused = time.time() - t_pause
    t1 = time.time()
    with tracer.span("resume"):
        with tracer.span("resume_init"):
            eng = crawl_engine(eng.spark, eng.fixture_dir, ckpt)
        t_init = time.time() - t1
        t2 = time.time()
        with tracer.span("explore"):
            eng.explore(max_rounds=k + 1)
        t_first = time.time() - t2
    resume_s = time.time() - t1
    log(f"resumed in {resume_s:.2f} s")
    t3 = time.time()
    with tracer.span("explore"):
        eng.explore()
    t_explore += t_first + time.time() - t3
    t4 = time.time()
    log(f"explore done ({t_explore:.2f} s)")
    with tracer.span("resolve"):
        visits = eng.resolve()
    t5 = time.time()
    with tracer.span("visits"):
        rows = visits.orderBy("visit_rank").collect()
    t6 = time.time()
    log(f"resolved in {t5 - t4:.2f} s, {len(rows)} visits in {t6 - t5:.2f} s")
    for m in read_rounds(ckpt):
        log(f"round {m['round']}: {m['scheduled']} scheduled, "
            f"{m['fetched']} fetched, {m['wall_sec']} s {m['steps']}")
    return {"eng": eng, "visits": visits, "rows": rows,
            "job_s": t6 - t0 - paused, "explore_s": t_explore,
            "resume_s": resume_s, "resume_init_s": t_init,
            "resolve_s": t5 - t4, "visits_job_s": t6 - t5,
            "timings": dict(eng.timings), "rounds": read_rounds(ckpt),
            "rounds_before_resume": rounds_before,
            "ckpt_mb": ckpt_mb, "ckpt_files": ckpt_files}


def crawl_verify(r: dict, gold: dict) -> list[str]:
    """Differences from the oracle: the ten visit fields row for row,
    the URL-seen set and the image refs of the visited pages."""
    errors = []
    got = [(x["visit_rank"], x["url"], x["url_hash"], x["host"], x["depth"],
            x["parent_url"], x["link_index"], x["prio"], x["status_code"],
            x["batch_id"]) for x in r["rows"]]
    if got != gold["visits"]:
        bad = next((i for i, (a, b) in enumerate(zip(got, gold["visits"]))
                    if a != b), min(len(got), len(gold["visits"])))
        errors.append(f"visits differ from the oracle at rank {bad} "
                      f"({len(got)} vs {len(gold['visits'])} rows)")
    if {x["url"] for x in r["rows"]} != gold["seen"]:
        errors.append("URL-seen set differs from the oracle")
    eng, visits = r["eng"], r["visits"]
    refs = {(x["page_url"], x["src"], x["caption"])
            for x in eng.image_refs(visits).collect()}
    if refs != gold["image_refs"]:
        errors.append("image refs differ from the oracle")
    if r["rounds_before_resume"] != workloads.INTERRUPT_AFTER or \
            len(r["rounds"]) <= workloads.INTERRUPT_AFTER + 1:
        errors.append("crawl did not run past the interruption point")
    return errors


def crawl_layers(r: dict) -> dict:
    rounds = r["rounds"]
    step = lambda s: sum(m["steps"].get(s, 0.0) for m in rounds)  # noqa: E731
    fetched = sum(m["fetched"] for m in rounds)
    t = r["timings"]
    return {
        "frontier.explore_s": r["explore_s"],
        "frontier.rounds": len(rounds),
        "frontier.round_p50_s": statistics.median(m["wall_sec"]
                                                  for m in rounds),
        "frontier.resume_s": r["resume_s"],
        "frontier.explore_unaccounted_s": r["explore_s"] - sum(
            sum(m["steps"].values()) for m in rounds),
        "frontier.scheduled": sum(m["scheduled"] for m in rounds),
        "frontier.fetched": fetched,
        "frontier.edges": sum(m["edges"] for m in rounds),
        "frontier.visits": len(r["rows"]),
        "frontier.visit_yield": len(r["rows"]) / fetched,
        "frontier.select_s": step("select"),
        "frontier.fetch_extract_s": step("fetch_extract"),
        "frontier.admit_s": step("admit"),
        "frontier.resolve_s": r["resolve_s"],
        "frontier.nodes_write_s": t.get("nodes_write", 0.0),
        "frontier.skeleton_write_s": t.get("skeleton_write", 0.0),
        "frontier.claims_rejoin_s": t.get("claims_rejoin", 0.0),
        "frontier.visits_job_s": r["visits_job_s"],
        "dfs_kernel.sweep_s": t.get("dfs_sweep", 0.0) + t.get("csr_pass", 0.0),
        "tables.resume_init_s": r["resume_init_s"],
        "tables.ckpt_mb": r["ckpt_mb"],
        "tables.ckpt_files": r["ckpt_files"],
    }


def run_crawl(spark, tracer: Tracer, a, setup: dict) -> dict:
    web = a.inputs
    gold = None
    reps, ckpts = [], itertools.count(1)

    def ckpt():
        return os.path.join(a.run_dir, f"ckpt{next(ckpts)}")

    t = time.time()
    with tracer.span("frontier_init"):
        eng = crawl_engine(spark, web, ckpt())
    setup["frontier.init_s"] = time.time() - t
    log(f"engine built in {setup['frontier.init_s']:.2f} s")
    setup["setup_s"] = setup["session.start_s"] + setup["frontier.init_s"]
    failed = 0
    t_job, ticks = time.time(), cpu_ticks()
    while not reps or time.time() - t_job < a.seconds:
        if reps:
            eng = crawl_engine(spark, web, ckpt())
        r = crawl_once(tracer, eng, workloads.INTERRUPT_AFTER)
        r["rss"] = rss_mb()
        # loaded after the first RSS reading: the golden is not part
        # of the driver's footprint
        gold = gold or workloads.load_golden(web)
        r["errors"] = crawl_verify(r, gold)
        failed += bool(r["errors"])
        reps.append(r)
    layers = {"host.steal_share": steal_share(ticks)}
    mid = sorted(reps, key=lambda x: x["job_s"])[(len(reps) - 1) // 2]
    layers.update(crawl_layers(mid))
    fetched = sum(m["fetched"] for m in mid["rounds"])
    return {"reps": reps, "failed": failed,
            "errors": [e for r in reps for e in r["errors"]],
            "end_to_end": {
                "job_s": mid["job_s"],
                "items_per_s": fetched / mid["explore_s"],
                "driver_rss_mb": max(r["rss"] for r in reps)},
            "layers": layers}


# --------------------------------------------------------------- corpus

def run_corpus_workload(spark, tracer: Tracer, a, setup: dict) -> dict:
    from jobs.corpus_job import run_corpus

    setup["frontier.init_s"] = 0.0
    setup["setup_s"] = setup["session.start_s"]
    reps, failed = [], 0
    t_job, ticks = time.time(), cpu_ticks()
    while not reps or time.time() - t_job < a.seconds:
        out = os.path.join(a.run_dir, f"corpus{len(reps)}")
        n_spans = len(tracer.spans)
        t0 = time.time()
        with tracer.span("run_corpus"):
            stats = run_corpus(
                spark, os.path.join(a.inputs, "documents.parquet"), out,
                embeddings=os.path.join(a.inputs, "embeddings.parquet"),
                **workloads.CORPUS_ARGS)
        r = {"job_s": time.time() - t0, "stats": stats, "rss": rss_mb()}
        log(f"run_corpus in {r['job_s']:.2f} s: {stats}")
        mine = tracer.spans[n_spans:]
        part = {n: sum(s["end"] - s["start"] for s in mine
                       if s["name"] == n)
                for n in ("minhash_dedup", "embedding_dedup")}
        r["errors"] = workloads.verify_corpus(out, stats, a.inputs)
        failed += bool(r["errors"])
        r["part"] = part
        reps.append(r)
    mid = sorted(reps, key=lambda x: x["job_s"])[(len(reps) - 1) // 2]
    layers = {"host.steal_share": steal_share(ticks),
              "corpus.docs_in": mid["stats"]["docs_in"],
              "corpus.docs_canonical": mid["stats"]["docs_canonical"],
              "cluster.minhash_dedup_s": mid["part"]["minhash_dedup"],
              "cluster.embedding_dedup_s": mid["part"]["embedding_dedup"],
              "corpus.features_exact_s": (mid["job_s"]
                                          - sum(mid["part"].values()))}
    return {"reps": reps, "failed": failed,
            "errors": [e for r in reps for e in r["errors"]],
            "end_to_end": {
                "job_s": mid["job_s"],
                "items_per_s": mid["stats"]["docs_in"] / mid["job_s"],
                "driver_rss_mb": max(r["rss"] for r in reps)},
            "layers": layers}


# ----------------------------------------------------------------- main

def start_session(a, tracer: Tracer):
    from crawler_spark.plans.session import get_spark

    extra = {
        # JVM scratch (hsperfdata, temp files) and the catalog's
        # warehouse stay inside the run dir
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(a.run_dir, "warehouse"),
    }
    if a.traced:
        extra.update(event_log_conf(os.path.join(a.run_dir, "eventlog")))
    t = time.time()
    spark = get_spark("perfbench", cores=a.cores, extra_conf=extra)
    tracer.spark = spark
    return spark, time.time() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    tracer = Tracer(bool(a.traced))
    if a.workload == "corpus_dedup":
        import crawler_spark.operators.cluster as cluster
        workloads.keep_cc_in(cluster, os.path.join(a.run_dir, "cc"))
        tracer.wrap(cluster, "minhash_dedup")
        tracer.wrap(cluster, "embedding_dedup")

        run = run_corpus_workload
    else:
        run = run_crawl
    with tracer.span("session"):
        spark, t_session = start_session(a, tracer)
    log(f"session started in {t_session:.2f} s")
    setup = {"session.start_s": t_session}
    try:
        res = run(spark, tracer, a, setup)
        res["env"] = {
            "cores": a.cores,
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version")}
    finally:
        stop_session(spark)
    res["setup"] = setup
    res["spans"] = tracer.spans
    if a.traced:
        res["span_metrics"] = span_task_metrics(
            os.path.join(a.run_dir, "eventlog"),
            {s: tracer.subtree(s) for s in ("explore", "resolve",
                                            "run_corpus")})
    for r in res["reps"]:
        for k in ("eng", "visits", "rows"):
            r.pop(k, None)
    with open(a.out, "w") as f:
        json.dump(res, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
