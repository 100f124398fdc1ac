"""The repository's benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload crawl_polite_resume --seed 1 \
        --seconds 20 --trace 0

Generates the seed's inputs and oracle goldens (cached under
``.perfbench_work/inputs``, outside every timing), then runs the
workload in a fresh worker process on ``local[<cores>]`` with a heap
sized from the machine's memory. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``; the per-layer metrics with
``--trace 1``, which runs the workload twice — untraced, then with
spans, job groups and Spark's event log — and reports the tracing
overhead as the difference of the two ``job_s``). Lines before it,
prefixed ``#``, give the environment and every metric by name.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout; the per-run dir (checkpoints, Spark local dir, temp files,
event log) is deleted at the end.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl_polite_resume", "corpus_dedup")
DEADLINE_S = 170

# (name, unit) of every reported metric; BENCHMARK.json lists the same
END_TO_END = (("setup_s", "s"), ("job_s", "s"), ("items_per_s", "1/s"),
              ("driver_rss_mb", "MB"))
_SPAN = tuple((f"{span}.{m}", u) for span in ("explore", "resolve",
                                              "run_corpus")
              for m, u in (("task_s", "s"), ("shuffle_write_mb", "MB"),
                           ("spill_mb", "MB"), ("task_skew", "ratio"),
                           ("skew_task_max_s", "s"),
                           ("skew_task_p50_s", "s")))
PER_LAYER = (
    ("session.start_s", "s"),
    ("frontier.init_s", "s"), ("frontier.explore_s", "s"),
    ("frontier.rounds", "count"), ("frontier.round_p50_s", "s"),
    ("frontier.resume_s", "s"), ("frontier.explore_unaccounted_s", "s"),
    ("frontier.scheduled", "count"), ("frontier.fetched", "count"),
    ("frontier.edges", "count"), ("frontier.visits", "count"),
    ("frontier.visit_yield", "ratio"), ("frontier.select_s", "s"),
    ("frontier.fetch_extract_s", "s"), ("frontier.admit_s", "s"),
    ("frontier.resolve_s", "s"), ("frontier.nodes_write_s", "s"),
    ("frontier.skeleton_write_s", "s"), ("frontier.claims_rejoin_s", "s"),
    ("frontier.visits_job_s", "s"), ("dfs_kernel.sweep_s", "s"),
    ("tables.resume_init_s", "s"), ("tables.ckpt_mb", "MB"),
    ("tables.ckpt_files", "count"), ("cluster.minhash_dedup_s", "s"),
    ("cluster.embedding_dedup_s", "s"), ("corpus.features_exact_s", "s"),
    ("corpus.docs_in", "count"), ("corpus.docs_canonical", "count"),
) + _SPAN + (
    ("trace.untraced_job_s", "s"), ("trace.traced_job_s", "s"),
    ("trace.overhead_s", "s"), ("host.steal_share", "share"),
    ("failed_share", "share"))


def machine_heap() -> str:
    """Driver heap: a sixth of physical memory, 1-6 GB (the program's
    32g default with a pre-touched heap cannot start on small hosts)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1, min(6, kb // 2**20 // 6))}g"


def reap(pgid: int, deadline: float) -> None:
    """Kill what is left of the worker's process group and wait for
    every descendant (this process is their subreaper)."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    while time.time() < deadline:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)


def run_worker(a, traced: int, inputs: str, run_dir: str,
               cores: int, heap: str, deadline: float) -> dict:
    out = os.path.join(run_dir, f"result-{traced}.json")
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join(
                   [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
               PYSPARK_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(cores),
               SPARK_GRAFT_DRIVER_MEM=heap,
               SPARK_GRAFT_LOCAL_DIR=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_KERNEL_CACHE=os.path.join(a.work, "kernels"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    os.makedirs(env["TMPDIR"], exist_ok=True)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", a.workload, "--seconds", str(a.seconds),
           "--traced", str(traced), "--cores", str(cores),
           "--inputs", inputs,
           "--run-dir", run_dir, "--out", out]
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, start_new_session=True,
                            stdout=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        code = None
    reap(proc.pid, time.time() + 15)
    if code != 0:
        raise RuntimeError(f"worker ({'traced' if traced else 'untraced'}) "
                           f"{'timed out' if code is None else f'exited {code}'}")
    with open(out) as f:
        return json.load(f)


def metrics(res: dict, names) -> dict:
    return {n: {"value": res[n], "unit": u} for n, u in names}


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "__init__.py")):
        print("perfbench: crawler_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    # orphaned Spark/JVM descendants re-parent here, so reap() can
    # wait for all of them (PR_SET_CHILD_SUBREAPER)
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    a.work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(a.work, "runs",
                           f"{a.workload}-seed{a.seed}-{os.getpid()}")
    cores = len(os.sched_getaffinity(0))
    heap = machine_heap()
    deadline = t_start + DEADLINE_S
    try:
        t = time.time()
        inputs = workloads.prepare(a.workload, a.work, a.seed)
        print(f"# inputs ready in {time.time() - t:.2f} s", file=sys.stderr)
        runs = []
        for traced in ((0, 1) if a.trace else (0,)):
            shutil.rmtree(run_dir, ignore_errors=True)
            os.makedirs(run_dir)
            runs.append(run_worker(a, traced, inputs, run_dir, cores, heap,
                                   deadline))
    except Exception as exc:  # noqa: BLE001 — report, then fail the run
        print(f"# run failed: {exc!r}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    base = runs[0]
    attempted = sum(len(r["reps"]) for r in runs)
    failed = sum(r["failed"] for r in runs)
    for e in sorted({e for r in runs for e in r["errors"]}):
        print(f"# verification: {e}", file=sys.stderr)
    e2e = dict(base["end_to_end"], setup_s=base["setup"]["setup_s"])
    out = metrics(e2e, END_TO_END)
    if a.trace:
        traced = runs[1]
        layers = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        layers.update(traced["layers"])
        layers["session.start_s"] = traced["setup"]["session.start_s"]
        layers["frontier.init_s"] = traced["setup"]["frontier.init_s"]
        for span, vals in traced["span_metrics"].items():
            for m, v in vals.items():
                if f"{span}.{m}" in layers:
                    layers[f"{span}.{m}"] = v
        layers["trace.untraced_job_s"] = base["end_to_end"]["job_s"]
        layers["trace.traced_job_s"] = traced["end_to_end"]["job_s"]
        layers["trace.overhead_s"] = (traced["end_to_end"]["job_s"]
                                      - base["end_to_end"]["job_s"])
        layers["failed_share"] = failed / attempted
        out = metrics(layers, PER_LAYER)
        trace_file = os.path.join(a.work, "traces",
                                  f"{a.workload}-seed{a.seed}.json")
        os.makedirs(os.path.dirname(trace_file), exist_ok=True)
        with open(trace_file, "w") as f:
            json.dump({"untraced": base["spans"], "traced": traced["spans"],
                       "span_metrics": traced["span_metrics"]}, f, indent=1)
    print("# env " + json.dumps(dict(
        base["env"], steal_share=base["layers"]["host.steal_share"])))
    for name, m in out.items():
        print(f"# {a.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
