#!/usr/bin/env python3
"""Benchmark of the molecule product path: ingest, curate and near_dup.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --steady 10 --seconds 12     # steadiness mode
    python3 perfbench/selftest.py                         # checks catch planted faults

One run builds the program (once per source tree, see build.py), generates the
seeded inputs, starts a fresh JVM with a fixed heap, runs an untimed cold pass
over a slice of the inputs, untimed warm-up passes and then timed passes for
--seconds (at least 3), checks the last pass's outputs against facts computed
apart from the program (check.py), and prints the run's environment and, as its
last line, one JSON object. With --trace 0 the object holds the end-to-end
metrics; with --trace 1 it holds the per-layer metrics of the traced passes and
the layer probes. Everything it writes goes under `.bench_build/` of the
checkout.
"""

import argparse
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

# ingest and curate are the workloads of BENCHMARK.json; near_dup is run by
# hand (README: its recall check fails on about one seed in a hundred)
WORKLOADS = ("ingest", "curate", "near_dup")
HEAP = "2g"
# untimed full-size warm-up passes after the cold slice pass: without one,
# the first timed ingest pass still spends about 5 CPU-s more on JIT than the
# third, and curate's first full pass is 30-50 % slower than later ones
WARMUP = {"ingest": 1, "curate": 1, "near_dup": 0}
MIN_PASSES = 3
# CPUs of the benchmark JVM, and so its Spark task threads (see jvm_cpus)
JVM_CPUS = 2
DEADLINE_S = 170

END_TO_END = {"setup_s": "s", "records_per_s": "1/s", "cpu_s_per_mrec": "s",
              "output_bytes_per_record": "B", "heap_live_mb": "MB"}
PER_LAYER = {
    "sources.sdf_split_s": "s", "sources.zinc_read_s": "s", "sources.input_mb": "MB",
    "plans.sdf_props_s": "s", "plans.codegen_compiles": "count",
    "operators.provenance_s": "s",
    "sinks.ndjson_write_s": "s", "sinks.jobs_per_write": "count",
    "sinks.shuffle_write_mb": "MB", "sinks.input_reads_per_write": "ratio",
    "sinks.output_mb": "MB",
    "checkpoint.commit_s": "s", "checkpoint.commits": "count",
    "report.render_s": "s",
    "cli.session_start_s": "s", "cli.ingest_s": "s", "cli.query_plan_s": "s",
    "cli.query_exec_s": "s",
    "functions.is_valid_s": "s", "functions.normalize_s": "s",
    "functions.molecular_weight_s": "s", "functions.morgan_fp_s": "s",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_cpu_s": "s",
    "spark.task_run_s": "s", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "trace.overhead_s": "s",
}
# printed by traced near_dup runs only
NEAR_DUP_LAYER = {
    "operators.minhash_candidates_s": "s", "operators.candidate_pairs": "count",
    "operators.verified_pairs": "count", "operators.verify_yield": "ratio",
    "operators.ann_banded_s": "s", "operators.source_overlap_s": "s",
}

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm_cpus():
    """The CPUs the benchmark JVM is pinned to: the first JVM_CPUS allowed ones.

    On a shared 4-vCPU virtual machine, a JVM spread over every vCPU saw
    4-21 % steal that changed from minute to minute and moved ingest pass
    times by up to 50 % between runs. Pinned to two vCPUs, steal stayed under
    6 % and the quartile spread of records_per_s fell from 0.20-0.23 to
    0.07-0.10 (README, Steadiness).
    """
    if not hasattr(os, "sched_getaffinity"):
        return None
    return sorted(os.sched_getaffinity(0))[:JVM_CPUS]


def master():
    cpus = jvm_cpus()
    return f"local[{len(cpus) if cpus else min(JVM_CPUS, nproc())}]"


# --------------------------------------------------------------- inputs ----

def inputs_for(bb, kind, seed):
    """Generate (or reuse, for the same seed and generator) one input set."""
    d = os.path.join(bb, "inputs", kind)
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        stamp = {"seed": seed, "gen": hashlib.sha256(f.read()).hexdigest()}
    stamp_path = os.path.join(d, "stamp.json")
    try:
        with open(stamp_path) as f:
            if json.load(f) == stamp:
                with open(os.path.join(d, "facts.pickle"), "rb") as g:
                    return pickle.load(g)
    except (OSError, ValueError, EOFError):
        pass
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    facts = gen.GENERATORS[kind](d, seed)
    with open(os.path.join(d, "facts.pickle"), "wb") as g:
        pickle.dump(facts, g)
    with open(stamp_path, "w") as f:
        json.dump(stamp, f)
    return facts


def write_configs(bb, workload):
    """Job YAML, curation SQL and pipeline YAML of one work directory."""
    inp = os.path.join(bb, "inputs")
    work = os.path.join(bb, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    def put(name, text):
        with open(os.path.join(work, name), "w", encoding="utf-8") as f:
            f.write(text)

    if workload in ("ingest", "probe"):
        put("job.yaml", gen.ingest_yaml(os.path.join(inp, "ingest"),
                                        os.path.join(work, "out"), os.path.join(work, "ckpt")))
        # the cold warm-up pass reads one file per source
        put("job-warm.yaml", gen.ingest_yaml(
            os.path.join(inp, "ingest"), os.path.join(work, "warm-out"),
            os.path.join(work, "warm-ckpt"), "Compound_000.sdf.gz", "tranche_000.txt.gz"))
    if workload in ("curate", "probe"):
        put("curate.sql", gen.CURATE_SQL.format(input=os.path.join(inp, "curate", "input")))
        put("curate-warm.sql", gen.CURATE_SQL.format(
            input=os.path.join(inp, "curate", "input", "curated-batch-001.jsonl.gz")))
        put("pipeline.yaml", gen.curate_pipeline_yaml(os.path.join(inp, "curate", "slice"),
                                                      os.path.join(work, "pipeline-out")))
    return work


# ------------------------------------------------------------------ JVM ----

def jvm_command(root, classes, args, traced):
    main_cls, bench_cls, jars = classes
    bb = os.path.join(root, ".bench_build")
    tmp = os.path.join(bb, "tmp")
    os.makedirs(tmp, exist_ok=True)
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(bb, 'warehouse')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if traced:
        props.append("-Dspark.extraListeners=perfbench.Probe")
    cp = os.pathsep.join([main_cls, bench_cls, os.path.join(jars, "*")])
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"] + ADD_OPENS + props
            + ["-cp", cp, "perfbench.Bench"] + [str(x) for x in args])


def jvm_env():
    env = {k: v for k, v in os.environ.items()
           if not (k.startswith("SPARK_GRAFT") or k == "GRAFT_AB")}
    env["SPARK_MASTER"] = master()
    return env


def run_jvm(root, cmd, logpath, deadline):
    """Run one benchmark JVM; return seconds from its start to READY."""
    jvm_dir = os.path.join(root, ".bench_build", "jvm")
    os.makedirs(jvm_dir, exist_ok=True)
    with open(logpath, "ab") as lf:
        t0 = time.perf_counter()
        cpus = jvm_cpus()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=jvm_dir,
                             env=jvm_env(), text=True,
                             preexec_fn=(lambda: os.sched_setaffinity(0, cpus)) if cpus else None)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), p.kill)
        timer.start()
        try:
            ready = None
            for line in p.stdout:
                if line.strip() == "READY" and ready is None:
                    ready = time.perf_counter() - t0
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or ready is None:
        with open(logpath, "rb") as lf:
            tail = lf.read()[-3000:].decode("utf-8", "replace")
        raise RuntimeError(f"benchmark JVM failed (exit {rc}); log {logpath}:\n{tail}")
    return ready


def cpu_times():
    """(steal, total) jiffies of the machine, or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7] if len(v) > 7 else 0, sum(v)
    except (OSError, ValueError):
        return None


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none (not a git checkout)"
    except (OSError, subprocess.SubprocessError):
        return "none (git unavailable)"


# ------------------------------------------------------------------ run ----

def run(root, workload, seed, seconds, trace):
    bb = os.path.join(root, ".bench_build")
    classes = build.ensure(root)
    # the first run in a checkout also builds; the deadline counts from here
    deadline = time.monotonic() + DEADLINE_S
    facts = {workload: inputs_for(bb, workload, seed)}
    work = write_configs(bb, workload)
    probe = write_configs(bb, "probe") if trace else ""
    os.makedirs(os.path.join(bb, "logs"), exist_ok=True)
    logpath = os.path.join(bb, "logs", f"{workload}-{seed}-{'trace' if trace else 'run'}.log")
    if os.path.exists(logpath):
        os.remove(logpath)
    result_path = os.path.join(work, "result.json")
    nd = gen.NEAR_DUP
    args = ["--workload", workload, "--seconds", seconds,
            "--trace", trace, "--warmup", WARMUP[workload], "--min_passes", MIN_PASSES,
            "--work", work, "--inputs", os.path.join(bb, "inputs"), "--probe", probe or "-",
            "--result", result_path, "--text_threshold", nd["text_threshold"],
            "--vec_threshold", nd["vec_threshold"]]
    cpu0 = cpu_times()
    setup = run_jvm(root, jvm_command(root, classes, args, trace), logpath, deadline)
    cpu1 = cpu_times()
    with open(result_path) as f:
        res = json.load(f)
    errs = check.CHECKS[workload](work, facts[workload])

    env = res["env"]
    print(f"env: nproc={nproc()} jvm_cpus={jvm_cpus()} master={master()} "
          f"heap={HEAP} (max {env['heap_max_mb']} MB) spark={env['spark']} "
          f"java={env['java']} ({env['jvm']}) "
          f"commit={git_commit(root)} source_hash={build.source_hash(root)[:16]} "
          f"workload={workload} seed={seed} seconds={seconds} trace={trace}")
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # CPU time the hypervisor gave to other guests while the benchmark JVM ran
        print(f"steal: {100.0 * (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1]):.1f}% of machine CPU time")
    passes = res["passes"]
    walls = [p["wall_s"] for p in passes]
    print(f"cold slice pass wall_s: {res['cold_wall_s']:.3f}; warm-up wall_s: "
          + " ".join(f"{w:.3f}" for w in res["warmup_wall_s"])
          + f"; timed passes: {len(passes)}, wall_s: " + " ".join(f"{w:.3f}" for w in walls)
          + ", cpu_s: " + " ".join(f"{p['cpu_s']:.2f}" for p in passes))
    if trace:
        tp = res["traced_passes"]
        print("traced passes wall_s: " + " ".join(f"{p['wall_s']:.3f}" for p in tp)
              + ", process cpu_s: " + " ".join(f"{p['cpu_s']:.2f}" for p in tp)
              + ", spark task cpu_s: " + " ".join(f"{p['task_cpu_s']:.2f}" for p in tp)
              + f"; task share of process CPU: "
              f"{sum(p['task_cpu_s'] for p in tp) / sum(p['cpu_s'] for p in tp):.2f}")
    for r in res["fail_reasons"]:
        print(f"failed operation: {r}")
    for e in errs:
        log(f"CHECK FAILED [{workload}]: {e}")

    n_in = facts[workload]["input_records"]
    if trace:
        # a layer the workload does not call spends no time in it: 0
        layer = dict(PER_LAYER, **(NEAR_DUP_LAYER if workload == "near_dup" else {}))
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in layer.items()}
    else:
        def med(f):
            return statistics.median(f(p) for p in passes)
        metrics = {
            "setup_s": setup,
            "records_per_s": n_in / med(lambda p: p["wall_s"]),
            "cpu_s_per_mrec": med(lambda p: p["cpu_s"]) / n_in * 1e6,
            "output_bytes_per_record": med(lambda p: p["out_bytes"] / max(1, p["out_records"])),
            "heap_live_mb": res["heap_live_mb"],
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(f"input records per pass: {n_in}; setup s: {setup:.3f}")
    print(json.dumps({"correct": not errs, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steady", type=int, default=0,
                    help="steadiness mode: N back-to-back runs per workload")
    ap.add_argument("--workloads", default="ingest,curate",
                    help="workloads of the steadiness mode")
    a = ap.parse_args()
    root = os.getcwd()
    if a.steady:
        import steady
        return steady.main(root, a.workloads.split(","), a.steady, a.seed, a.seconds)
    if not a.workload:
        ap.error("--workload is required")
    try:
        return run(root, a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RuntimeError, OSError) as e:
        log(f"perfbench: {e}")
        return 2


if __name__ == "__main__":
    sys.exit(main())
