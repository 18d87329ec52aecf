#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <olap|iterative|etl_i94> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from the
checkout's sources together with the harness in perfbench/harness (sbt,
offline) and caches the build under perfbench/out/build, keyed by a hash of
every source file. Each run then:

  1. sets up SETUPS times: generates the workload's inputs from the seed and
     starts the Spark session in a fresh JVM; the last of these JVMs runs the
     workload (setup_s is the median set-up);
  2. runs a cold pass, then warm passes for --seconds and at least
     BATCH_WARM of them (closed loop: one client, steps back to back,
     local[nproc]); with --trace 1 every second warm pass is traced layer by
     layer;
  3. checks every output of the cold pass against DuckDB;
  4. prints a context line, then, as the last line, the result JSON.

Everything a run writes stays under perfbench/out, Spark's log and the
compiled classes included; sbt's own logs and meta-build go to
perfbench/harness/target and perfbench/harness/project/target.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # a run writes nothing outside perfbench/out
import check  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
SETUPS = 3
BATCH_WARM = 3  # batch_s: the cold pass and this many warm passes
SF = 0.01  # query tables: 60k lineitem rows
ETL_ROWS = 50_000
DEADLINE_S = 170  # a run must end within 180 s
PER_LAYER = {
    "session.s": "s", "construct.s": "s", "construct.jobs": "count", "construct.task_s": "s",
    "plan.s": "s", "plan.exchanges": "count", "exec.s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.busy_frac": "frac", "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.peak_mem_mb": "MB", "jvm.gc_s": "s",
    "jvm.jit_s": "s", "trace.overhead_s": "s", "trace.unattributed_s": "s",
    "trace.drift_steps": "count"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def add_opens():
    """The JDK module opens Spark needs outside spark-submit, as the program's
    build.sbt lists them for its own tests and runs."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        pkgs = re.findall(r'"(java\.base/[\w./]+)"', f.read())
    if not pkgs:
        raise SystemExit("perfbench: the program's build.sbt lists no --add-opens packages")
    return [a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def build(deadline):
    """Compile the program's sources with the harness, once per source state."""
    sources = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main")]
    if not all(os.path.exists(p) for p in sources):
        raise SystemExit("perfbench: no program sources (build.sbt, src/main) in " + ROOT)
    harness = os.path.join(HERE, "harness")
    digest = hashlib.sha256()
    for top in sources + [os.path.join(harness, "build.sbt"), os.path.join(harness, "project"),
                          os.path.join(harness, "src")]:
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] if os.path.isfile(top) else os.walk(top)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                digest.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    stamp, cp_file = os.path.join(OUT, "build", "stamp"), os.path.join(OUT, "build", "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest() and os.path.exists(cp_file):
        classpath = open(cp_file).read()
        if all(os.path.exists(p) for p in classpath.split(os.pathsep)):
            return classpath
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]))
    log("building the program and the harness")
    with open(os.path.join(OUT, "build", "sbt.log"), "w") as out:
        proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                           harness, env, out, deadline, capture=True)
    lines = [l for l in proc.splitlines() if l.startswith("/") and ".jar" in l]
    if not lines:
        raise SystemExit("perfbench: build failed, see perfbench/out/build/sbt.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return lines[-1].strip()


def run_bounded(cmd, cwd, env, out, deadline, capture=False):
    """Run `cmd` in its own process group; kill the group at the deadline."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE if capture else out,
                            stderr=out, start_new_session=True, text=True)
    try:
        stdout, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[0]} passed the run's deadline and was stopped")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if capture:
        out.write(stdout)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: {cmd[0]} exited with {proc.returncode}")
    return stdout


def heap():
    """A quarter of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(max(kb // (4 << 20), 1), 4)}g"


def generate(workload, seed, data):
    """Write the workload's inputs; return (input rows, input bytes)."""
    shutil.rmtree(data, ignore_errors=True)
    if workload == "etl_i94":
        return ETL_ROWS, gen.etl_inputs(data, seed, ETL_ROWS)
    gen.tables(data, seed, SF)
    files = [os.path.join(data, f"{t}.parquet") for t in gen.TABLES]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files), sum(map(os.path.getsize, files))


def pct(xs, q):
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def metrics(res, setups, in_rows, trace):
    """The end-to-end metrics (untraced run) or the per-layer ones (traced run)."""
    passes = res["passes"]
    cold = passes[0]
    warm_s = min(p["wall_s"] for p in passes if p["kind"] == "warm")
    if not trace:
        # the JIT keeps compiling through every warm pass of a run this short,
        # and how far it gets differs between JVMs, so no single warm pass is
        # steady between runs; the time a fresh JVM takes for a fixed amount
        # of work, from the cold pass on, is
        batch = [cold] + [p for p in passes if p["kind"] == "warm"][:BATCH_WARM]
        batch_s = sum(s["s"] for p in batch for s in p["steps"])
        return {
            "setup_s": (statistics.median(g + s["ready_s"] for g, s in setups), "s"),
            "cold_pass_s": (sum(s["s"] for s in cold["steps"]), "s"),
            "batch_s": (batch_s, "s"),
            "rows_per_s": (len(batch) * in_rows / batch_s, "1/s"),
        }
    traced = [p for p in passes if p["kind"] == "traced"]

    def layer(p, name, key):
        return sum(s["layers"].get(name, {}).get(key, 0) for s in p["steps"])

    def per_pass(f):
        return statistics.median(f(p) for p in traced)

    mb = 1 << 20
    m = {"session.s": statistics.median(s["session_s"] for _, s in setups)}
    for name in ("construct", "plan", "exec"):
        m[f"{name}.s"] = per_pass(lambda p: layer(p, name, "s"))
    m["construct.jobs"] = per_pass(lambda p: layer(p, "construct", "jobs"))
    m["construct.task_s"] = per_pass(lambda p: layer(p, "construct", "task_run_s"))
    m["plan.exchanges"] = per_pass(lambda p: sum(s["exchanges"] for s in p["steps"]))
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s"):
        m[f"exec.{key}"] = per_pass(lambda p: layer(p, "exec", key))
    m["exec.busy_frac"] = per_pass(
        lambda p: layer(p, "exec", "task_run_s") / max(layer(p, "exec", "s") * res["cores"], 1e-9))
    for key in ("shuffle_write", "shuffle_read", "spill", "input"):
        m[f"exec.{key}_mb"] = per_pass(lambda p: layer(p, "exec", key + "_b") / mb)
    m["exec.peak_mem_mb"] = per_pass(lambda p: max(s["layers"].get("exec", {}).get("peak_mem_b", 0)
                                                   for s in p["steps"]) / mb)
    m["jvm.gc_s"] = per_pass(lambda p: p["gc_s"])
    m["jvm.jit_s"] = cold["jit_s"]
    m["trace.overhead_s"] = min(p["wall_s"] for p in traced) - warm_s
    m["trace.unattributed_s"] = per_pass(
        lambda p: p["wall_s"] - sum(layer(p, n, "s") for n in ("construct", "plan", "exec")))
    m["trace.drift_steps"] = len(drift([cold] + traced))
    return {k: (v, PER_LAYER[k]) for k, v in m.items()}


def drift(passes):
    """Steps whose job, task or shuffle counts differ between traced passes."""
    seen = {}
    for p in passes:
        for s in p["steps"]:
            L = s["layers"]
            key = (L.get("construct", {}).get("jobs"), L.get("exec", {}).get("jobs"),
                   L.get("exec", {}).get("tasks"), L.get("exec", {}).get("shuffle_write_b"))
            seen.setdefault(s["name"], set()).add(key)
    return sorted(n for n, keys in seen.items() if len(keys) > 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["olap", "iterative", "etl_i94"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    classpath = build(time.monotonic() + 840)
    deadline = max(deadline, time.monotonic() + 150)  # the run after a build gets its own budget

    run_dir = os.path.join(OUT, f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    load_start = os.getloadavg()[0]

    cpus = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               SPARK_GRAFT_EXTRA_CONF=f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}")
    # no JIT flags: the program runs with the JVM's default tiered compiler, as its build runs it
    cmd = ["java", f"-Xmx{heap()}", "-XX:-UsePerfData", *add_opens(), "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Dgraftbench.log={os.path.join(run_dir, 'spark.log')}",
           "-cp", classpath, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data, "--out", run_dir,
           "--passes", str(BATCH_WARM)]
    # each set-up writes the inputs afresh and starts the session in a fresh
    # JVM, as a daily batch does; the last JVM goes on to run the workload
    setups = []
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            in_rows, in_bytes = generate(a.workload, a.seed, data)
            gen_s = time.perf_counter() - t0
            if i < SETUPS - 1:
                setup_file = os.path.join(run_dir, f"setup{i}.json")
                run_bounded(cmd + ["--session-only", setup_file], run_dir, env, out, deadline - 15)
                with open(setup_file) as f:
                    setups.append((gen_s, json.load(f)))
        run_bounded(cmd, run_dir, env, out, deadline - 15)
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    setups.append((gen_s, res["setup"]))
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    wrong = check.outputs(a.workload, run_dir, data, res)
    runs = {}
    for p in res["passes"]:
        for s in p["steps"]:
            runs[s["name"]] = runs.get(s["name"], 0) + 1
            if s["error"]:
                wrong.setdefault(s["name"], s["error"])
    attempted = sum(runs.values())
    failed = sum(n for name, n in runs.items() if name in wrong)
    m = metrics(res, setups, in_rows, a.trace)

    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    warm_steps = [s["s"] for p in warm for s in p["steps"]]
    context = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus, "heap": heap(), "java": res["java"],
        "spark": res["spark"], "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0],
        "input_rows": in_rows, "input_mb": in_bytes / (1 << 20), "peak_rss_mb": res["peak_rss_mb"],
        "passes": {k: sum(p["kind"] == k for p in res["passes"]) for k in ("cold", "warm", "traced")},
        "host_steal_s": sum(p["steal"] for p in res["passes"]) / 100,
        "warm_pass_s": min(p["wall_s"] for p in warm),
        "warm_pass_cpu_s": statistics.median(p["cpu_s"] for p in warm),
        "failures": wrong, "step_samples": len(warm_steps), "query_p50_s": statistics.median(warm_steps),
    }
    tail = max(0, 100 - 1000 // max(len(warm_steps), 1))
    if tail > 50:  # the highest percentile with ten samples beyond it
        context[f"query_p{tail}_s"] = pct(warm_steps, tail)
    if a.workload == "etl_i94":
        out_b = json.load(open(os.path.join(run_dir, "check_output.json")))["bytes"]
        context["out_bytes_per_in_byte"] = out_b / in_bytes
        context["etl.output_mb"] = out_b / (1 << 20)
        for step in ("labels", "load", "quality", "report_state_demo", "report_top_ports"):
            context[f"etl.{step}_s"] = statistics.median(
                s["s"] for p in warm for s in p["steps"] if s["name"] == f"etl.{step}")
    if a.trace:
        traced = [p for p in res["passes"] if p["kind"] == "traced"]
        context["drifting_steps"] = drift([res["passes"][0]] + traced)
        context["trace.coverage"] = statistics.median(
            sum(v["s"] for s in p["steps"] for v in s["layers"].values()) / p["wall_s"] for p in traced)
        if a.workload == "etl_i94":
            context["etl.quality_jobs"] = statistics.median(
                sum(L["jobs"] for s in p["steps"] if s["name"] == "etl.quality" for L in s["layers"].values())
                for p in traced)
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump({"context": context, "metrics": m}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": not wrong, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
