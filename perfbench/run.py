#!/usr/bin/env python3
"""Benchmark of the graft MapReduce engine and its query registry.

Usage (from the repository root):

    python3 perfbench/run.py --workload wc_hash --seed 1 --seconds 10 --trace 0

Workloads:
  wc_hash    Engine.runJob, native wc_map/wc_reduce, hash router, 8 mappers,
             4 reducers, over a seeded corpus (corpus.py).
  grep_pipe  Engine.runJob with bin/grep_map and bin/grep_reduce piped
             through RDD.pipe, rank-mod router, over the same corpus.
  queries    passes over a fixed set of registry queries on the fixture
             tables in data/, noop sink; the seed permutes the query order.

The first run builds the program and this harness from source with sbt and
caches the exported classpath under .bench_build/; the JVM then starts from
that classpath, so sbt's own start-up is in no number. The runner checks
every output (corpus.py, oracle.py) and prints one JSON line last:
end-to-end metrics with --trace 0; per-layer metrics from a traced run with
--trace 1, whose spans go to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

sys.dont_write_bytecode = True  # leave nothing in the checkout outside .bench_build/
sys.path.insert(0, str(HERE))
import corpus  # noqa: E402
import oracle  # noqa: E402

QUERIES = {
    "rel": ["q1_agg", "q_tpch_q5", "q_corr", "q_bootstrap_ci"],
    "loop": ["q_kcore", "q_label_prop", "q_hits"],
}
END_TO_END = {"setup_s": "s", "op_s": "s", "op_geomean_s": "s"}
_QUERY_LAYER = {"construct_s": "s", "construct_jobs": "count", "read_jobs": "count", "plan_s": "s",
                "exec_s": "s", "exec_jobs": "count", "tasks": "count", "task_s": "s",
                "core_util": "fraction", "shuffle_mb": "MiB", "spill_mb": "MiB", "gc_s": "s"}
PER_LAYER = {
    "sources.read_s": "s", "map.self_s": "s", "map.pipe_procs": "count", "map.records_out": "count",
    "group.self_s": "s", "group.shuffle_write_mb": "MiB", "group.shuffle_records": "count",
    "group.spill_mb": "MiB", "group.skew": "ratio", "group.spark_jobs": "count",
    "reduce.self_s": "s", "reduce.records_out": "count",
    "sink.self_s": "s", "sink.files": "count", "sink.mb_written": "MiB",
    "engine.task_s": "s", "engine.gc_s": "s", "engine.core_util": "fraction", "engine.layer_share": "fraction",
    **{f"{c}.{m}": u for c in QUERIES for m, u in _QUERY_LAYER.items()},
    "setup.session_s": "s", "setup.warmup_s": "s", "setup.artifacts_s": "s",
    "trace.overhead": "ratio", "host.loadavg_start": "load", "host.loadavg_end": "load",
}
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for proj in (ROOT / "project", HERE / "project"):
        files += sorted(proj.glob("*.sbt")) + sorted(proj.glob("*.properties"))
    for src in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in src.rglob("*") if p.is_file())
    return files


def classpath():
    """Build the program and the harness with sbt, once per source state,
    and return the exported runtime classpath."""
    stamp = hashlib.sha256()
    for f in build_inputs():
        st = f.stat()
        stamp.update(f"{f.relative_to(ROOT)} {st.st_size} {st.st_mtime_ns}\n".encode())
    cached = BUILD / "classpath.json"
    if cached.is_file():
        c = json.loads(cached.read_text())
        if c["stamp"] == stamp.hexdigest():
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=700)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    cached.write_text(json.dumps({"stamp": stamp.hexdigest(), "classpath": lines[-1]}))
    return lines[-1]


def run_jvm(cp, args, env, work, deadline):
    """Start the harness JVM, wait for it within the run's time limit, and
    return its PERFBENCH result."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-cp", cp, "perfbench.Main", *args, "--spawn-ns", str(time.time_ns())]
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        stop_group(proc.pid)
        proc.wait()
        fail("the run did not finish in time")
    finally:
        log.close()
        stop_group(proc.pid)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        fail(f"harness exited {proc.returncode}:\n" + "\n".join(tail))
    return json.loads(lines[-1][len("PERFBENCH "):])


def stop_group(pgid):
    """Kill whatever is left of the JVM's process group (pipe children) and
    wait until none of it runs."""
    end = time.monotonic() + 10
    try:
        os.killpg(pgid, signal.SIGKILL)
        while time.monotonic() < end:
            os.killpg(pgid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["wc_hash", "grep_pipe", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no program sources next to {HERE.name}/: run from a checkout of the repository")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    load_start = os.getloadavg()[0]
    cp = classpath()
    deadline = time.monotonic() + RUN_LIMIT_S

    work = BUILD / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--spans", str(BUILD / "traces" / f"{a.workload}-seed{a.seed}.jsonl")]
    if a.workload == "queries":
        data = HERE / "data"
        args += ["--data", str(data),
                 "--queries", ",".join(f"{q}:{c}" for c, qs in QUERIES.items() for q in qs)]
    else:
        for exe in (HERE / "bin").iterdir():
            exe.chmod(0o755)
        inp, exp_wc, exp_grep = corpus.prepare(BUILD / "corpus", a.seed)
        args += ["--input", inp, "--bin", str(HERE / "bin")]
        if a.trace:
            (work / "procs").mkdir()
            env["PERFBENCH_PROC_DIR"] = str(work / "procs")

    res = run_jvm(cp, args, env, work, deadline)
    (work / "result.json").write_text(json.dumps(res))
    ops = res["ops"]

    # every operation that threw is a failure; every output is checked
    faults = {(o["phase"], o["kind"], o["pass"]): o["error"] for o in ops if o["error"]}
    checked = [o for o in ops if o["out"] and not o["error"]]
    if a.workload == "queries":
        try:
            verdict = oracle.check(HERE / "data", work / "check", [o["kind"] for o in checked])
        except Exception as e:  # noqa: BLE001 - a check that cannot run is not a pass
            verdict = {o["kind"]: f"oracle check not run: {type(e).__name__}: {e}" for o in checked}
        faults.update({("check", q, -1): f for q, f in verdict.items() if f})
    else:
        for o in checked:
            f = corpus.check_wc(o["out"], exp_wc) if a.workload == "wc_hash" else corpus.check_grep(o["out"], exp_grep)
            if f:
                faults[(o["phase"], o["kind"], o["pass"])] = f
    for (phase, kind, n), f in faults.items():
        print(f"perfbench: FAILED {phase} {kind} #{n}: {f}", file=sys.stderr)

    if a.trace:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(res["layers"])
        values.update({f"setup.{k}": v for k, v in res["setup"].items()})
        values["host.loadavg_start"] = load_start
        values["host.loadavg_end"] = os.getloadavg()[0]
        metrics = {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        timed = [o for o in ops if o["phase"] == "timed"]
        if a.workload == "queries":
            passes = {}
            for o in timed:
                passes.setdefault(o["pass"], []).append(o["wallS"])
            op_s = statistics.median(sum(p) for p in passes.values())
            kinds = {}
            for o in timed:
                kinds.setdefault(o["kind"], []).append(o["wallS"])
            op_geomean = geomean([statistics.median(v) for v in kinds.values()])
        else:
            op_s = op_geomean = statistics.median(o["wallS"] for o in timed)
        values = {"setup_s": res["setup_s"], "op_s": op_s, "op_geomean_s": op_geomean}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        print(f"perfbench: {a.workload} seed {a.seed}: {len(timed)} timed operations, "
              f"loadavg {load_start:.2f} -> {os.getloadavg()[0]:.2f}", file=sys.stderr)

    print(json.dumps({"correct": not faults, "attempted": len(ops),
                      "failed": len(faults), "metrics": metrics}))


if __name__ == "__main__":
    main()
