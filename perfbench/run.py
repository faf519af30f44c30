#!/usr/bin/env python3
"""The graft benchmark: one closed-loop workload per run, every result checked.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: tpch-warm, tpch-cold, llm-kernels, ivm-stream (see BENCHMARK.json
for what each one exercises). A run

1. builds the engine and the harness from this checkout with sbt, once per
   source state (outputs under .bench_build/);
2. generates the inputs from the seed and computes every expected result in
   DuckDB (three times; the median counts towards set-up time);
3. starts one JVM with a local[nproc] Spark session, warms it up, then runs
   the workload's operations with one client thread for about S seconds and
   checks each result against the DuckDB one;
4. prints, as its last line, one JSON object: {"correct", "attempted",
   "failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones;
   with --trace 1 the per-layer ones (spans written to .bench_build/traces/).

Everything it reads or writes stays inside the checkout, apart from the
JDK, sbt with its offline dependency cache (and that cache's lock files),
and the Python modules it imports (duckdb, numpy, pyarrow).
"""
import argparse
import hashlib
import json
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
sys.path.insert(0, str(HERE))

import prep  # noqa: E402

WORKLOADS = ["tpch-warm", "tpch-cold", "llm-kernels", "ivm-stream"]
# TPC-H scale of the generated inputs: 120k lineitems, 1k documents
SCALE = 0.02
PREP_REPEATS = 3
JVM_HEAP = "-Xmx2g"
JVM_TIMEOUT_S = 160

# metric names and units, as the benchmark declares them
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of everything the build reads, to rebuild only on change."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes() if f.exists() else b"-")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    offline = "-Dsbt.offline=true -Dsbt.override.build.repos=true"
    if repos.exists():
        offline += f" -Dsbt.repository.config={repos}"
    env.setdefault("SBT_OPTS", offline + " -Xmx2g")
    return env


def build():
    """Compile engine + harness; returns (classpath, engine JVM options)."""
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine sources to build next to {HERE.name}/ "
             "(expected build.sbt and src/main in the checkout root)")
    stamp = source_stamp()
    done = BUILD / "build.json"
    if done.exists():
        built = json.loads(done.read_text())
        if built.get("stamp") == stamp:
            return built["classpath"], built["java_options"]
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         # keep sbt's own state in the checkout too, and start no server
         f"-Dsbt.global.base={BUILD / 'sbt-global'}",
         "-Dsbt.server.autostart=false",
         f"-J-Djava.io.tmpdir={tmp}", f"-J-Djna.tmpdir={tmp}",
         "export perfbench/Runtime/fullClasspath",
         "print perfbench/javaOptions"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    cp = [l for l in lines if ".jar" in l and not l.startswith(("[", "* "))]
    if not cp:
        fail("build printed no classpath")
    opts = [o for o in opts if not o.startswith("-Xmx")]
    oracle = BUILD / "oracle_sql.json"
    dump = subprocess.run(java_cmd(cp[-1], opts, tmp) +
                          ["--dump-oracle", str(oracle)],
                          cwd=ROOT, timeout=120)
    if dump.returncode != 0:
        fail("could not read the queries' oracle SQL")
    done.write_text(json.dumps({"stamp": stamp, "classpath": cp[-1],
                                "java_options": opts}))
    print(f"[perfbench] built in {time.time() - t0:.1f}s", flush=True)
    return cp[-1], opts


def java_cmd(classpath, opts, tmp):
    return (["java", JVM_HEAP, *opts, f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-cp", classpath, "graft.perfbench.Main"])


def prepare(run_dir, workload, seed):
    """Inputs + oracle digests, PREP_REPEATS times; returns median seconds."""
    if workload == "ivm-stream":
        sql, triggers = {}, prep.STREAM_BATCHES
    else:
        sql = json.loads((BUILD / "oracle_sql.json").read_text())[workload]
        triggers = 0
    times = []
    for i in range(PREP_REPEATS):
        data = run_dir / ("data" if i == 0 else f"data_{i}")
        t0 = time.perf_counter()
        rows = prep.generate(data, seed, SCALE)
        want = prep.expected(data, sql, triggers)
        times.append(time.perf_counter() - t0)
        if i == 0:
            (run_dir / "inputs.tsv").write_text(
                "".join(f"{k}\t{v}\n" for k, v in rows.items()))
            (run_dir / "expected.tsv").write_text(
                "".join(f"{k}\t{n}\t{h}\n" for k, (n, h) in want.items()))
        else:
            shutil.rmtree(data)
    return statistics.median(times)


def run_all(a):
    """Every workload BENCHMARK.json lists, one run each."""
    worst = 0
    for w in SPEC["workloads"]:
        child = subprocess.Popen([sys.executable, __file__, "--workload",
                                  w["name"], "--seed", str(a.seed), "--seconds",
                                  str(a.seconds), "--trace", str(a.trace)])
        try:
            worst = max(worst, child.wait())
        finally:  # a stopped child stops its own JVM first
            if child.poll() is None:
                child.terminate()
                child.wait()
    sys.exit(worst)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.workload == "all":
        run_all(a)

    classpath, opts = build()
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    traces = BUILD / "traces"
    traces.mkdir(exist_ok=True)
    try:
        prep_s = prepare(run_dir, a.workload, a.seed)
        cores = len(os.sched_getaffinity(0))
        cmd = java_cmd(classpath, opts, run_dir / "tmp") + [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--data", str(run_dir / "data"),
            "--expected", str(run_dir / "expected.tsv"),
            "--inputs", str(run_dir / "inputs.tsv"),
            "--work", str(run_dir / "work"),
            "--trace-out", str(traces / f"{a.workload}-{a.seed}.jsonl")]
        env = dict(os.environ)
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, text=True,
                                stdout=subprocess.PIPE)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish within {JVM_TIMEOUT_S}s")
        finally:  # also on SIGTERM (below): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"the benchmark JVM exited with {proc.returncode} and no result")

    m = result["metrics"]
    attempted, failed = result["attempted"], result["failed"]
    print(f"[perfbench] {a.workload} seed={a.seed}: {attempted} ops in "
          f"{result['rounds']} rounds over {result['loop_s']:.2f}s, "
          f"{failed} failed; setup: prep {prep_s:.2f}s (median of "
          f"{PREP_REPEATS}), session {result['start_s']:.2f}s, warm-up "
          f"{result['warm_s']:.2f}s", flush=True)
    print(f"[perfbench] error_rate {failed / max(attempted, 1)}")
    m["setup_s"] = prep_s + result["start_s"] + result["warm_s"]
    declared = SPEC["per_layer" if a.trace else "end_to_end"]
    missing = [d["name"] for d in declared if d["name"] not in m]
    if missing:
        fail(f"the run did not measure {', '.join(missing)}")
    metrics = {d["name"]: {"value": m[d["name"]], "unit": d["unit"]}
               for d in declared}
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
