#!/usr/bin/env python3
"""Medallion lake benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ticks|operator_suite \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program together with
the benchmark's JVM harness (perfbench/build.sbt, sbt offline) and keeps the
classpath; later runs start the JVM directly. Inputs are generated from the
seed by gen.py (one single-threaded process), the JVM drives the program's
public calls and times them, check.py verifies what the program wrote, and
the last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
Everything a run writes stays under .perfbench/ and its lake root is deleted
when it ends; a traced run keeps its spans, jobs and layer figures in
.perfbench/trace/.

    python3 perfbench/run.py --oracle-cache

recomputes the cached DuckDB answers of the operator suite.
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

T_START = time.time()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
BUILD = os.path.join(HERE, "target")
CLASSPATH = os.path.join(BUILD, "perfbench-classpath.txt")
DATA = os.path.join(HERE, "data", "sf0.001")
ORACLE_CACHE = os.path.join(OUT, "oracle-cache")
JVM_TIMEOUT_S = 150

# Ticks inputs: 60 days of history (rows per day per domain), then one file
# per domain per tick, a tenth of its rows dated on earlier days. Enough
# ticks are staged for the run's length (a tick takes several seconds).
TICKS = {"days": 20, "rows_per_day": {"sales": 150, "customer_events": 150, "inventory": 75},
         "tick_rows": 2000, "late_pct": 10.0}
# One query per operator family.
SUITE = [
    "q252_kcore",                    # graph loops
    "q382_substring_capped_dedup",   # dedup
    "q129_fuzzy_join",               # similarity
    "q45_stream_dedup",              # streaming
    "q271_tpch_q9",                  # relational
    "q60_observed_metrics",          # silver rules
]

END_TO_END = {"setup_s": "s", "op_s_p50": "s"}
PER_LAYER = {
    "history.s": "s", "history.rows_per_s": "rows/s", "rows_per_s": "rows/s",
    "ingest.s": "s",
    "drain.s": "s", "drain.jobs": "count", "drain.task_s": "s", "drain.input_rows": "count",
    "drain.write_input_rows": "count", "drain.shuffle_bytes": "bytes",
    "silver.files_written": "count", "silver.bytes_written": "bytes",
    "gold.s": "s", "gold.jobs": "count", "gold.task_s": "s", "gold.input_rows": "count",
    "gold.shuffle_bytes": "bytes", "gold.bytes_written": "bytes",
    "overhead.s": "s", "other.jobs": "count", "lake.mb": "MB",
    "gc.s": "s", "jvm.peak_rss_mb": "MB", "trace.listener_s": "s", "traced.op_s_p50": "s",
}
for _q in SUITE:
    PER_LAYER.update({f"q.{_q}.s": "s", f"q.{_q}.jobs": "count",
                      f"q.{_q}.shuffle_bytes": "bytes", f"q.{_q}.overhead_s": "s"})


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness when their sources changed; returns the
    classpath and the seconds spent building."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not here; "
             "run from the repository root")
    digest = sources_digest()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip(), 0.0
    t = time.time()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "perfbench-build.log")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"))
    with open(log, "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as lf:
        cps = [l.strip() for l in lf if "scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    with open(CLASSPATH, "w") as f:
        f.write(digest + "\n" + cps[-1] + "\n")
    return cps[-1], time.time() - t


def java_cmd(cp, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
                  "-cp", cp, "perfbench.Main", "--work", work,
                  "--cpus", str(len(os.sched_getaffinity(0)))] + args


def run_jvm(cmd, work):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(os.path.join(work, "jvm.out"), "w") as o, \
            open(os.path.join(work, "jvm.err"), "w") as e:
        p = subprocess.Popen(cmd, stdout=o, stderr=e, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.err")) as e:
            fail(f"JVM exited with {rc}:\n{e.read()[-4000:]}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def landed_rows(manifest, landing):
    return sum(manifest["files"][f]["rows"] for f in manifest["landings"][landing])


def ticks_checks(work, res, manifest, trace):
    """The lake against DuckDB and the manifest; landing 0 is the history,
    landing k the k-th tick."""
    nums = res["nums"]
    ticks = int(nums["rounds"])
    con = check.connect(os.path.join(work, "tmp"))
    check.load_expected(con, os.path.join(work, "in"), manifest)
    root = os.path.join(work, "lake", "main")
    fails = check.check_silver(con, root, manifest, ticks)
    # snapshots: the history build, the idempotent re-run, then one per tick
    fails += check.check_gold(con, root, [0] + list(range(ticks + 1)))
    if nums["rerun_silver_rows_after"] != nums["rerun_silver_rows_before"]:
        fails.append(f"re-run with no new files changed silver rows: "
                     f"{nums['rerun_silver_rows_before']} -> {nums['rerun_silver_rows_after']}")
    if trace:
        want = statistics.mean(landed_rows(manifest, k + 1) for k in range(ticks))
        got = res["layer"]["drain.write_input_rows"]
        if got != want:
            fails.append(f"drain.write_input_rows {got} != rows landed per tick {want}")
    return fails


def layer_metrics(res, manifest, ops):
    """Every per-layer metric; those a workload does not exercise read 0."""
    nums, spans = res["nums"], res["spans"]
    layer = {k: 0.0 for k in PER_LAYER}
    layer.update(res["layer"])
    layer["jvm.peak_rss_mb"] = nums["peak_rss_mb"]
    layer["traced.op_s_p50"] = statistics.median(ops)
    if manifest is not None:
        hist = [s for s in spans if s["kind"] == "history"][0]
        layer["history.s"] = (hist["end"] - hist["start"]) / 1e3
        layer["history.rows_per_s"] = landed_rows(manifest, 0) / layer["history.s"]
        layer["rows_per_s"] = statistics.mean(
            landed_rows(manifest, k + 1) / s for k, s in enumerate(ops))
        layer["lake.mb"] = nums["lake_mb"]
    unknown = set(layer) - set(PER_LAYER)
    if unknown:
        fail(f"per-layer figures without a declared name: {sorted(unknown)}")
    return {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}


def run(a, cp, work, build_s):
    manifest = None
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace)]
    if a.workload == "ticks":
        sizes = dict(TICKS, ticks=3 + int(a.seconds // 4))
        manifest = gen.generate(a.seed, os.path.join(work, "in"), sizes)
    else:
        args += ["--data", DATA, "--queries", ",".join(SUITE)]
    t_jvm = time.time()
    res = run_jvm(java_cmd(cp, work, args), work)
    t_check = time.time()
    ops = res["ops"]
    if a.workload == "ticks":
        fails = ticks_checks(work, res, manifest, a.trace)
    else:
        con = check.connect(os.path.join(work, "tmp"))
        fails = check.check_suite(con, os.path.join(work, "results"), DATA, ORACLE_CACHE,
                                  res["lists"]["oracle_names"], res["lists"]["oracle_sql"])
    for f in fails:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    print(f"perfbench: inputs {t_jvm - T_START - build_s:.1f}s, jvm {t_check - t_jvm:.1f}s, "
          f"checks {time.time() - t_check:.1f}s, ops {[round(x, 3) for x in ops]}",
          file=sys.stderr)

    if a.trace:
        metrics = layer_metrics(res, manifest, ops)
        os.makedirs(os.path.join(OUT, "trace"), exist_ok=True)
        with open(os.path.join(OUT, "trace", f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "ops": ops,
                       "metrics": metrics, "spans": res["spans"],
                       "jobs": res["lists"].get("jobs", []), "nums": res["nums"]}, f, indent=1)
    else:
        # set-up: from this process's start to the first timed operation, less any build
        values = {"setup_s": res["nums"]["setup_done_epoch_ms"] / 1e3 - T_START - build_s,
                  "op_s_p50": statistics.median(ops)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not fails, "attempted": len(ops), "failed": 0, "metrics": metrics}


def rebuild_oracles(cp):
    work = os.path.join(OUT, f"oracle-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        res = run_jvm(java_cmd(cp, work, [
            "--workload", "operator_suite", "--seconds", "0", "--trace", "0",
            "--data", DATA, "--queries", ",".join(SUITE)]), work)
        con = check.connect(os.path.join(work, "tmp"))
        for name, sql in zip(res["lists"]["oracle_names"], res["lists"]["oracle_sql"]):
            t = time.time()
            check.oracle_answer(con, ORACLE_CACHE, DATA, name, sql, rebuild=True)
            print(f"{name}: {time.time() - t:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["ticks", "operator_suite"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--oracle-cache", action="store_true",
                    help="recompute the operator suite's cached DuckDB answers and exit")
    a = ap.parse_args()
    if not a.workload and not a.oracle_cache:
        ap.error("--workload is required")
    if not os.path.isdir(DATA):
        fail(f"missing {DATA}")
    cp, build_s = build()
    if a.oracle_cache:
        return rebuild_oracles(cp)
    work = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    # a terminated run still removes its work directory (the JVM exits with us)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result = run(a, cp, work, build_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
