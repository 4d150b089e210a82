#!/usr/bin/env python3
"""Corpus-analytics benchmark: one command builds the program, generates a
seeded tweet corpus, runs a workload's query mix from graft.SparkEntry, checks
every result against graft.SparkEntry.oracleSql in DuckDB and prints every
metric with its unit.

    python3 perfbench/run.py --workload per_doc --seed 1 --seconds 20 --trace 0

Workloads and their corpus parameters are in perfbench/workloads.json. The
last line of stdout is one JSON object {correct, attempted, failed, metrics};
with --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything the run writes stays under the
build directory ($CARGO_TARGET_DIR, default .bench_build) of the checkout.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as the run found it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

JVM_TIMEOUT_S = 160
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory the program builds against: $SPARK_JARS, else
    build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    cands = [os.environ.get("SPARK_JARS")]
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        cands.append(m and m.group(1))
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if c and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    fail("no Spark jars found (set SPARK_JARS or SPARK_HOME)")


def build(build_dir, jars):
    """Compiles the program's sources and the harness with the Scala compiler
    shipped among the Spark jars; reuses the classes while no source changed."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        fail("program sources (src/main/scala) not found; run from a checkout of the repository")
    sources = program + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256()
    for p in sources:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)  # creates build_dir too
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss4m", "-Xmx1g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built {len(sources)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def run_harness(classes, jars, data_dir, out_dir, queries, seconds, trace, cpus, scratch):
    log_path = os.path.join(out_dir, "jvm.log")
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Harness",
              data_dir, out_dir, ",".join(queries), str(seconds), str(trace), str(cpus)])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; log in {log_path}")
    if code != 0:
        tail = open(log_path, errors="replace").read()[-3000:]
        print(tail, file=sys.stderr)
        fail(f"harness exited with {code}; log in {log_path}")
    with open(os.path.join(out_dir, "result.json")) as f:
        return json.load(f)


def oracle_check(data_dir, results_dir, clean_expr):
    """Compares each result with SparkEntry.oracleSql through the repository's
    DuckDB comparator (tools/check_oracle.py). Returns the raw mismatches and
    those left after correcting the oracle's known empty-join defect."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    if not os.path.exists(path):
        fail("tools/check_oracle.py not found")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    def check(oracles):
        with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
            json.dump(oracles, f)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            mod.main(data_dir, results_dir)
        return {m.group(1): line for line in buf.getvalue().splitlines()
                if (m := re.match(r"FAIL (\w+)", line))}

    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    raw = check(oracles)
    # DuckDB 1.0's array_to_string over an empty list is NULL where the
    # reference's " ".join([]) and the engine give "". Re-check only the
    # mismatching queries with that one expression made NULL-only-for-NULL.
    fixed = f"CASE WHEN text IS NULL THEN NULL ELSE coalesce({clean_expr}, '') END"
    corrected = {q: oracles[q].replace(clean_expr, fixed) for q in raw}
    left = check(corrected) if corrected else {}
    return raw, left


def main():
    ap = argparse.ArgumentParser(description="corpus-analytics benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(bench_json))
    wl = gen.load_workload(a.workload)
    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = build(build_dir, jars)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch)
    t0 = time.time()
    gen.write(a.workload, a.seed, data_dir)
    gen_s = time.time() - t0

    cpus = len(os.sched_getaffinity(0))
    t1 = time.time()
    res = run_harness(classes, jars, data_dir, run_dir, wl["queries"], a.seconds, a.trace,
                      cpus, scratch)
    t2 = time.time()
    results_dir = os.path.join(run_dir, "results")
    raw, left = oracle_check(data_dir, results_dir, res["clean_text_sql_expr"])
    print(f"[perfbench] corpus {gen_s:.1f} s, harness {t2 - t1:.1f} s, "
          f"oracle check {time.time() - t2:.1f} s", file=sys.stderr)
    shutil.rmtree(data_dir, ignore_errors=True)
    shutil.rmtree(results_dir, ignore_errors=True)
    shutil.rmtree(scratch, ignore_errors=True)

    if not res["pass_details"]:
        fail("no pass completed without a failed query")
    attempted, failed = res["attempted"], res["failed"]
    correct = failed == 0 and not left
    e2e = {
        "setup_s": res["setup_cpu_s"],
        "report_cpu_s_p50": res["report_cpu_s_p50"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    nq = len(wl["queries"])
    walls = sum(p["wall_s"] for p in res["pass_details"])
    steal = sum(p["steal_s"] for p in res["pass_details"])
    print(f"[perfbench] workload={a.workload} seed={a.seed} cpus={cpus} docs={res['docs']} "
          f"text={res['text_bytes'] / 1e6:.2f} MB corpus_gen_s={gen_s:.2f} (not in set-up)")
    print(f"setup_s {e2e['setup_s']:.4f} s  JVM CPU time from process start through session "
          f"build and warmup; wall {res['setup_wall_s']:.4f} s = JVM start "
          f"{res['session_jvm_s']:.3f} + build {res['session_build_s']:.3f} + warmup "
          f"{res['session_warmup_s']:.3f}")
    print(f"report_s_p50 {res['report_s_p50']:.4f} s  wall, median of {res['passes']} passes of "
          f"{nq} queries, max {res['report_s_max']:.4f} s")
    print(f"report_cpu_s_p50 {e2e['report_cpu_s_p50']:.4f} s  JVM CPU time (all threads) "
          f"of the same passes, median")
    print(f"  the hypervisor stole {steal:.2f} s of CPU time during {walls:.2f} s of passes on "
          f"{cpus} cpus ({100 * steal / (walls * cpus):.1f}%); stolen time slows wall times")
    print(f"text_mb_s {res['text_mb_s']:.4f} MB/s  {res['text_mb']:.1f} MB of text "
          f"in {res['timed_s']:.2f} timed s")
    print(f"failed_frac {failed / attempted:.4f} ratio  {failed}/{attempted} executions"
          + "".join(f"; {f['query']}: {f['error_class']}" for f in res["failures"]))
    print(f"oracle_mismatch {len(raw)} count  "
          + ("; ".join(raw.values()) if raw else "all queries match"))
    if raw:
        print("  after correcting the oracle's NULL-for-empty array_to_string: "
              + ("; ".join(left.values()) if left else "all queries match"))
    print(f"peak_rss_mb {e2e['peak_rss_mb']:.1f} MB  process VmHWM")
    print(f"[perfbench] self-check: deliberately throwing queries counted "
          f"{res['selfcheck']['failed']}/{res['selfcheck']['attempted']} failed, "
          f"{res['selfcheck']['timed_samples']} timed")

    if a.trace:
        layer = res["per_layer"]
        print(f"[perfbench] tracing overhead: traced report_s_p50 "
              f"{layer['trace.report_s_p50']:.4f} s vs untraced "
              f"{layer['trace.untraced_report_s_p50']:.4f} s "
              f"({layer['trace.overhead_s']:+.4f} s); spans and per-query numbers in "
              f"{os.path.relpath(os.path.join(run_dir, 'trace.json'), ROOT)}")
        wanted, values = spec["per_layer"], layer
    else:
        wanted, values = spec["end_to_end"], e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or v != v:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
