#!/usr/bin/env python3
"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The first call compiles the program and
the harness into $CARGO_TARGET_DIR (default .bench_build); later calls
reuse the classes while the sources are unchanged. Each run starts one JVM with a local[nproc] Spark session,
makes its inputs from the seed, measures for --seconds, checks the
program's outputs and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics,
and writes the recorded spans to <build dir>/results/.

Workloads (see BENCHMARK.json for why each was chosen, and
perfbench/PREDICTIONS.md for what each layer metric should move):
  extract-skewed  CorpusGen docs through graft.Job: a fused-path
                  majority and a mega-doc tail on the salted path,
                  checked against CorpusGen's goldens
  query-suite     graft.SparkEntry queries over seeded tables shaped
                  like the sf0.1 test tables (perfbench/gentables.py),
                  checked by tools/check_oracle.py and p1's goldens

--self-test runs every workload once on tiny inputs with tracing on and
fails unless every metric BENCHMARK.json names is emitted with a unit
and the golden check finds a deliberately corrupted doc.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import gentables

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("extract-skewed", "query-suite")
# scale of the generated query tables: the query-suite's, the smaller
# one a traced extraction run probes the query layers on, the self-test's
QUERY_SCALE = {"full": "0.1", "probe": "0.01", "tiny": "0.001"}
SETUP_REPEATS = 3
JVM_TIMEOUT_S = 170


def sbt_setting(pattern):
    """The first match of `pattern` in build.sbt, or a failure."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(pattern, f.read(), re.S)
    except OSError:
        m = None
    if not m:
        fail("cannot read build.sbt: run from the repo root")
    return m.group(1)


def jvm_opts(tmp):
    """The JVM options build.sbt gives the program's forked runs, with
    its SPARK_DRIVER_MEM and SPARK_GRAFT_JAVA_OPTS, plus what keeps the
    JVM's files inside `tmp`."""
    def strings(block):
        block = re.sub(r"//[^\n]*", "", block)
        block = re.sub(r'\$\{sys\.env\.getOrElse\("(\w+)", "([^"]*)"\)\}',
                       lambda m: os.environ.get(m.group(1), m.group(2)), block)
        return re.findall(r'"([^"]*)"', block)
    opens = strings(sbt_setting(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap"))
    opts = strings(sbt_setting(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)"))
    extra = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "").split()
    return ([o for p in opens for o in ("--add-opens", f"{p}=ALL-UNNAMED")] + opts + extra +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])


def spark_jars():
    """$SPARK_JARS, else the jar directory build.sbt compiles against."""
    return os.environ.get("SPARK_JARS") or sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    found = []
    for top in ("src/main/scala", os.path.relpath(os.path.join(BENCH, "src"), ROOT)):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build():
    """Compiles the program (src/main/scala) and the harness into one
    class directory with the Scala compiler among the Spark jars, unless
    it already holds these sources compiled by this command."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        fail(f"no program sources under {ROOT}/src/main/scala; run from the repo root")
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, *srcs]
    h = hashlib.sha256(json.dumps(cmd).encode())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


def gen_tables(dest, seed, scale):
    """Generates the query tables SETUP_REPEATS times; median seconds."""
    times = []
    for _ in range(SETUP_REPEATS):
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        t0 = time.perf_counter()
        gentables.generate(dest, seed, float(scale))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def oracle_failures(tables, results):
    """Runs the repository's unchanged oracle check; names that failed."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        tables, results], capture_output=True, text=True)
    sys.stderr.write(r.stdout)
    lines = r.stdout.splitlines()
    ok = [l for l in lines if l.startswith("OK ")]
    bad = [l.split()[1].rstrip(":") for l in lines if l.startswith("FAIL ")]
    if r.returncode not in (0, 1) or (not ok and not bad):
        fail(f"oracle check did not run: {r.stderr.strip()[-400:]}")
    return bad


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs, from /proc/stat (Linux)."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(workload, seed, seconds, trace, work, tiny, extra):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *jvm_opts(tmp), "-cp", f"{CLASSES}:{spark_jars()}/*",
           "graft.perfbench.Harness", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace), "--work", work,
           "--tiny", "1" if tiny else "0", *extra]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    busy0, steal0 = cpu_ticks()
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{workload} did not finish within {JVM_TIMEOUT_S}s")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        fail(f"{workload} harness exited with {proc.returncode}")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    busy1, steal1 = cpu_ticks()
    # time the hypervisor gave to other guests while this run wanted CPU
    res["info"]["jvm_wall_s"] = round(time.perf_counter() - t0, 3)
    res["info"]["cpu_steal_share"] = round(
        (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0), 4)
    return res


def run(workload, seed, seconds, trace, tiny=False):
    build()
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra, extra_info = [], {}
    tables = os.path.join(work, "tables")
    if workload == "query-suite" or trace:
        size = "tiny" if tiny else "full" if workload == "query-suite" else "probe"
        gen_s = gen_tables(tables, seed, QUERY_SCALE[size])
        extra = ["--tables", tables, "--gen-s", repr(gen_s)]
        extra_info = {"table_scale": QUERY_SCALE[size]}
    res = run_jvm(workload, seed, seconds, trace, work, tiny, extra)
    res["info"].update(extra_info)
    if workload == "query-suite":
        t0 = time.perf_counter()
        bad = oracle_failures(tables, res["info"]["result_dir"])
        res["info"]["oracle_check_s"] = round(time.perf_counter() - t0, 3)
        res["failed"] += len(bad)
        res["attempted"] += len(json.load(open(
            os.path.join(res["info"]["result_dir"], "oracle_sql.json"))))
        res["info"]["oracle_failed"] = " ".join(bad)
    res["info"]["ops_failed_ratio"] = res["failed"] / res["attempted"]
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    base = os.path.join(BUILD, "results", f"{workload}-seed{seed}-trace{trace}")
    if os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), base + ".spans.json")
    with open(base + ".json", "w") as f:
        json.dump(res, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    return res


def select(res, workload, names):
    """The named metrics, each checked for its unit."""
    out = {}
    for n, unit in names:
        m = res["metrics"].get(n)
        if m is None:
            fail(f"{workload} did not emit metric {n}")
        if m["unit"] != unit:
            fail(f"{workload} metric {n} has unit {m['unit']}, expected {unit}")
        out[n] = m
    return out


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def self_test():
    e2e, layers = spec()
    for w in WORKLOADS:
        res = run(w, 1, 1, 1, tiny=True)
        select(res, w, e2e)
        select(res, w, layers)
        if res["failed"]:
            fail(f"self-test: {w} had {res['failed']} failed operations: {res['info']}")
        if w.startswith("extract") and res["info"]["selftest_corrupted_docs_found"] != "1":
            fail(f"self-test: {w} golden check missed the corrupted doc")
        print(f"self-test: {w} ok ({len(e2e)} end-to-end, {len(layers)} per-layer metrics)",
              file=sys.stderr)
    print(json.dumps({"self_test": "ok"}))


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if a.self_test:
        return self_test()
    if a.workload is None:
        p.error("--workload is required")
    e2e, layers = spec()
    res = run(a.workload, a.seed, a.seconds, a.trace)
    metrics = select(res, a.workload, layers if a.trace else e2e)
    print("# perfbench info: " + json.dumps(res["info"]))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
