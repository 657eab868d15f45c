#!/usr/bin/env python3
"""Benchmark of the medallion warehouse engine, end to end and per module.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1            # every workload, untraced and traced

One run builds the program from source (cached in .bench_build), generates
the workload's inputs from --seed, runs the workload in one JVM with at most
`nproc` Spark threads, checks the program's outputs, and prints every metric
by name with its unit. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
of BENCHMARK.json when --trace 0 and the per-layer metrics when --trace 1.
A full artifact, with the host and provenance, is written to .bench_out/.

Workloads, metric definitions and the query lists are in
perfbench/workloads.json.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin for teardown
POST_S = 20  # what a run needs after its JVM ends: oracle check, summary
MIN_UNITS = 2  # every run times at least two units, so each query recurs

sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# a per-layer metric of BENCHMARK.json is the harness's total of the same
# name, except the few per_layer() computes and these, whose total is named
# after the counter it sums
LAYER_ALIASES = {"audit.files": "audit.files_written"}

def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=1):
    log("error: " + msg)
    sys.exit(code)


# -- host and build ------------------------------------------------------------

def host():
    cores = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    # a quarter of the host's memory, between 2 and 4 GiB: the workloads are
    # small, and the host's memory is shared
    heap_mb = max(2048, min(4096, mem_kb // 4096))
    return {"nproc": cores, "mem_total_mb": mem_kb // 1024, "xmx_mb": heap_mb}


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    return main, bench


def spark_classpath():
    """The Spark and Scala jars the program builds against: $SPARK_HOME/jars,
    else the directory build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jar_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            fail("build.sbt names no unmanagedBase and SPARK_HOME is unset")
        jar_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail("no Spark jars under %s" % jar_dir)
    return jars


def build():
    """Compiles the program's main sources and the harness with scalac into
    .bench_build/classes, unless the sources are unchanged since the last
    build. Returns the source digest."""
    main, bench = sources()
    if not main:
        fail("no program sources under src/main/scala: run from the root of a checkout", 2)
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return digest
    log("building %d program and %d harness sources" % (len(main), len(bench)))
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(spark_classpath())
    t0 = time.monotonic()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + main + bench,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as f:
        f.write(digest)
    log("built in %.1f s" % (time.monotonic() - t0))
    return digest


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -- statistics --------------------------------------------------------------

def percentile(samples, p):
    """Nearest-rank percentile, or None unless at least ten samples lie
    beyond it."""
    n = len(samples)
    if n == 0 or n * (1 - p) < 10:
        return None
    s = sorted(samples)
    return s[min(n - 1, max(0, int(round(p * n + 0.5)) - 1))]


def median(xs):
    return statistics.median(xs) if xs else None


# -- one workload run ----------------------------------------------------------

def work_size(spec, seconds):
    """Units of work in a run: sized from --seconds by the workload's nominal
    unit time on the reference host, so every run of a workload does the
    same work and a faster program finishes sooner rather than doing more."""
    return max(MIN_UNITS, int(round(seconds / spec["nominal_unit_s"])))


def prepare_inputs(workload, spec, seed, data, units):
    if workload == "query_mix":
        import gen_warehouse
        gen_warehouse.generate(data, seed, spec["sf"])
        return {"scale": spec["sf"]}
    import gen_medallion
    m = gen_medallion.generate(data, seed, spec["base_scale"], units, spec["delta_share"])
    return {"scale": m["scale"], "days": units, "source_rows": [l["rows"] for l in m["loads"]],
            "quirks": m["quirks"]}


def query_order(spec, seed, rounds):
    """Seeded closed-loop order: concatenated shuffles of the whole mix, so
    every query occurs once per round."""
    names = sorted(spec["interactive"] + spec["batch"])
    rng = random.Random(seed)
    order = []
    for _ in range(rounds):
        r = names[:]
        rng.shuffle(r)
        order += r
    return order


def run_jvm(config, log_path, deadline):
    cp = ":".join([os.path.join(BUILD, "classes")] + spark_classpath())
    work = config["work"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -XX:-UsePerfData keeps the JVM from writing /tmp/hsperfdata_*: a run
    # writes only inside its checkout
    cmd = ["java", "-XX:-UsePerfData", "-Xmx%dm" % config["host"]["xmx_mb"],
           "-XX:ReservedCodeCacheSize=512m"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
            "-Dspark.local.dir=" + tmp, "-Djava.io.tmpdir=" + tmp,
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dderby.system.home=" + work, "-cp", cp, "perfbench.Harness",
            os.path.join(work, "config.json")]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=tmp, SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_GRAFT_CPUS", None)
    config["launch_ms"] = int(time.time() * 1000)
    with open(os.path.join(work, "config.json"), "w") as f:
        json.dump(config, f)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    return code


def summarize(workload, spec, raw, host_info, inputs, seed, trace, digest, oracle_verdicts, layer_names):
    """Turns the harness's raw result into the metrics and the artifact."""
    ops = raw["ops"]
    units = raw["units"]
    # operations whose output the oracle rejected are wrong-output operations
    for o in ops:
        if oracle_verdicts.get(o["name"]):
            o["ok"] = False
    bad_checks = [c for c in raw["checks"] if not c["ok"]]
    attempted = len(ops) + len(raw["checks"])
    failed = sum(1 for o in ops if not o["ok"]) + len(bad_checks)
    ok_ops = [o for o in ops if o["ok"]]
    named = {}  # the per-workload metrics, by their names in workloads.json

    def put(name, value, unit, n=None):
        named[name] = {"value": value, "unit": unit}
        if n is not None:
            named[name]["n"] = n

    put("setup_s", raw["setup"]["total_s"], "s")
    put("rss_peak_mb", raw["jvm"]["rss_peak_mb"], "MB")
    put("ops_failed", failed / attempted if attempted else 1.0, "ratio", attempted)
    put("run_wall_s", raw["run_wall_s"], "s")
    if workload == "query_mix":
        rounds = len(ops) / len(spec["interactive"] + spec["batch"])
        inter = [o["wall_s"] for o in ok_ops if o["class"] == "interactive"]
        # one round of the mix from each query's median over its occurrences
        by_q = {}
        for o in ops:
            by_q.setdefault(o["name"], []).append(o["wall_s"])
        put("run_s", sum(median(v) for v in by_q.values()), "s", len(ops))
        put("query_p50_s", percentile(inter, 0.5), "s", len(inter))
        put("query_p90_s", percentile(inter, 0.9), "s", len(inter))
        batch = [o["wall_s"] for o in ok_ops if o["class"] == "batch"]
        put("batch_s", sum(batch) / rounds, "s", len(batch))
    else:
        bulk = [u for u in units if u["kind"] == "bulk"]
        days = [u["wall_s"] for u in units if u["kind"] == "day"]
        steps = [o["wall_s"] for o in ok_ops if o["class"] == "step"]
        put("run_s", sum(u["wall_s"] for u in units), "s", len(units))
        put("ingest_rows_per_s", bulk[0]["rows"] / bulk[0]["ingest_s"], "rows/s", 1)
        put("day_p50_s", percentile(days, 0.5), "s", len(days))
        put("day_mean_s", sum(days) / len(days) if days else None, "s", len(days))
        put("step_p50_s", percentile(steps, 0.5), "s", len(steps))
        put("step_p90_s", percentile(steps, 0.9), "s", len(steps))

    layer = per_layer(raw, layer_names) if trace else {}
    provenance = dict(host_info)
    provenance.update({
        "spark_master": raw["provenance"]["spark_master"],
        "shuffle_partitions": raw["provenance"]["shuffle_partitions"],
        "max_heap_mb": raw["provenance"]["max_heap_mb"],
        "java": raw["provenance"]["java"], "spark": raw["provenance"]["spark"],
        "workload": workload, "seed": seed, "trace": trace, "inputs": inputs,
        "git_commit": git_commit(), "source_digest": digest})
    return attempted, failed, named, layer, provenance, bad_checks


def per_layer(raw, names):
    """Per-layer metrics: totals over the run's timed work, which is the same
    on every run of a workload, and the parts of the run's cold set-up."""
    s = raw["layer_sums"]
    timed = sum(u["wall_s"] for u in raw["units"]) or sum(o["wall_s"] for o in raw["ops"])
    computed = {
        "core.session_s": raw["setup"]["session_s"],
        "core.warmup_s": raw["setup"]["warmup_s"],
        "bronze.rows_per_s": s["bronze.rows"] / s["bronze.load_s"] if s.get("bronze.load_s") else 0.0,
        "audit.share": s.get("audit.s", 0.0) / timed if timed else 0.0,
        "jvm.heap_peak_mb": raw["jvm"]["heap_peak_mb"]}
    return {n: computed[n] if n in computed else s.get(LAYER_ALIASES.get(n, n), 0.0) for n in names}


def run_one(workload, seed, seconds, trace, spec_all, layer_names):
    spec = spec_all["workloads"][workload]
    host_info = host()
    digest = build()
    deadline = START + RUN_LIMIT_S
    work = os.path.join(WORK, "%s-s%d-t%d-%d" % (workload, seed, trace, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    units = work_size(spec, seconds)
    try:
        inputs = prepare_inputs(workload, spec, seed, data, units)
        cap = max(seconds, deadline - time.monotonic() - POST_S - 15)
        config = {"workload": workload, "seed": seed, "seconds": seconds, "cap_seconds": cap,
                  "units": units, "trace": bool(trace), "cores": host_info["nproc"], "host": host_info,
                  "work": work, "data": data, "out": os.path.join(work, "raw.json")}
        if workload == "query_mix":
            config["queries"] = dict([(q, "interactive") for q in spec["interactive"]] +
                                     [(q, "batch") for q in spec["batch"]])
            config["order"] = query_order(spec, seed, units)
        jvm_log = os.path.join(work, "jvm.log")
        code = run_jvm(config, jvm_log, deadline - POST_S)
        if code != 0:
            with open(jvm_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("harness JVM %s" % ("timed out" if code is None else "exited with %s" % code))
        with open(config["out"]) as f:
            raw = json.load(f)
        verdicts = {}
        if workload == "query_mix":
            import oracle
            with open(os.path.join(work, "results", "oracle_sql.json")) as f:
                sql = json.load(f)
            verdicts = oracle.compare(os.path.join(work, "results"), data, sql)
            # a query that could not even be materialized has no oracle entry
            for q in config["queries"]:
                if q not in sql:
                    verdicts[q] = "no result"
        attempted, failed, named, layer, prov, bad_checks = summarize(
            workload, spec, raw, host_info, inputs, seed, trace, digest, verdicts, layer_names)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    artifact = {"provenance": prov, "attempted": attempted, "failed": failed,
                "metrics": named, "per_layer": layer, "errors": raw["errors"],
                "failed_checks": bad_checks,
                "oracle_failures": {q: v for q, v in verdicts.items() if v},
                "setup": raw["setup"], "units": raw["units"], "ops": raw["ops"],
                "spans": raw["spans"] if trace else []}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "%s-s%d-t%d.json" % (workload, seed, trace)), "w") as f:
        json.dump(artifact, f, indent=1)
    return artifact


def print_named(workload, art):
    for name, m in art["metrics"].items():
        v = m["value"]
        n = " (n=%d)" % m["n"] if "n" in m else ""
        shown = "n/a: fewer than ten samples beyond it" if v is None else "%.6g" % v
        print("%-10s %-20s %s %s%s" % (workload, name, shown, m["unit"], n))
    for name, v in art["per_layer"].items():
        print("%-10s %-28s %.6g" % (workload, name, v))
    for q, why in art["oracle_failures"].items():
        print("%-10s oracle mismatch %s: %s" % (workload, q, why))
    for c in art["failed_checks"]:
        print("%-10s check failed %s: expected %s, got %s" % (workload, c["name"], c["expected"], c["actual"]))
    for e in art["errors"]:
        print("%-10s error %s" % (workload, e))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload, untraced then traced")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec_all = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    if a.all:
        return run_all(a, spec_all, bench, seconds)
    if a.workload not in spec_all["workloads"]:
        fail("unknown workload %r" % a.workload, 2)
    art = run_one(a.workload, a.seed, seconds, a.trace, spec_all, [m["name"] for m in bench["per_layer"]])
    print_named(a.workload, art)
    names = [m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    source = art["per_layer"] if a.trace else {k: v["value"] for k, v in art["metrics"].items()}
    metrics = {}
    for n in names:
        if source.get(n) is None:
            fail("metric %s was not measured" % n)
        metrics[n] = {"value": source[n], "unit": units[n]}
    print(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


def run_all(a, spec_all, bench, seconds):
    """Every workload, untraced and traced, each in its own process; prints
    every named metric and the tracing overhead, and writes one artifact."""
    combined = {"seed": a.seed, "seconds": seconds, "workloads": {}}
    for w in spec_all["workloads"]:
        runs = {}
        for t in (0, 1):
            r = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(seconds), "--trace", str(t)],
                               cwd=ROOT)
            if r.returncode != 0:
                fail("%s --trace %d failed" % (w, t))
            with open(os.path.join(OUT, "%s-s%d-t%d.json" % (w, a.seed, t))) as f:
                runs[t] = json.load(f)
        untraced, traced = runs[0], runs[1]
        u, t = untraced["metrics"]["run_s"]["value"], traced["metrics"]["run_s"]["value"]
        combined["workloads"][w] = {
            "provenance": untraced["provenance"], "attempted": untraced["attempted"],
            "failed": untraced["failed"], "metrics": untraced["metrics"],
            "per_layer": traced["per_layer"],
            "tracing_overhead": {"run_s_untraced": u, "run_s_traced": t,
                                 "run_s_delta_pct": (t / u - 1) * 100 if u else None}}
    path = os.path.join(OUT, "all-s%d.json" % a.seed)
    with open(path, "w") as f:
        json.dump(combined, f, indent=1)
    for w, r in combined["workloads"].items():
        for name, m in r["metrics"].items():
            v = m["value"]
            n = " (n=%d)" % m["n"] if "n" in m else ""
            print("%-10s %-20s %s %s%s" % (w, name, "n/a" if v is None else "%.6g" % v, m["unit"], n))
        o = r["tracing_overhead"]
        print("%-10s tracing overhead: run_s %.4g s untraced, %.4g s traced (%+.3g%%)"
              % (w, o["run_s_untraced"], o["run_s_traced"], o["run_s_delta_pct"]))
    print("artifact: %s" % os.path.relpath(path, ROOT))
    bad = sum(r["failed"] for r in combined["workloads"].values())
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main() or 0)
