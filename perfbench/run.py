#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <declared|chi_cs> --seed N
                             --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from the checkout's sources (sbt, under .bench_build/), generates
the input tables, and records every call's expected result from the DuckDB
oracle SQL; later runs reuse all three. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
See README.md in this directory for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench_lib  # noqa: E402
import datagen  # noqa: E402

SF = 0.01          # input scale: lineitem 60,000 rows, documents 500
DATA_SEED = 42     # the tables are fixed; --seed varies order and kernel inputs
PASS_ORDERS = 64   # seed-fixed call orders written for the harness
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
# per-layer metric prefixes each workload exercises: a traced run fails when
# one of them is missing, or when a figure that shows the layer was seen at
# all reads 0; the other per-layer metrics read 0 there (README.md)
TRACED_ALWAYS = ["queries.", "catalyst.", "scheduler.", "exec.", "shuffle.",
                 "mat.", "par.", "setup.", "trace.", "pass.", "jvm.", "codegen."]
LAYERS = {"declared": TRACED_ALWAYS + ["stream.", "expr."],
          "chi_cs": TRACED_ALWAYS + ["chi.", "keel."]}
SEEN_ALWAYS = ["queries.body_ms", "scheduler.jobs", "scheduler.tasks", "exec.task_run_ms"]
NONZERO = {"declared": SEEN_ALWAYS + ["stream.batches", "stream.state_rows"],
           "chi_cs": SEEN_ALWAYS + ["mat.jobs", "chi.rules"]}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, os.path.dirname(top)).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile engine + harness once per source state; return the classpath."""
    stamp = tree_hash([os.path.join(root, "src", "main"),
                       os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"),
                       os.path.join(HERE, "project", "build.properties")])
    # one compiled tree serves every stamp, so the stamp of what it holds
    # is recorded next to it and any other stamp recompiles
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(work, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in r.stdout.splitlines() if "scala-2.13/classes" in ln
             and not ln.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"build failed (log: {log})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip(), stamp


def ensure_data(work):
    stamp = tree_hash([os.path.join(HERE, "datagen.py")])
    out = os.path.join(work, f"data-sf{SF}-{stamp}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.write(tmp, SF, DATA_SEED)
        differ = datagen.check(tmp)
        if differ:
            fail(f"generated tables differ from the reference: {' '.join(differ)}")
        os.rename(tmp, out)
    return out, stamp


def java(cp, work, args, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           # a fixed set of JIT compiler threads, so that none exits and
           # takes its CPU time out of the harness's per-call JIT reading
           + ["-Xms2g", "-Xmx2g", "-XX:-UseDynamicNumberOfCompilerThreads",
              "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", cp, "perfbench.Main"] + args)
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out (log: {log})")
        finally:  # never leave the JVM behind, also on timeout or SIGTERM
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        fail(f"harness exited {code} (log: {log})")


def ensure_expected(work, cp, stamp, data, data_stamp):
    """Each call's (rows, checksum) from its oracle SQL, run by DuckDB."""
    path = os.path.join(work, f"expected-{stamp}-{data_stamp}.json")
    if os.path.exists(path):
        return json.load(open(path))
    import duckdb
    oracle = os.path.join(work, "oracle.json")
    java(cp, work, ["oracle", "--out", oracle], os.path.join(work, "oracle.log"))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    out = {}
    for workload, calls in json.load(open(oracle)).items():
        exp = {}
        for name, _key, sql in calls:
            try:
                rel = con.sql(sql)
                types = [str(t) for t in rel.types]
                exp[name] = list(bench_lib.checksum(rel.columns, rel.fetchall(), types))
            except Exception as e:  # no expectation: every call of it fails
                print(f"perfbench: oracle for {name} failed: {e}", file=sys.stderr)
        out[workload] = {"calls": [c[0] for c in calls], "expected": exp}
    with open(path, "w") as fh:
        json.dump(out, fh)
    return out


def end_to_end(res, good_ms, ok):
    passes = bench_lib.pass_seconds(res["calls"], False, ok)
    cpu = bench_lib.pass_seconds(res["calls"], False, ok, bench_lib.call_cpu_ms)
    if not passes:
        fail("no timed pass without a failed call")
    # printed, not metrics: wall times follow the co-tenants' load, and over
    # a pass of a few different operators the median call jumps between keys
    # from run to run
    p50, n = bench_lib.percentile(good_ms, 50)
    print(f"perfbench: {len(passes)} timed pass(es); median pass wall "
          f"{bench_lib.median(passes):.3f} s; "
          f"call_p50_ms {p50:.1f} over {n} calls")
    return {
        "setup_s": bench_lib.median(res["session_s"]) + res["warm_s"],
        "pass_cpu_s": bench_lib.median(cpu),
        "heap_live_peak_mb": res["heap_live_peak_mb"],
    }


def per_layer(res, names, workload, ok):
    m = dict(res["layers"])
    m["setup.session_s"] = bench_lib.median(res["session_s"])
    m["setup.warm_s"] = res["warm_s"]
    traced = bench_lib.pass_seconds(res["calls"], True, ok)
    untraced = bench_lib.pass_seconds(res["calls"], False, ok)
    jit = bench_lib.pass_seconds(res["calls"], False, ok, lambda c: c["jit_ms"])
    if untraced:
        m["pass.wall_s"] = bench_lib.median(untraced)
        m["jvm.jit_cpu_s"] = bench_lib.median(jit)
    for name, key in (("codegen.compiles", "janino"), ("jvm.classes_loaded", "classes")):
        m[name] = bench_lib.median([d[key] for d in res["pass_diag"]])
    if traced and untraced:
        m["trace.overhead_ms"] = 1e3 * (bench_lib.median(traced) - bench_lib.median(untraced))
    missing, idle = bench_lib.check_layers(m, names, LAYERS[workload], NONZERO[workload])
    if missing or idle:
        fail(f"layers this workload exercises were not measured: missing {missing}, "
             f"zero {idle}")
    skipped = [k for k in names if k not in m]
    print(f"perfbench: layers {workload} does not exercise, reported as 0: {' '.join(skipped)}")
    return {k: m.get(k, 0.0) for k in names}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("no engine sources under src/main/scala/graft; run from the checkout root")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the checkout root")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)

    cp, stamp = build(root, work)
    data, data_stamp = ensure_data(work)
    exp = ensure_expected(work, cp, stamp, data, data_stamp)[a.workload]

    run_id = f"{a.workload}-{a.seed}-{a.trace}"
    orders = os.path.join(work, f"orders-{run_id}.txt")
    with open(orders, "w") as fh:
        for o in bench_lib.call_orders(a.seed, len(exp["calls"]), PASS_ORDERS):
            fh.write(" ".join(map(str, o)) + "\n")
    out = os.path.join(work, f"result-{run_id}.json")
    if os.path.exists(out):
        os.remove(out)
    java(cp, work, ["run", "--workload", a.workload, "--data", data,
                    "--orders", orders, "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--seed", str(a.seed),
                    "--work", work, "--out", out],
         os.path.join(work, f"run-{run_id}.log"))
    res = json.load(open(out))

    expected = {k: tuple(v) for k, v in exp["expected"].items()}
    attempted, failed, good = bench_lib.account(res["calls"], expected)
    ok = lambda c: bench_lib.passed(c, expected)  # noqa: E731
    for c in res["calls"]:
        if not ok(c):
            print(f"perfbench: FAILED {c['key']} pass {c['pass']}: "
                  f"{c['error'] or (c['rows'], c['checksum'])}, "
                  f"expected {expected.get(c['key'])}")
    print(f"perfbench: env {res['env']}")
    if a.trace:
        group = spec["per_layer"]
        values = per_layer(res, [g["name"] for g in group], a.workload, ok)
        print(f"perfbench: per-call trace in {work}/trace-{a.workload}-{a.seed}.json")
    else:
        group = spec["end_to_end"]
        if not good:
            fail("no call passed its correctness check")
        values = end_to_end(res, good, ok)
    metrics = {g["name"]: {"value": values[g["name"]], "unit": g["unit"]} for g in group}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
