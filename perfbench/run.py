#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
driver with sbt into the checkout; later runs reuse the build until a
source changes. Each run generates its inputs from the seed, starts one
JVM on local[N] (N = usable cores) with graft.Bench's session settings,
runs a check pass that writes every op's output and an untimed warm-up
pass, runs measured passes for S seconds as a closed loop with one
client, then checks the outputs. An op that fails, or whose output is
wrong, makes the result incorrect; a failed op's time is left out of the
timings.

The last line of standard output is the result: end-to-end metrics with
--trace 0, per-layer metrics (from a run whose passes alternate untraced
and traced) with --trace 1. Lines before it give the per-op record and
every metric with its unit and sample count. Everything the run writes
stays under .bench_build/ in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

# Query workloads name declared queries of graft.SparkEntry; see
# NOTES.md for why each op is in its workload.
WORKLOADS = {
    "alma_pipeline": None,
    "snapshot_graph": ["q33_snapshot_merge", "q66_sql_catalog",
                       "q19_communities"],
}
# Item files of alma_pipeline: several small exports measure per-job
# overhead, one large export measures parse and sort throughput.
ALMA_FILES = [300, 300, 20000]
# The query tables are the same in every run; the seed orders the ops.
TABLE_SEED = 42
SETUP_REPEATS = 3
# Untimed passes after the check pass, so the JIT has compiled Catalyst and
# the operators before the first measured pass.
WARMUP_PASSES = 1
JVM_MEM = "2g"
RUN_LIMIT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END_UNITS = {"pass_s": "s", "op_geomean_s": "s", "setup_s": "s",
                    "retained_heap_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest(root):
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src/main",
                 "perfbench/build.sbt", "perfbench/project/build.properties",
                 "perfbench/src"):
        path = os.path.join(root, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out_dir):
    """Compile the program and the benchmark JVM code; return its classpath."""
    digest = sources_digest(root)
    stamp = os.path.join(out_dir, "build.stamp")
    cp_file = os.path.join(out_dir, "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts + [env.get("SBT_OPTS", "")])
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as f:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=f,
            stderr=subprocess.STDOUT)
    lines = open(log).read().strip().splitlines()
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def usable_cpus():
    return len(os.sched_getaffinity(0))


def generate(workload, seed, data_dir):
    """Write the run's inputs; return the alma truth per file (or {})."""
    if os.path.exists(data_dir):
        shutil.rmtree(data_dir)
    os.makedirs(data_dir)
    if workload != "alma_pipeline":
        gen.write_tables(data_dir, TABLE_SEED)
        return {}
    truth = {}
    for i, n in enumerate(ALMA_FILES):
        name = f"items_{i:02d}.csv"
        truth[name] = gen.write_alma(os.path.join(data_dir, name),
                                     seed * 1000 + i, n)
    return truth


def launch(classpath, args, work, timeout):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    cmd = (["java"] + [x for p in JDK_OPENS
                       for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{JVM_MEM}", f"-Xmx{JVM_MEM}", "-XX:-UsePerfData",
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM ran past {timeout:.0f} s, see {log}")
    if rc != 0:
        tail = open(log).read().splitlines()[-20:]
        fail(f"benchmark JVM exited with {rc}:\n" + "\n".join(tail))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/compare_oracle.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of "
                 "the program")
    out_dir = os.path.join(root, ".bench_build")
    os.makedirs(out_dir, exist_ok=True)
    classpath = build(root, out_dir)
    t_start = time.time()

    work = os.path.join(out_dir, "work", a.workload)
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(os.path.join(work, "tmp"))
    data_dir = os.path.join(work, "data")
    check_dir = os.path.join(work, "check")

    gen_times = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        truth = generate(a.workload, a.seed, data_dir)
        gen_times.append(time.perf_counter() - t0)

    ops = WORKLOADS[a.workload] or sorted(truth)
    cpus = usable_cpus()
    record_path = os.path.join(work, "record.json")
    launch(classpath, {
        "kind": "pipeline" if a.workload == "alma_pipeline" else "query",
        "ops": ",".join(ops), "data": data_dir, "check": check_dir,
        "cpus": cpus, "seed": a.seed, "seconds": a.seconds,
        "warmup": WARMUP_PASSES, "trace": a.trace, "out": record_path,
    }, work, RUN_LIMIT_S - (time.time() - t_start))
    with open(record_path) as f:
        record = json.load(f)

    # ---- output checks
    wrong = {o["name"]: f"failed in the check pass: {o['error']}"
             for o in record["checks"] if not o["ok"]}
    ran = [o for o in record["checks"] if o["ok"]]
    if a.workload == "alma_pipeline":
        for o in ran:
            reason = checks.check_alma(o, truth[o["name"]])
            if reason:
                wrong[o["name"]] = f"incorrect output: {reason}"
    else:
        for name, reason in checks.check_queries(
                root, data_dir, check_dir, record["oracle"],
                [o["name"] for o in ran]).items():
            wrong[name] = f"incorrect output: {reason}"
    samples, pass_times = metrics.measured_times(record)
    measured_failures = [o for o in record["ops"] if not o["ok"]]
    attempted = len(record["checks"]) + len(record["ops"])
    failed = len(wrong) + len(measured_failures)

    # ---- per-op record
    print(f"workload {a.workload}: seed {a.seed}, local[{cpus}], "
          f"{len(record['passes'])} passes, {len(ops)} ops a pass")
    print(f"  set-up: input generation {metrics.median(gen_times):.2f} s, "
          f"session start {record['session_s']:.2f} s, check pass "
          f"{record['check_s']:.2f} s, warm-up {record['warmup_s']:.2f} s")
    all_times = []
    for name in ops:
        ts = samples.get(name, [])
        all_times += ts
        print(f"  op {name}: n={len(ts)}"
              + (f" median={metrics.median(ts):.4f} s min={min(ts):.4f} s "
                 f"max={max(ts):.4f} s" if ts else "")
              + (f"  FAILED: {wrong[name]}" if name in wrong else ""))
    for o in measured_failures:
        print(f"  op {o['name']} failed in pass {o['pass']}: {o['error']}")
    p = metrics.highest_percentile(len(all_times))
    print(f"  all ops: n={len(all_times)} "
          + (f"p{p}={metrics.percentile(all_times, p):.4f} s"
             if p else "too few samples for any percentile"))
    print(f"  failed_frac = {failed / attempted:.4f} "
          f"({failed} of {attempted} ops failed or were incorrect)")

    if not pass_times or any(n not in samples for n in ops):
        fail("no measurement left: every measured pass, or every run of "
             "some op, failed (see the lines above)")

    if a.trace:
        success_rows = {n: sum(t["route"] == "success" for t in rows)
                        for n, rows in truth.items()}
        layer, spans = metrics.layer_metrics(record, success_rows)
        with open(os.path.join(out_dir, f"spans-{a.workload}.json"), "w") as f:
            json.dump(spans, f)
        n_traced = sum(p["traced"] for p in record["passes"])
        for k, v in layer.items():
            print(f"  {k} = {v:.6g} (per traced pass, {n_traced} traced passes)")
        result = {k: {"value": v, "unit": layer_unit(k)}
                  for k, v in layer.items()}
    else:
        e2e = {
            "pass_s": metrics.median(pass_times),
            "op_geomean_s": metrics.geomean(
                [metrics.median(samples[n]) for n in ops]),
            "setup_s": metrics.median(gen_times) + record["session_s"]
            + record["check_s"] + record["warmup_s"],
            "retained_heap_mb": record["retained_heap_mb"],
        }
        counts = {"pass_s": f"median of {len(pass_times)} passes",
                  "op_geomean_s": f"{len(ops)} ops, median of "
                                  f"{min(map(len, samples.values()))}+ "
                                  "samples each",
                  "setup_s": f"input generation median of {SETUP_REPEATS}"
                             f" + session start + check pass + "
                             f"{WARMUP_PASSES} warm-up pass"
                             + ("es" if WARMUP_PASSES > 1 else ""),
                  "retained_heap_mb": "1 sample, after full GC"}
        for k, v in e2e.items():
            print(f"  {k} = {v:.6g} {END_TO_END_UNITS[k]} ({counts[k]})")
        result = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                  for k, v in e2e.items()}

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not wrong and not measured_failures,
                      "attempted": attempted,
                      "failed": failed, "metrics": result}))


def layer_unit(name):
    if name.endswith("_ms") or name.startswith("job_ms.") or \
            name.startswith("self_ms."):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.startswith("fs.bytes"):
        return "bytes"
    if name in ("core_util", "store.puts_per_item"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
