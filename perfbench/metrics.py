"""Statistics, spans and layer metrics over the benchmark JVM's raw record.

Every function here is pure, so the unit tests can feed it synthetic
records.
"""
import math
import statistics

# Modules a Spark job can be attributed to; "bench" is the benchmark's own
# code (the sink write that executes a query's plan).
MODULES = ["SparkEntry", "Snapshots", "GraftCatalog", "GraftDml", "Dedup",
           "Similarity", "TextAnalysis", "Materialize", "CsvStage",
           "Pipeline", "AlmaConnector", "bench"]
OTHER = "other"

PHASES = ["build", "exec", "format", "split", "update"]
STAGE_SUMS = ["tasks", "tiny_tasks", "executor_run_ms", "executor_cpu_ms",
              "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
              "input_bytes", "spill_bytes", "result_bytes"]
FS_COUNTS = ["fs.bytes_read", "fs.bytes_written"]
SPAN_KINDS = ["op", "phase", "job", "stage"]


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def highest_percentile(n):
    """The highest whole percentile with at least ten of n samples above
    it, or None when n is too small to support any."""
    if n <= 10:
        return None
    return math.floor(100 * (n - 10) / n)


def percentile(xs, p):
    """Nearest-rank percentile p (1-100) of xs."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def measured_times(record):
    """Seconds of each op's successful runs in the measured passes
    ({name: [s]}), and seconds of each measured pass in which no op
    failed. A failed op's time is no measurement, so neither it nor the
    passes it ran in count."""
    failed = {o["pass"] for o in record["ops"] if not o["ok"]}
    ops = {}
    for o in record["ops"]:
        if o["ok"]:
            ops.setdefault(o["name"], []).append(
                (o["end_us"] - o["start_us"]) / 1e6)
    passes = [(p["end_us"] - p["start_us"]) / 1e6
              for p in record["passes"] if p["pass"] not in failed]
    return ops, passes


def module_of(call_site):
    """The module of the first frame of a call site (one frame a line, as
    Spark prints it) that is the benchmark's own code or that sits in the
    source file of a known module of the program, or None when no frame
    does. A program frame is attributed by its source file, not its class,
    because a module's file may define classes of other names
    (GraftDml.scala holds GraftDmlExec and the Graft*Command classes)."""
    for line in call_site.splitlines():
        frame = line.strip()
        if frame.startswith("at "):
            frame = frame[3:]
        cls, _, where = frame.partition("(")
        if cls.startswith("perfbench."):
            return "bench"
        if cls.startswith("graft."):
            source = where.split(":", 1)[0].rstrip(")")
            if source.endswith(".scala") and source[:-6] in MODULES:
                return source[:-6]
    return None


def job_module(job):
    """A job's module from its own call site, else from the call site of
    the SQL execution that launched it (jobs submitted from Spark's
    thread pools carry no program frame of their own)."""
    return (module_of(job.get("call_site", ""))
            or module_of(job.get("exec_call_site", "")) or OTHER)


def union_length(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0, lo
    for a, b in clipped:
        if b <= a:
            continue
        if a > end:
            total += b - a
        elif b > end:
            total += b - end
        end = max(end, b)
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    covered by its children. Spans are dicts with id, parent, start, end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - union_length(
        children.get(s["id"], []), s["start"], s["end"]) for s in spans}


def dup_stage_ms(stages):
    """Executor ms of the stages that recompute an RDD an earlier stage of
    the same op already computed. Stages are taken in id order."""
    seen, dup = set(), 0
    for st in sorted(stages, key=lambda s: s["id"]):
        rdds = set(st["rdds"])
        if rdds & seen:
            dup += st["executor_run_ms"]
        seen |= rdds
    return dup


def build_spans(record):
    """Spans of the traced passes: run, pass, op, phase, job, stage. Times
    are microseconds since the epoch; jobs and stages hang under the phase
    their start falls in."""
    spans = []
    passes = [p for p in record["passes"] if p["traced"]]
    if not passes:
        return spans
    spans.append({"id": "run", "parent": None, "kind": "run", "name": "run",
                  "start": min(p["start_us"] for p in passes),
                  "end": max(p["end_us"] for p in passes)})
    for p in passes:
        spans.append({"id": f"p{p['pass']}", "parent": "run", "kind": "pass",
                      "name": str(p["pass"]), "start": p["start_us"],
                      "end": p["end_us"]})
    phase_of = {}
    for op in record["ops"]:
        if not op["traced"]:
            continue
        oid = f"{op['pass']}/{op['name']}"
        spans.append({"id": oid, "parent": f"p{op['pass']}", "kind": "op",
                      "name": op["name"], "start": op["start_us"],
                      "end": op["end_us"]})
        for ph in op["phases"]:
            pid = f"{oid}/{ph['name']}"
            spans.append({"id": pid, "parent": oid, "kind": "phase",
                          "name": ph["name"], "start": ph["start_us"],
                          "end": ph["end_us"]})
            phase_of.setdefault(oid, []).append(
                (ph["start_us"], ph["end_us"], pid))
    for job in record["jobs"]:
        start, end = job["start_ms"] * 1000, job["end_ms"] * 1000
        parent = job["op"]
        for a, b, pid in phase_of.get(job["op"], []):
            if a <= start <= b:
                parent = pid
        spans.append({"id": f"j{job['id']}", "parent": parent, "kind": "job",
                      "name": job_module(job), "start": start, "end": end})
    for st in record["stages"]:
        spans.append({"id": f"s{st['id']}.{st['attempt']}",
                      "parent": f"j{st['job']}", "kind": "stage",
                      "name": str(st["id"]), "start": st["submit_ms"] * 1000,
                      "end": st["end_ms"] * 1000})
    return spans


def layer_metrics(record, success_rows):
    """Per-layer metrics of a traced run, each per traced pass.
    `success_rows[name]` is the number of items op `name` must route to
    success (for the transport's useful/attempted ratio)."""
    traced = [p for p in record["passes"] if p["traced"]]
    untraced = [p for p in record["passes"] if not p["traced"]]
    n = len(traced)
    ops = [o for o in record["ops"] if o["traced"]]
    op_ids = {f"{o['pass']}/{o['name']}": o for o in ops}
    jobs = [j for j in record["jobs"] if j["op"] in op_ids]
    stages = [s for s in record["stages"] if s["op"] in op_ids]
    m = {}

    for ph in PHASES:
        m[f"{ph}_ms"] = sum((p["end_us"] - p["start_us"]) / 1000
                            for o in ops for p in o["phases"]
                            if p["name"] == ph) / n

    plans = [pl for pl in record["plans"] if any(
        o["start_us"] <= pl["end_ms"] * 1000 <= o["end_us"] for o in ops)]
    m["sql_executions"] = len(plans) / n
    m["plan_ms"] = sum(pl["plan_ms"] for pl in plans) / n

    m["jobs"] = len(jobs) / n
    m["stages"] = len(stages) / n
    for k in STAGE_SUMS:
        m[k] = sum(s[k] for s in stages) / n
    pass_ms = sum(p["end_us"] - p["start_us"] for p in traced) / 1000
    m["core_util"] = sum(s["executor_run_ms"] for s in stages) / (
        pass_ms * record["cpus"])

    driver_only = dup = 0.0
    for oid, o in op_ids.items():
        spans = [(j["start_ms"] * 1000, j["end_ms"] * 1000)
                 for j in jobs if j["op"] == oid]
        driver_only += (o["end_us"] - o["start_us"] - union_length(
            spans, o["start_us"], o["end_us"])) / 1000
        dup += dup_stage_ms([s for s in stages if s["op"] == oid])
    m["driver_only_ms"] = driver_only / n
    m["dup_stage_ms"] = dup / n

    for mod in MODULES + [OTHER]:
        mine = [j for j in jobs if job_module(j) == mod]
        m[f"jobs.{mod}"] = len(mine) / n
        m[f"job_ms.{mod}"] = sum(j["end_ms"] - j["start_ms"]
                                 for j in mine) / n

    for k in FS_COUNTS + ["store.fetches", "store.puts"]:
        m[k] = sum(o["counts"].get(k, 0) for o in ops) / n
    expected = sum(success_rows.get(o["name"], 0) for o in ops)
    m["store.puts_per_item"] = (
        sum(o["counts"].get("store.puts", 0) for o in ops) / expected
        if expected else 0.0)

    spans = build_spans(record)
    own = self_times(spans)
    for kind in SPAN_KINDS:
        m[f"self_ms.{kind}"] = sum(
            own[s["id"]] for s in spans if s["kind"] == kind) / 1000 / n

    def pass_s(ps):
        return median([(p["end_us"] - p["start_us"]) / 1e6 for p in ps])
    m["traced_pass_s"] = pass_s(traced)
    m["untraced_pass_s"] = pass_s(untraced)
    m["trace_overhead_s"] = m["traced_pass_s"] - m["untraced_pass_s"]
    return m, spans
