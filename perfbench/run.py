#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the program and the benchmark's Scala side from source (once
per checkout, into .bench_build/), generates the workload's inputs from the
seed, runs perfbench.PerfBench on local[nproc] for about --seconds, checks every
operation's output and prints one JSON result as the last line of stdout.
With --trace 0 the result carries the end-to-end metrics, with --trace 1
the per-layer metrics. See perfbench/README.md.
"""
import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import zipfile  # noqa: E402

import pyarrow.parquet as pq  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "app.jsa")


def _spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the ones pyspark ships."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        import pyspark
    except ImportError:
        return ""
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


SPARK_JARS = _spark_jars()
JVM_HEAP = "4g"
DEADLINE_S = 170  # the whole run, build excluded

# Scale factor of the generated inputs (testdata scale).
SF = 0.01
FLOOR = [
    "q01_pricing_summary", "q02_dedup_keep_latest", "q03_dedup_keep_earliest",
    "q04_distinct_rows", "q05_upsert_merge", "q06_upsert_by_date",
    "q07_user_activity", "q08_daily_revenue", "q09_product_catalog",
    "q10_finance_kpis", "q11_sales_kpis", "q12_ops_kpis", "q13_top_events",
    "q14_date_histogram", "q15_stats_summary", "q16_value_counts",
    "q17_quality_events", "q18_quality_docs", "q19_duplicate_keys",
    "q20_flatten_props", "q21_to_json_payload", "q22_string_normalize",
    "q23_binning", "q24_date_trunc", "q25_monetary_round",
    "q26_safe_division", "q27_metadata_cols", "q28_union_endpoints",
    "q29_retention_filter", "q30_archive_slice", "q31_backfill_window",
    "q32_cast_project", "q33_drop_all_null", "q34_quality_suite",
    "q35_silver_products", "q36_silver_carts", "q37_silver_users",
    "q38_silver_orders"]
HEAVY = ["q145_pagerank", "q126_corpus_build", "q270_stream_dedup"]
# Days [0, history) load the lake untimed; the days after them are timed.
PIPELINE = {"days": 2, "history": 1, "backfill": (0, 1), "cutoff": 1}
WORKLOADS = {"queries": FLOOR + HEAVY, "pipeline_daily": None}

# what spark-submit would pass to a JDK 17 Spark application. Every JVM here
# also gets -XX:-UsePerfData, which keeps it from writing /tmp/hsperfdata_*.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _DECLARED = json.load(_fh)
END_TO_END = [(m["name"], m["unit"]) for m in _DECLARED["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _DECLARED["per_layer"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "scala")]
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the program's main sources plus perfbench/scala with the Scala
    compiler that ships in Spark's jars into a jar, and record a class-data
    archive for it (see `train`); reuse both while no source changes.
    Returns the jar and the sources' hash."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources (src/main/scala) next to perfbench/")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "app.jar")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, stamp
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in os.walk(tmp):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), tmp))
    shutil.rmtree(tmp)
    train(jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar, stamp


def train(jar):
    """Records the class-data-sharing archive every benchmark JVM starts
    from: one untimed pass of all benchmark queries with
    -XX:ArchiveClassesAtExit. With it, the JVM maps the Spark and program
    classes that pass loaded instead of loading and verifying them one by
    one; JVM and session start fell from about 8.6 s to 2.5 s on a 4-vCPU
    VM. A JVM that cannot use the archive runs without it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = os.path.join(BUILD, "train")
    shutil.rmtree(work, ignore_errors=True)
    gen.write_base(SF, os.path.join(work, "input"))
    with open(os.path.join(work, "input", "orders.txt"), "w") as fh:
        fh.write(" ".join(WORKLOADS["queries"]) + "\n")
    # negative seconds: the untimed warm pass only, here over every query
    run_jvm(jar, "queries", os.path.join(work, "input"), work, -1, 0,
            DEADLINE_S, ["-XX:ArchiveClassesAtExit=" + ARCHIVE])
    shutil.rmtree(work)


# ----------------------------------------------------------------- inputs

def generate(workload, seed, outdir):
    if workload == "pipeline_daily":
        batches = gen.pipeline_batches(SF, seed, PIPELINE["days"])
        gen.write_batches(batches, outdir)
        with open(os.path.join(outdir, "pipeline.txt"), "w") as fh:
            fh.write(f"first_day {gen.FIRST_DAY.isoformat()}\n"
                     f"days {PIPELINE['days']}\n"
                     f"history {PIPELINE['history']}\n"
                     "backfill %d %d\n" % PIPELINE["backfill"] +
                     f"cutoff {PIPELINE['cutoff']}\n")
        return batches
    gen.write_base(SF, outdir)
    # line 1: the untimed warm pass over the floor queries; then one order
    # of all the queries per timed pass
    orders = (gen.query_orders(FLOOR, seed, 1)
              + gen.query_orders(WORKLOADS[workload], seed, 64))
    with open(os.path.join(outdir, "orders.txt"), "w") as fh:
        fh.write("\n".join(" ".join(o) for o in orders) + "\n")
    return None


# ------------------------------------------------------------------ checks

def check_queries(ops, expected):
    for o in ops:
        if o["ok"] and o["detail"] != expected.get(o["name"]):
            o["ok"] = False
            o["error"] = (f"digest {o['detail']} != expected "
                          f"{expected.get(o['name'])}")


def rows(path):
    """Rows in every parquet file under `path` (partition directories such
    as _ingestion_date=... included)."""
    return sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
               for d, _, fs in os.walk(path) for f in fs
               if f.endswith(".parquet"))


def check_pipeline(ops, ref, workdir):
    """Compare every RunReport and maintenance count with the reference,
    and each pass's final silver/gold tables with the reference digests."""
    for o in ops:
        if not o["ok"]:
            continue
        got = o["detail"]
        if o["name"].startswith("day"):
            r = ref["reports"][int(o["name"][3:])]
            want = {"bronze": r["bronze"], "silver": r["silver"],
                    "gold": r["gold"], "quality_failed": 0}
        else:
            want = ref["backfill" if o["name"] == "backfill" else "archived"]
        if got != want:
            o["ok"], o["error"] = False, f"report {got} != expected {want}"
    for p in sorted({o["pass"] for o in ops}):
        lake = os.path.join(workdir, "lake", f"pass{p}")
        bad = []
        for layer, tables in (("silver", ref["silver"]), ("gold", ref["gold"])):
            for t, want in tables.items():
                path = os.path.join(lake, layer, t)
                got = gen.table_digest(pq.read_table(path)) \
                    if os.path.isdir(path) else None
                if got != want:
                    bad.append(f"{layer}.{t} {got} != {want}")
        for e in gen.ENTITIES:
            live = rows(os.path.join(lake, "bronze", f"{e}_raw"))
            arch = rows(os.path.join(lake, "bronze", f"{e}_archive"))
            if (live, arch) != (ref["bronze_live"][e], ref["archived"][e]):
                bad.append(f"bronze.{e} live/archive {live}/{arch}")
        if rows(os.path.join(lake, "audit")) != ref["audit_rows"]:
            bad.append("audit rows")
        if bad:
            last = [o for o in ops if o["pass"] == p][-1]
            if last["ok"]:
                last["ok"], last["error"] = False, "; ".join(bad)


def lake_stats(workdir, p):
    files = size = 0
    for d, _, fs in os.walk(os.path.join(workdir, "lake", f"pass{p}")):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, f))
    return files, size


# ----------------------------------------------------------------- metrics

def end_to_end(ops, res, setup_s, workdir, workload):
    timed = [o for o in ops if o["timed"]]
    walls = {}
    for o in timed:
        walls[o["pass"]] = walls.get(o["pass"], 0.0) + o["secs"]
    lat = [o["secs"] for o in timed if o["name"] not in ("backfill", "archive")]
    if workload == "pipeline_daily":
        lake = statistics.median(lake_stats(workdir, p)[1] for p in walls)
    else:  # the queries leave no lake: what they write on the way
        lake = statistics.median(res["bytes_written"])
    return {"setup_s": setup_s, "wall_s": statistics.median(walls.values()),
            "op_p50_s": statistics.median(lat),
            "heap_retained_mb": res["heap_retained_mb"], "lake_bytes": lake}


LABELLED = {
    "operators.pagerank": ({"q145_pagerank"}, "stages"),
    "dedup.corpus_build": ({"q126_corpus_build"}, "jobs"),
    "streaming.replay": ({"q270_stream_dedup"}, "jobs")}
ROOTS = ("query", "pipeline.batch", "maintenance.backfill",
         "maintenance.archive")


def self_times(spans):
    """Span id -> duration minus the part of it its children cover, their
    tracing bookkeeping included."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["end_ns"] - c["start_ns"] + c["own_ns"]
                      for c in kids.get(s["id"], []))
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def pass_layers(ss, selft, cores, staged_rows):
    """Per-layer metrics of one traced pass, from its spans."""
    def named(name):
        return [s for s in ss if s["name"] == name]

    def count(sel, key):
        return sum(s["counts"][key] for s in sel)

    def dur(sel):
        return sum(s["end_ns"] - s["start_ns"] for s in sel) / 1e9

    def self_s(name):
        return sum(selft[s["id"]] for s in named(name))

    roots = [s for s in ss if s["name"] in ROOTS]
    wall = dur(roots)
    run_s = count(roots, "run_ms") / 1e3
    m = {
        "registry.build_s": self_s("registry.build"),
        "registry.build_jobs": count(named("registry.build"), "jobs"),
        "planner.plan_s": self_s("planner.plan"),
        "exec.run_s": self_s("exec.run"),
        "spark.jobs": count(roots, "jobs"),
        "spark.stages": count(roots, "stages"),
        "spark.tasks": count(roots, "tasks"),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": count(roots, "cpu_ns") / 1e9,
        "spark.task_gc_s": count(roots, "gc_ms") / 1e3,
        "spark.task_overhead_s": count(roots, "task_ms") / 1e3 - run_s,
        "spark.occupancy": run_s / (wall * cores) if wall else 0.0,
        "spark.shuffle_read_mb": count(roots, "shuffle_read_b") / 1e6,
        "spark.shuffle_write_mb": count(roots, "shuffle_write_b") / 1e6,
        "spark.spill_mb": count(roots, "spill_b") / 1e6,
        "audit.append_s": self_s("audit.append"),
        "maintenance.backfill_s": self_s("maintenance.backfill"),
        "maintenance.archive_s": self_s("maintenance.archive"),
        # what tracing adds: its bookkeeping at the span boundaries and the
        # extra planning behind planner.plan_s
        "trace.overhead_s": sum(s["own_ns"] for s in ss) / 1e9
        + self_s("planner.plan"),
    }
    for key, (labels, what) in LABELLED.items():
        sel = [s for s in roots if s["label"] in labels]
        m[key + "_s"] = dur(sel)
        m[f"{key}_{what}"] = count(sel, what)
    for st in ("bronze", "silver", "quality", "gold"):
        m[st + ".stage_s"] = self_s(st + ".stage")
        m[st + ".jobs"] = count(named(st + ".stage"), "jobs")
    bronze_b = count(named("bronze.stage"), "bytes_written")
    silver_b = count(named("silver.stage"), "bytes_written")
    m["bronze.bytes_written_mb"] = bronze_b / 1e6
    m["silver.records_read"] = count(named("silver.stage"), "records_read")
    m["silver.read_amplification"] = \
        m["silver.records_read"] / staged_rows if staged_rows else 0.0
    m["silver.write_amplification"] = silver_b / bronze_b if bronze_b else 0.0
    return m


def per_layer(spans, cores, workdir, staged_rows):
    selft = self_times(spans)
    passes = sorted({s["pass"] for s in spans if s["name"] in ROOTS})
    per_pass = []
    for p in passes:
        m = pass_layers([s for s in spans if s["pass"] == p], selft, cores,
                        staged_rows)
        m["lake.files"] = lake_stats(workdir, p)[0]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    probe = [s for s in spans if s["name"] == "tables.resolve"]
    if probe:
        out["tables.resolve_ms"] = sum(
            s["end_ns"] - s["start_ns"] for s in probe) / 1e6 / len(probe)
        out["tables.jobs_per_call"] = sum(
            s["counts"]["jobs"] for s in probe) / len(probe)
    return out


# -------------------------------------------------------------------- main

def cpu_steal():
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return vals[7], sum(vals)


def loadavg():
    with open("/proc/loadavg") as fh:
        return " ".join(fh.read().split()[:3])


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def run_jvm(jar, workload, inputs, work, seconds, trace, budget, flags=(),
            ref_job=None):
    """Runs perfbench.PerfBench on the inputs and returns its result.json.
    `ref_job` runs in this process while the JVM does."""
    if not flags and os.path.exists(ARCHIVE):
        flags = ["-XX:SharedArchiveFile=" + ARCHIVE]
    # C1 only: the timed pass comes early in the JVM's life, and C2
    # compiling in the background on the same cores spread the floor
    # queries' wall_s over 0.14 to 0.27 of its median between seeds on a
    # 4-vCPU VM; with C1 alone, 0.07.
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            "-XX:ReservedCodeCacheSize=512m",
            "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + list(flags) +
           ADD_OPENS +
           ["-cp", jar + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.PerfBench", workload, inputs, work,
            str(seconds), str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            if ref_job:
                ref_job()
            rc = proc.wait(timeout=max(budget, 10))
        except subprocess.TimeoutExpired:
            fail(f"the benchmark JVM exceeded the run deadline; log in {log_path}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    load_start, steal_start = loadavg(), cpu_steal()
    t_build = time.time()
    jar, source_sha = build()
    # set-up runs from process start to the first timed operation; a
    # compilation on the first run in a checkout does not count
    build_s = time.time() - t_build

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    batches = generate(a.workload, a.seed, inputs)
    ref = {}

    def reference():
        ref.update(gen.reference(batches, range(*PIPELINE["backfill"]),
                                 PIPELINE["cutoff"]))

    budget = DEADLINE_S - (time.time() - PROCESS_START - build_s)
    res = run_jvm(jar, a.workload, inputs, work, a.seconds, a.trace, budget,
                  ref_job=reference if a.workload == "pipeline_daily" else None)
    ops = res["ops"]

    # correctness, outside every timed window
    if a.workload == "pipeline_daily":
        check_pipeline(ops, ref, work)
    else:
        with open(os.path.join(HERE, "expected_digests.json")) as fh:
            check_queries(ops, json.load(fh))
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"FAILED pass {o['pass']} {o['name']}: {o['error']}",
                  file=sys.stderr)

    setup_s = res["first_op_ms"] / 1e3 - PROCESS_START - build_s
    steal_end = cpu_steal()
    env = {"nproc": res["cores"], "loadavg_start": load_start,
           "loadavg_end": loadavg(),
           "cpu_steal_share": (steal_end[0] - steal_start[0])
           / max(steal_end[1] - steal_start[1], 1),
           "heap_max_mb": res["heap_max_mb"],
           "spark_version": res["spark_version"], "git_commit": git_commit(),
           "source_sha256": source_sha,
           "workload": a.workload, "seed": a.seed, "trace": a.trace,
           "passes": len(res["bytes_written"]),
           "timed_phase_s": (res["last_op_ms"] - res["first_op_ms"]) / 1e3,
           "run_s": time.time() - PROCESS_START - build_s}
    print("env " + json.dumps(env))
    print(f"error_rate {failed / attempted:.6f} ratio "
          f"(failed {failed} / attempted {attempted})")
    if a.trace:
        staged_rows = 0
        if a.workload == "pipeline_daily":
            staged_rows = sum(sum(r["bronze"].values())
                              for r in ref["reports"][PIPELINE["history"]:])
        spans = [json.loads(line) for line in open(os.path.join(work, "spans.jsonl"))]
        values = per_layer(spans, res["cores"], work, staged_rows)
        units = PER_LAYER
        trace_dir = os.path.join(BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
            trace_dir, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    else:
        values = end_to_end(ops, res, setup_s, work, a.workload)
        units = END_TO_END
    metrics = {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units}
    for k, m in metrics.items():
        print(f"{k} {m['value']} {m['unit']}")
    results_dir = os.path.join(BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump({"env": env, "metrics": metrics, "ops": ops}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
