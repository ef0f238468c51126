#!/usr/bin/env python3
"""graft benchmark: run one workload of the engine and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine from source with sbt (once per source state), generates
the workload's inputs from the seed, runs perfbench.Main in one JVM at
local[nproc], checks every query's output against the repository's DuckDB
oracles, and prints one JSON object as the last line of stdout. With
--trace 0 it holds the end-to-end metrics; with --trace 1 a Spark listener
records every job and the per-layer metrics are printed instead.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # write nothing outside the build dir
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # the whole run, build excluded

# Two workloads, sized so that the benchmark's 48 runs fit well inside an
# hour at local[4]. Every run pays a cold set-up (25-35 s here: JVM, Spark
# session, first-pass code generation); `warmups` passes (the first is the
# cold one) precede at least `min_passes` timed passes, as many as fit in
# --seconds. Pass times keep falling for several passes while the JIT
# compiles the engine's planning code, so the overhead-bound corpus mix
# warms up longer.
# ANALYTICS are the README questions answered through StarAnalytics;
# analytics.query_s sums their latency.
ETL_RUN = "etl_run"
ANALYTICS = ["q07_top5_nations_monthly", "q10_orders_by_region"]
WORKLOADS = {
    # the reference system end to end: load the raw I94 extract (ETL:
    # build, write 13 tables, quality gates), then star-schema questions
    # (analytics, GraftCatalog SQL). No eager materialization
    # and no custom kernels: the bypass workload for ops/functions.
    "warehouse": {"mix": [ETL_RUN] + ANALYTICS + ["q41_topk_per_group"],
                  "sf": 0.01, "fact_copies": 2, "fact_rows": 30_000, "warmups": 1, "min_passes": 2},
    # corpus curation: dedup and quality operators with eager Checkpoints
    # jobs, plus a cosine top-k kernel. Writes nothing: the bypass for io/etl.
    "corpus": {"mix": ["q16_dedup_exact", "q57_quality_gate", "q72_span_dedup",
                       "q20_cosine_topk"],
               "sf": 0.01, "warmups": 5, "min_passes": 3},
}
END_TO_END = {"pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "input_rows_per_s": "1/s", "setup_s": "s", "retained_heap_mb": "MB"}

JDK_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def source_stamp():
    """Hash of every input of the build: engine sources, both build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources here: {need} is missing (run from the repository root)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine + harness with sbt")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-error", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdin=subprocess.DEVNULL, capture_output=True,
                       text=True, timeout=840)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        log(r.stdout[-3000:] + r.stderr[-3000:])
        fail("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ---- inputs -----------------------------------------------------------------

def inputs(workload, seed):
    """Generated input dir for (workload, seed), reused across runs: the
    harness tables, plus for an ETL mix the raw-data dir under raw/."""
    w = WORKLOADS[workload]
    etl = ETL_RUN in w["mix"]
    key = f"{w['sf']}x{w.get('fact_copies', 1)}" + (f"-raw{w['fact_rows']}" if etl else "")
    out = os.path.join(BUILD, "data", f"{key}-{seed}")
    manifest = os.path.join(out, "MANIFEST.json")
    if os.path.exists(manifest):
        os.utime(out)
        with open(manifest) as f:
            return out, json.load(f)
    # keep the cache small: drop the least recently used dirs
    cache = os.path.join(BUILD, "data")
    os.makedirs(cache, exist_ok=True)
    old = sorted(os.listdir(cache), key=lambda d: os.path.getmtime(os.path.join(cache, d)))
    for d in old[:max(0, len(old) - 7)]:
        shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if etl:
        fixture = os.path.join(ROOT, "fixtures", "GlobalLandTemperaturesByCountry.csv")
        raw = gen.etl_raw(os.path.join(tmp, "raw"), seed, w["fact_rows"], fixture)
    m = gen.tables(tmp, seed, w["sf"], w.get("fact_copies", 1))
    if etl:
        m["raw_rows"] = raw["rows"]
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump(m, f, indent=1, sort_keys=True)
    os.rename(tmp, out)
    return out, m


# ---- run --------------------------------------------------------------------

def run_jvm(cp, workload, data, work, seconds, trace, budget_s):
    plan = os.path.join(work, "plan.properties")
    with open(plan, "w") as f:
        f.write(f"workload={workload}\nqueries={','.join(WORKLOADS[workload]['mix'])}\n"
                f"data={data}\nwork={work}\nseconds={seconds}\n"
                f"min_passes={WORKLOADS[workload]['min_passes']}\n"
                f"warmups={WORKLOADS[workload]['warmups']}\n"
                f"trace={int(trace)}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # a fixed heap: letting G1 grow it during the run moved pass times by
    # a third between otherwise identical runs
    cmd = ["java", *JDK_OPENS, "-XX:ReservedCodeCacheSize=512m", "-Xms4g", "-Xmx4g",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.callstack.depth=100",
           "-cp", cp, "perfbench.Main", plan]
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=err, stderr=err, cwd=work)
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM exceeded {budget_s:.0f} s")
    if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
        log(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"JVM exited with {rc}")
    return json.load(open(os.path.join(work, "result.json")))


def digest_rules():
    """canon/table_digest from dev/check.py: the repository's oracle compare."""
    spec = importlib.util.spec_from_file_location("graft_check", os.path.join(ROOT, "dev", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(res, data, work):
    """Names of outputs that do not match their DuckDB oracle: each query's
    captured output, and each table the last ETL run wrote."""
    import duckdb
    chk = digest_rules()
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb.tmp')}'")
    for t in chk.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    bad = []
    for name, sql in sorted(res["oracle"].items()):
        drop = []
        if name.startswith("etl_"):
            table = name[len("etl_"):]
            src = f"read_parquet('{res['etl_out']}/{table}.parquet/**/*.parquet', hive_partitioning=true)"
            # uuid() ids are not reproducible; EtlQueries drops them too
            drop = ["id"] if table in ("fact_temperature", "fact_us_population", "fact_us_race") else []
        else:
            src = f"read_parquet('{work}/check/{name}/*.parquet')"
        try:
            s = con.execute(f"SELECT * FROM {src}")
            scols = [d[0] for d in s.description]
            srows = s.fetchall()
            keep = [i for i, c in enumerate(scols) if c not in drop]
            scols = [scols[i] for i in keep]
            srows = [tuple(r[i] for i in keep) for r in srows]
            o = con.execute(sql)
            ocols = [d[0] for d in o.description]
            orows = o.fetchall()
        except Exception as e:  # an output that cannot be read failed
            log(f"check {name}: {e}")
            bad.append(name)
            continue
        if sorted(scols) != sorted(ocols) or len(srows) != len(orows) \
                or chk.table_digest(scols, srows) != chk.table_digest(ocols, orows):
            log(f"check {name}: mismatch ({len(srows)} vs {len(orows)} rows)")
            bad.append(name)
    return bad


# ---- metrics ----------------------------------------------------------------

def timed(res):
    """{pass tag: [exec]} for the timed passes."""
    out = {}
    for e in res["execs"]:
        if e["phase"].startswith("pass-"):
            out.setdefault(e["phase"], []).append(e)
    return out


def end_to_end(res, manifest):
    passes = timed(res)
    pass_s = statistics.median(sum(e["build_s"] + e["run_s"] for e in es) for es in passes.values())
    # a run has 8-12 latency samples, too few for a percentile above the
    # median with ten samples beyond it; the tail is the slowest query of
    # each pass, median over passes
    slowest = statistics.median(max(e["build_s"] + e["run_s"] for e in es) for es in passes.values())
    log(f"{len(passes)} timed passes")
    rows = sum(manifest["rows"].values()) + sum(manifest.get("raw_rows", {}).values())
    # median over the mix's queries of each query's median latency: with a
    # few queries per pass, the median of the raw samples jumps between
    # the two queries it falls between
    per_query = {}
    for es in passes.values():
        for e in es:
            if e["ok"]:
                per_query.setdefault(e["query"], []).append(e["build_s"] + e["run_s"])
    p50 = statistics.median(statistics.median(v) for v in per_query.values())
    return {"pass_s": pass_s, "query_p50_s": p50, "query_tail_s": slowest,
            "input_rows_per_s": rows / pass_s, "setup_s": res["setup_s"],
            "retained_heap_mb": res["retained_heap_mb"]}


def union_s(intervals):
    """Wall time covered by a set of [start, end] ms intervals, in seconds."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def attribute(spans):
    """Give each job its layer and its parent span (the query span, or the
    phase span, whose interval holds the job's start)."""
    jobs = [s for s in spans if s["name"] == "job"]
    owners = sorted((s for s in spans if s["name"] != "job"),
                    key=lambda s: s["end"] - s["start"])
    for j in jobs:
        j["layer"] = layers.layer_of(j["frames"])
        own = next((o for o in owners if o["start"] <= j["start"] <= o["end"]), None)
        j["parent"] = own["name"] if own else ""
        j["query"] = own["query"] if own else ""
        j["phase"] = "" if own is None else \
            own["parent"] if own["name"].startswith("query:") else own["name"]
    return jobs


PER_LAYER = {
    "SparkEntry.build_s": "s", "SparkEntry.run_s": "s", "analytics.query_s": "s",
    "ops.jobs": "count", "ops.materialize_jobs": "count", "ops.materialized_mb": "MB",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.core_idle_share": "ratio",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "spark.failed_tasks": "count", "spark.failed_stages": "count",
    "io.jobs": "count", "io.write_s": "s", "io.output_mb": "MB", "io.output_files": "count",
    "etl.build_s": "s", "quality.jobs": "count", "quality.check_s": "s",
    "jvm.gc_s": "s",
    "unattributed.jobs": "count", "trace.pass_s": "s",
}
# job counts of every layer; ops.materialize has its own name above and
# streaming is outside both workloads
JOB_LAYERS = [l for l in layers.LAYERS if l not in ("ops.materialize", "streaming")]
for _l in JOB_LAYERS:
    PER_LAYER.setdefault(f"{_l}.jobs", "count")


def per_layer(res, spans, cores, etl_files):
    jobs = attribute(spans)
    passes = timed(res)
    analytics = set(ANALYTICS)
    per_pass = []
    for tag, es in passes.items():
        pj = [j for j in jobs if j["phase"] == tag]
        wall = sum(e["build_s"] + e["run_s"] for e in es)
        task_s = sum(j["task_ms"] for j in pj) / 1000.0
        mb = 1048576.0
        m = {
            "SparkEntry.build_s": sum(e["build_s"] for e in es),
            "SparkEntry.run_s": sum(e["run_s"] for e in es),
            "analytics.query_s": sum(e["build_s"] + e["run_s"] for e in es if e["query"] in analytics),
            "ops.materialized_mb": sum(j["materialized_b"] for j in pj) / mb,
            "spark.jobs": len(pj),
            "spark.stages": sum(j["stages"] for j in pj),
            "spark.tasks": sum(j["tasks"] for j in pj),
            "spark.task_s": task_s,
            "spark.core_idle_share": 1.0 - task_s / (wall * cores) if wall > 0 else 0.0,
            "spark.shuffle_read_mb": sum(j["shuffle_read_b"] for j in pj) / mb,
            "spark.shuffle_write_mb": sum(j["shuffle_write_b"] for j in pj) / mb,
            "spark.spill_mb": sum(j["spill_b"] for j in pj) / mb,
            "spark.input_mb": sum(j["input_b"] for j in pj) / mb,
            "spark.failed_tasks": sum(j["failed_tasks"] for j in pj),
            "spark.failed_stages": sum(j["failed_stages"] for j in pj),
            "io.write_s": union_s([(j["start"], j["end"]) for j in pj if j["layer"] == "io"]),
            "io.output_mb": sum(j["output_b"] for j in pj) / mb,
            "quality.check_s": union_s([(j["start"], j["end"]) for j in pj if j["layer"] == "quality"]),
            "trace.pass_s": wall,
        }
        for l in JOB_LAYERS + ["ops.materialize"]:
            m[f"{l}.jobs"] = sum(1 for j in pj if j["layer"] == l)
        m["ops.materialize_jobs"] = m.pop("ops.materialize.jobs")
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    builds = [s["end"] - s["start"] for s in spans if s["name"] == "etl.build"
              and s["parent"].startswith("pass-")]
    out["etl.build_s"] = statistics.median(builds) / 1000.0 if builds else 0.0
    out["io.output_files"] = etl_files
    out["jvm.gc_s"] = res["gc_timed_s"] / max(1, res["passes"])
    n_un = sum(1 for j in jobs if j["layer"] == "unattributed")
    log(f"{len(jobs)} jobs traced, {n_un} unattributed")
    return out, jobs


def count_files(d):
    return sum(1 for _, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")) if d else 0


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    cp = build()
    t_start = time.time()
    data, manifest = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    budget = DEADLINE_S - (time.time() - t_start) - 15
    t_jvm = time.time()
    res = run_jvm(cp, a.workload, data, work, a.seconds, a.trace, budget)
    t_check = time.time()
    bad = oracle_check(res, data, work)
    log(f"inputs {t_jvm - t_start:.1f} s, jvm {t_check - t_jvm:.1f} s, "
        f"oracle check {time.time() - t_check:.1f} s")
    for f in res["failures"]:
        log(f"failure: {f}")
    # every timed or warm-up execution, plus one output check per query
    # (per table for etl); Spark-side failures are in res["failures"]
    checks = len(res["oracle"])
    attempted = len(res["execs"]) + checks
    failed = len(res["failures"]) + len(bad)
    # the last run of each workload and mode keeps its result (and, traced,
    # its spans with layers and parents filled in); the work dir goes
    keep = os.path.join(BUILD, "last", f"{a.workload}-{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    shutil.copy(os.path.join(work, "result.json"), keep)
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(l) for l in f]
        ms, jobs = per_layer(res, spans, res["cores"], count_files(res["etl_out"]))
        metrics = {k: {"value": ms[k], "unit": u} for k, u in PER_LAYER.items()}
        with open(os.path.join(keep, "spans.jsonl"), "w") as f:
            for s in [s for s in spans if s["name"] != "job"] + jobs:
                f.write(json.dumps(s) + "\n")
    else:
        ms = end_to_end(res, manifest)
        metrics = {k: {"value": ms[k], "unit": u} for k, u in END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
