#!/usr/bin/env python3
"""The repository's benchmark: stream ingest and the registered query suite.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark harness (perfbench/src) with the Scala
compiler found in the Spark jar directory named by build.sbt, into
.bench_build/. Each run then starts one JVM that runs workload W once and
writes a raw record; this script checks the record's outputs and prints
the metrics. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The line
before it reports the same run under the workload's own metric names,
with host steal seconds.

Workloads (BENCHMARK.json says why each was chosen):
  ingest_steady  TripGen -> Json.toKeyedJson -> Pipeline.startIdempotent ->
                 Warehouse, 10,000 rows a trigger, closed loop
  queries        the registered queries expected.json lists, over
                 perfbench/data/sf0.01, one cold pass then warm passes

End-to-end metrics mean the same on both workloads: an operation is one
micro-batch trigger or one query.
  setup_s       JVM start to the first timed operation (set-up repeated three
                times in the run; the median repetition counts)
  cold_s        the first operations of a fresh process: the first stream's
                first trigger, or the cold query pass
  work_s        warm cost of a unit of work: seconds per million input rows,
                or one warm pass over the queries (per-query medians)
  op_ms_p50     median warm latency of one operation: trigger or query
  peak_rss_mb   the JVM's VmHWM at exit
p90s print on the report line only: a run has about 20 triggers or 13
queries, too few samples beyond a 90th percentile to gate on it.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ["ingest_steady", "queries"]
TOLERANCE = 1e-6
JVM_TIMEOUT_S = 170
# What Spark's launcher adds on JDK 17 (JavaModuleOptions); build.sbt has
# the same list for `sbt run`.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

FAMILIES = ["ext.CorpusPrep", "ext.Dedup", "ext.TextAnalysis",
            "ext.Contamination", "ext.Similarity", "ext.Retrieval",
            "ext.Quantization", "ext.other", "agg", "operators", "sql",
            "warehouse", "etl"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- build ----------------------------------------------------------------

def jar_dir():
    """The Spark jar directory build.sbt compiles against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("build.sbt with an unmanagedBase jar directory is required; "
             "run from the repository root")
    jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Scala compiler jar in {jars}")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile engine and harness once per source tree; returns a classpath."""
    jars = jar_dir()
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    harness = sources(os.path.join(HERE, "src"))
    if not engine:
        fail("no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for p in engine + harness:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    cp = [os.path.join(out, "harness"), os.path.join(out, "engine"),
          os.path.join(jars, "*")]
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    for sub, srcs, extra in (("engine", engine, []),
                             ("harness", harness, [cp[1]])):
        os.makedirs(os.path.join(out, sub))
        compiler_cp = ":".join(extra + [os.path.join(jars, "*")])
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={out}", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", os.path.join(out, sub),
             "-classpath", compiler_cp] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-4000:], file=sys.stderr)
            fail(f"compiling {sub} failed")
    open(os.path.join(out, "ok"), "w").close()
    return cp


# ---- one run --------------------------------------------------------------

def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # No hsperfdata file: the JVM would otherwise write one under /tmp.
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp),
            "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the benchmark JVM did not finish in {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            print(f.read()[-4000:], file=sys.stderr)
        fail(f"the benchmark JVM exited with code {code}")


def fp_match(exp, act):
    if exp["rows"] != act["rows"] or exp["hash"] != act["hash"]:
        return False
    ef, af = exp["floats"], act["floats"]
    if len(ef) != len(af):
        return False
    for i in range(0, len(ef), 3):
        scale = max(abs(ef[i + 1]), abs(af[i + 1])) + 1e-12
        if any(abs(ef[i + k] - af[i + k]) > TOLERANCE * scale for k in range(3)):
            return False
    return True


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- metrics ----------------------------------------------------------------

def ingest_metrics(rec, trace, reference):
    ts = rec["triggers"]
    trig_ms = [t["durations"]["triggerExecution"] for t in ts]
    span_ms = ts[-1]["start_ms"] + trig_ms[-1] - ts[0]["start_ms"]
    rows = sum(t["rows"] for t in ts)
    rows_per_s = rows / (span_ms / 1000.0)
    check = rec["check"]
    correct = (rec["warehouse_rows"] > 0 and fp_match(check["expected"], check["actual"])
               and fp_match(reference, check["reference"]))
    if not correct:
        print("perfbench: output check failed: the warehouse differs from a batch "
              "transform of the same rows, or the transform from its reference", file=sys.stderr)
    attempted, failed = len(ts), 0
    e2e = {
        "setup_s": rec["setup_ms"] / 1000.0,
        "cold_s": rec["cold_ms"] / 1000.0,
        "work_s": 1e6 / rows_per_s,
        "op_ms_p50": median(trig_ms),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    report = {
        "rows_per_s": [rows_per_s, "rows/s"],
        "trigger_ms_p50": [e2e["op_ms_p50"], "ms"],
        "trigger_ms_p90": [pct(trig_ms, 0.9), "ms"],
        "triggers": [len(ts), "count"],
        "warehouse_bytes_per_row": [rec["warehouse_bytes"] / max(rec["warehouse_rows"], 1), "B"],
        "setup_s": [e2e["setup_s"], "s"],
        "fail_frac": [0.0, "ratio"],
        "peak_rss_mb": [e2e["peak_rss_mb"], "MB"],
        "steal_s": [rec["steal_s"], "s"],
    }
    layers = {}
    if trace:
        def med(key):
            return median([t["durations"].get(key, 0.0) for t in ts])
        untraced = [t for t in ts if t["start_ms"] < rec["traced_from_ms"]]
        traced = [t for t in ts if t["start_ms"] >= rec["traced_from_ms"]]
        lay = rec["layer"]
        lad = rec["ladder_ms"]
        n = rec["ladder_rows"]
        steps = ["gen", "serialize", "parse", "enrich", "filter", "write"]
        per_row = {s: (lad[s] - (lad[steps[i - 1]] if i else 0.0)) * 1000.0 / n
                   for i, s in enumerate(steps)}
        xs = [f["rows_per_trigger"] for f in rec["fit"]]
        ys = [f["trigger_ms"] for f in rec["fit"]]
        mx, my = statistics.fmean(xs), statistics.fmean(ys)
        slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / \
            sum((x - mx) ** 2 for x in xs)
        at_50k = [f["rows_per_s"] for f in rec["fit"] if f["rows_per_trigger"] == 50000]
        p50 = lambda sel: median([t["durations"]["triggerExecution"] for t in sel])
        layers = {
            "stream.latest_offset_ms": med("latestOffset"),
            "stream.query_planning_ms": med("queryPlanning"),
            "stream.wal_commit_ms": med("walCommit"),
            "stream.commit_offsets_ms": med("commitOffsets"),
            "stream.overhead_ms": median([t["durations"]["triggerExecution"] -
                                          t["durations"].get("addBatch", 0.0) for t in ts]),
            "scheduler.jobs_per_trigger": lay["jobs_per_trigger"],
            "scheduler.stages_per_trigger": lay["stages_per_trigger"],
            "warehouse.files_per_trigger": rec["warehouse_files"] / rec["committed_batches"],
            "warehouse.add_batch_ms": med("addBatch"),
            "warehouse.bytes_per_row": rec["warehouse_bytes"] / max(rec["warehouse_rows"], 1),
            "sources.gen_us_per_row": per_row["gen"],
            "ingest.serialize_us_per_row": per_row["serialize"],
            "ingest.parse_us_per_row": per_row["parse"],
            "etl.enrich_us_per_row": per_row["enrich"],
            "etl.filter_us_per_row": per_row["filter"],
            "warehouse.write_us_per_row": per_row["write"],
            "executor.cpu_us_per_row": lay["cpu_ms"] * 1000.0 / max(lay["traced_rows"], 1),
            "executor.gc_ms_per_trigger": lay["gc_ms"] / max(lay["traced_triggers"], 1),
            "stream.fixed_ms_per_trigger": my - slope * mx,
            "stream.slope_us_per_row": slope * 1000.0,
            "etl.valid_ratio": rec["warehouse_rows"] / rec["generated_rows"],
            "stream.scaling_x": at_50k[0] / rec["single_thread"]["rows_per_s"],
            "trace.overhead_frac": (p50(traced) - p50(untraced)) / p50(untraced),
        }
        report["trace_untraced_p50_ms"] = [p50(untraced), "ms"]
        report["trace_traced_p50_ms"] = [p50(traced), "ms"]
        report["fit"] = [rec["fit"], "ms"]
        report["ladder"] = [dict(rec["ladder_ms"], rows=n), "ms"]
        report["single_thread_rows_per_s"] = [rec["single_thread"]["rows_per_s"], "rows/s"]
    return correct, attempted, failed, e2e, report, layers


def query_metrics(rec, trace, expected):
    cold = rec["cold"]
    passes = rec["warm"]
    runs = cold + [r for p in passes for r in p] + rec.get("traced", [])
    attempted = len(runs)
    failed = sum(1 for r in runs if not r["ok"])
    wrong = sorted({r["name"] for r in runs
                    if r["ok"] and not fp_match(expected[r["name"]], r["fp"])})
    if wrong:
        print(f"perfbench: output check failed for {', '.join(wrong)}", file=sys.stderr)
    correct = failed == 0 and not wrong
    names = [r["name"] for r in cold]
    warm = {n: median([r["wall_ms"] for p in passes for r in p if r["name"] == n])
            for n in names}
    cold_s = sum(r["wall_ms"] for r in cold) / 1000.0
    warm_s = sum(warm.values()) / 1000.0
    ms = list(warm.values())
    e2e = {
        "setup_s": rec["setup_ms"] / 1000.0,
        "cold_s": cold_s,
        "work_s": warm_s,
        "op_ms_p50": median(ms),
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    report = {
        "cold_s": [cold_s, "s"], "warm_s": [warm_s, "s"],
        "query_ms_p50": [e2e["op_ms_p50"], "ms"],
        "query_ms_p90": [pct(ms, 0.9), "ms"],
        "queries": [len(names), "count"], "warm_passes": [len(passes), "count"],
        "setup_s": [e2e["setup_s"], "s"],
        "fail_frac": [failed / attempted, "ratio"],
        "peak_rss_mb": [e2e["peak_rss_mb"], "MB"],
        "steal_s": [rec["steal_s"], "s"],
    }
    layers = {}
    if trace:
        tr = [r for r in rec["traced"] if r["ok"]]
        total = lambda k: sum(r[k] for r in tr)
        parts = lambda r: (r["build_ms"] + r["analysis_ms"] + r["optimization_ms"] +
                           r["planning_ms"] + r["job_union_ms"] + r["driver_gap_ms"])
        unattributed = [abs(r["wall_ms"] - parts(r)) for r in tr]
        traced_s = sum(r["wall_ms"] for r in tr) / 1000.0
        # The traced pass runs right after the last untraced one; compare
        # with that pass, the nearest in JIT warmth.
        last_s = sum(r["wall_ms"] for r in passes[-1] if r["ok"]) / 1000.0
        layers = {
            "SparkEntry.build_ms": total("build_ms"),
            "SparkEntry.build_jobs": total("build_jobs"),
            "catalyst.analysis_ms": total("analysis_ms"),
            "catalyst.optimization_ms": total("optimization_ms"),
            "catalyst.planning_ms": total("planning_ms"),
            "scheduler.jobs": total("jobs"),
            "scheduler.stages": total("stages"),
            "scheduler.tasks": total("tasks"),
            "scheduler.driver_gap_ms": total("driver_gap_ms"),
            "executor.run_ms": total("run_ms"),
            "executor.cpu_ms": total("cpu_ms"),
            "executor.gc_ms": total("gc_ms"),
            "executor.serial_stage_ms": total("serial_stage_ms"),
            "sources.input_bytes": total("input_bytes"),
            "shuffle.read_bytes": total("shuffle_read_bytes"),
            "shuffle.write_bytes": total("shuffle_write_bytes"),
            "shuffle.spill_bytes": total("spill_bytes"),
            "codegen.cold_minus_warm_s": cold_s - warm_s,
            "recon.unattributed_frac": sum(unattributed) / max(total("wall_ms"), 1e-9),
            "recon.within_5pct_frac": sum(1 for r, u in zip(tr, unattributed)
                                          if u <= 0.05 * r["wall_ms"]) / max(len(tr), 1),
            "trace.overhead_frac": (traced_s - last_s) / last_s,
        }
        for fam in FAMILIES:
            members = [r for r in tr if expected[r["name"]]["family"] == fam]
            layers[f"{fam}.warm_s"] = sum(warm[r["name"]] for r in members) / 1000.0
            layers[f"{fam}.stages"] = sum(r["stages"] for r in members)
        report["trace_untraced_warm_s"] = [last_s, "s"]
        report["trace_traced_warm_s"] = [traced_s, "s"]
        keys = ["wall_ms", "build_ms", "analysis_ms", "optimization_ms", "planning_ms",
                "job_union_ms", "driver_gap_ms"]
        report["reconciliation"] = [
            {r["name"]: dict({k: r[k] for k in keys}, unattributed_ms=r["wall_ms"] - parts(r),
                             jobs=r["jobs"], stages=r["stages"]) for r in tr}, "ms"]
    return correct, attempted, failed, e2e, report, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = benchmark_spec()
    cp = build()
    with open(EXPECTED) as f:
        expected = json.load(f)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", DATA, "--work", work, "--out", out]
    if a.workload == "queries":
        qfile = os.path.join(work, "queries.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(sorted(expected["queries"])))
        args += ["--queries", qfile]
    try:
        run_jvm(cp, args, work)
        with open(out) as f:
            rec = json.load(f)
        results = os.path.join(BUILD, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(out, os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if rec["kind"] == "ingest":
        correct, attempted, failed, e2e, report, layers = ingest_metrics(
            rec, a.trace, expected["ingest_reference"])
    else:
        correct, attempted, failed, e2e, report, layers = query_metrics(
            rec, a.trace, expected["queries"])
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"workload": a.workload, "seed": a.seed, "report": {
        k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))
    print(json.dumps({"correct": bool(correct), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
