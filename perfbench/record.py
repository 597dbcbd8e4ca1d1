#!/usr/bin/env python3
"""Record the expected output fingerprint of every timed query, and
validate it against the DuckDB oracle.

    python3 perfbench/record.py

Run from the repository root after the timed set (TIMED) or one of its
queries changes. Steps:
  1. graft.Verify dumps each timed query's output over perfbench/data/sf0.01,
     and tools/selfcheck.py compares each dump with its DuckDB oracle;
     any mismatch aborts.
  2. The harness fingerprints those dumps, and separately runs every
     query the way the benchmark does (graft.verify.exact=false: the
     production plans Bench measures) in two passes.
  3. Each query's two benchmark passes must agree, and must equal its
     oracle-checked dump, except the sketch queries whose production plan
     differs from the verified one (EXACT_TWIN below).
  4. perfbench/expected.json gets the fingerprints with each query's group
     and family (perfbench/classify.py), and the fingerprint of the ingest
     workload's fixed reference transform (seed 0, Ingest.ReferenceRows),
     from this tree.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import classify  # noqa: E402
import run  # noqa: E402

# SparkEntry.verifyExact: with graft.verify.exact=false these two run the
# production sketch plan instead of the oracle-checked exact twin.
EXACT_TWIN = {"minhash_pairs", "rolling_distinct_hll"}

# The `queries` workload's timed set: per family (classify.py), among the
# queries that read no persisted index, the member at the family's lower
# quartile of warm time, from one all-query pass at sf0.01 on 4 cores. The
# lower quartile, not the median, keeps a run inside the benchmark's time
# budget (~15 s cold, ~8 s warm for the 13 queries).
TIMED = [
    "event_runs",              # agg
    "distinct_counts",         # etl
    "contamination",           # ext.Contamination
    "train_prep",              # ext.CorpusPrep
    "incremental_dedup",       # ext.Dedup
    "pq_topk_ivf",             # ext.Quantization
    "quality_classifier",      # ext.Retrieval
    "embed_stats",             # ext.Similarity
    "clean_lines",             # ext.TextAnalysis
    "kfold_split",             # ext.other
    "tolerance_pairs",         # operators
    "clicks_before_purchase",  # sql
    "latest_state",            # warehouse
]


def java(cp, main, args, log):
    cmd = ["java"] + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(os.path.dirname(log), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", ":".join(cp), main] + args
    with open(log, "w") as f:
        subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, check=True,
                       cwd=os.path.dirname(log))


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "record")
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(run.ROOT, "src/main/scala/graft/SparkEntry.scala")) as f:
        classes = classify.classify(f.read())

    dumps = os.path.join(work, "verify")
    java(cp, "graft.Verify", [run.DATA, dumps, ",".join(TIMED)],
         os.path.join(work, "verify.log"))
    check = subprocess.run([sys.executable, "tools/selfcheck.py", run.DATA, dumps,
                            os.path.join(work, "selfcheck.json")],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout[-2000:])
    if check.returncode != 0 or "ALL MATCH" not in check.stdout:
        sys.exit("oracle check failed; expected values not recorded")

    names = sorted(TIMED)
    qfile = os.path.join(work, "queries.txt")
    with open(qfile, "w") as f:
        f.write("\n".join(names))
    common = ["--seed", "0", "--seconds", "0", "--trace", "0", "--work", work,
              "--queries", qfile]
    java(cp, "perfbench.Main", ["--workload", "dumps", "--data", dumps,
                                "--out", os.path.join(work, "dumps.json")] + common,
         os.path.join(work, "dumps.log"))
    java(cp, "perfbench.Main", ["--workload", "queries", "--data", run.DATA,
                                "--out", os.path.join(work, "bench.json")] + common,
         os.path.join(work, "bench.log"))
    java(cp, "perfbench.Main", ["--workload", "ingest_steady", "--data", run.DATA,
                                "--out", os.path.join(work, "ingest.json")] + common,
         os.path.join(work, "ingest.log"))
    with open(os.path.join(work, "ingest.json")) as f:
        reference = json.load(f)["check"]["reference"]
    with open(os.path.join(work, "dumps.json")) as f:
        from_dumps = json.load(f)["dumps"]
    with open(os.path.join(work, "bench.json")) as f:
        rec = json.load(f)
    first = {r["name"]: r for r in rec["cold"]}
    second = {r["name"]: r for r in rec["warm"][0]}
    bad = [n for n in names if not first[n]["ok"] or not second[n]["ok"]]
    unstable = [n for n in names if n not in bad
                and not run.fp_match(first[n]["fp"], second[n]["fp"])]
    differs = sorted(n for n in names if n not in bad
                     and not run.fp_match(from_dumps[n], first[n]["fp"]))
    if bad or unstable or set(differs) - EXACT_TWIN:
        sys.exit(f"failed: {bad}; unstable: {unstable}; "
                 f"differs from the oracle-checked dump: {differs}")
    out = {
        "validated": "tools/selfcheck.py: ALL MATCH over perfbench/data/sf0.01; "
                     "every fingerprint equals its oracle-checked Verify dump's" +
                     "".join(f" except {n}'s, whose production sketch plan "
                             "graft.verify.exact=false selects" for n in differs),
        "queries": {n: dict(classes[n], **first[n]["fp"]) for n in names},
        "ingest_reference": reference,
    }
    with open(run.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(names)} queries")


if __name__ == "__main__":
    main()
