"""Split the registered queries of SparkEntry.queries into two groups and
name each query's family.

A query is in group `curation` when its registry entry references any
graft.ext module, otherwise in group `analytics`. Its family is the first
module its entry references (ext modules first). The output is the `group`
and `family` fields of perfbench/expected.json; perfbench/record.py calls
this when it re-records the expected fingerprints.

    python3 perfbench/classify.py src/main/scala/graft/SparkEntry.scala
"""
import json
import re
import sys

EXT = ["CorpusPrep", "Dedup", "TextAnalysis", "Contamination", "Similarity",
       "Retrieval", "Quantization", "Classifier", "Multimodal", "Relations",
       "Sampling", "Vocab", "Graph", "IndexStamp", "Checkpoints", "IndexCache",
       "Parallelism"]
# Families the per-layer rollups name; other ext modules roll up as ext.other.
CURATION_FAMILIES = {"CorpusPrep", "Dedup", "TextAnalysis", "Contamination",
                     "Similarity", "Retrieval", "Quantization"}
ANALYTICS = [("warehouse", ["Warehouse", "DataQuality", "Layout"]),
             ("agg", ["Analytics", "Behavior", "Profile", "Stats", "dsum", "davg"]),
             ("operators", ["Temporal", "graft.functions", "SketchAgg", "TopKAgg",
                            "MinHashAgg", "VecSumAgg", "SetOps", "VectorExpressions"]),
             ("etl", ["Enrich", "Quality", "Skew", "Keys", "Json"])]


def entries(src):
    body = src[src.index("def queries:"):src.index("def oracleSql")]
    marks = list(re.finditer(r'^    "([a-z0-9_]+)" -> ', body, re.M))
    for m, nxt in zip(marks, marks[1:] + [None]):
        yield m.group(1), body[m.end():nxt.start() if nxt else len(body)]


def first_ref(text, names):
    hits = [(m.start(), n) for n in names
            for m in [re.search(r"\b" + re.escape(n) + r"\b", text)] if m]
    return min(hits)[1] if hits else None


def classify(src):
    out = {}
    for name, text in entries(src):
        ext = first_ref(text, EXT)
        if ext:
            fam = "ext." + (ext if ext in CURATION_FAMILIES else "other")
            out[name] = {"group": "curation", "family": fam}
            continue
        fam = "sql"
        pos = None
        for family, names in ANALYTICS:
            hit = first_ref(text, names)
            if hit:
                p = re.search(r"\b" + re.escape(hit) + r"\b", text).start()
                if pos is None or p < pos:
                    pos, fam = p, family
        out[name] = {"group": "analytics", "family": fam}
    return out


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        print(json.dumps(classify(f.read()), indent=1, sort_keys=True))
