"""Reachability guard: every top-level def and class in sptag_spark/ is
reached from engine code, or TEST_ONLY says why it stays.

A name counts as reached when it appears as a word outside its own
definition anywhere in the package, the spark-submit jobs, the tools, the
benchmark or the driver contract. Tests do not count. Code that only its
own tests reach fails this test until it is deleted or listed below with
a reason. No Spark session is started.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCOPE = ("sptag_spark", "jobs", "tools", "perfbench",
         "bench.py", "bench_extra.py", "__spark_entry__.py")

TEST_ONLY = {
    "sptag_spark.functions.tokens.with_token_features_expr":
        "JVM-expression tier that test_kernel_tiers_agree checks the Arrow "
        "tier against (ROADMAP item 5)",
    "sptag_spark.functions.text.near_dup_key":
        "1-perm MinHash dedup key with per-doc sentinels for contentless "
        "text; test_streaming checks the sentinels",
    "sptag_spark.operators.audit.assert_no_leakage":
        "raising form of leakage_report, the as-of leakage proof used in "
        "tests",
    "sptag_spark.operators.bkt.ivf_build_hierarchical":
        "two-level IVF head build; probe-pipeline family covered by "
        "test_bkt and test_probe",
    "sptag_spark.operators.bkt.ivf_probe_hierarchical":
        "probe for the two-level IVF index; shares the probe.py scoring "
        "tail",
    "sptag_spark.operators.graph.tpt_leaf_assign":
        "TPT partition step exposed alone so tests can check leaf balance "
        "and replay",
    "sptag_spark.operators.graph.graph_append":
        "graph-index insert (reference AddIndex), part of the index "
        "lifecycle",
    "sptag_spark.operators.graph.graph_delete":
        "graph-index delete with localized repair (reference DeleteIndex)",
    "sptag_spark.operators.kmeans.partition_sizes":
        "cluster-size readout tests use to check balanced k-means",
    "sptag_spark.operators.knn.replica_histogram":
        "replica-count stat (reference A6) for split and replica tests",
    "sptag_spark.operators.knn.mrr_at_k":
        "ANN quality metric (reference TruthSet MRR)",
    "sptag_spark.operators.knn.recall_at_k":
        "ANN quality metric (reference CalculateRecall) that index tests "
        "gate on",
    "sptag_spark.operators.pq.pq_reconstruct":
        "driver-side PQ decode that tests bound the quantization error with",
    "sptag_spark.sources.readers.read_default_binary":
        "reader for the reference's DEFAULT vector format",
    "sptag_spark.sources.readers.read_xvec":
        "reader for the reference's XVEC (fvecs/ivecs) format",
    "sptag_spark.sources.readers.read_txt_vectors":
        "reader for the reference's TXT vector format",
    "sptag_spark.sources.readers.write_default_binary":
        "writer for DEFAULT files, the round-trip partner of its reader",
    "sptag_spark.sources.readers.write_xvec":
        "writer for XVEC files, the round-trip partner of its reader",
    "sptag_spark.sources.readers.read_b64_vectors":
        "reader for the reference's base64-payload TXT format",
    "sptag_spark.sources.readers.write_b64_vectors":
        "writer for base64-payload TXT, the round-trip partner of its "
        "reader",
}


def _scope_files() -> list[Path]:
    out = []
    for entry in SCOPE:
        p = ROOT / entry
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _words(text: str) -> Counter:
    return Counter(re.findall(r"\w+", text))


def unreached() -> set[str]:
    texts = {p: p.read_text() for p in _scope_files()}
    total = Counter()
    for text in texts.values():
        total += _words(text)
    out = set()
    for path in sorted((ROOT / "sptag_spark").rglob("*.py")):
        lines = texts[path].splitlines()
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = _words("\n".join(lines[start - 1:node.end_lineno]))
            if total[node.name] - own[node.name] == 0:
                out.add(f"{module}.{node.name}")
    return out


def test_unreached_code_is_listed():
    found = unreached()
    assert found == set(TEST_ONLY), (
        f"unreached but not in TEST_ONLY: {sorted(found - set(TEST_ONLY))}; "
        f"in TEST_ONLY but reached or gone: {sorted(set(TEST_ONLY) - found)}")
