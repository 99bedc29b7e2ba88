"""Reachability guard: every top-level def and class in sptag_spark/ is
reached from engine code, or TEST_ONLY says why it stays.

A name counts as reached when it appears as a NAME token of code outside
its own definition anywhere in the package, the spark-submit jobs, the
tools, the benchmark or the driver contract. A mention in a comment,
docstring or string does not count, and neither do tests. Code that only its
own tests reach fails this test until it is deleted or listed below with
a reason. Every TEST_ONLY name must in turn be used by a test file: a
name that neither engine code nor any test reaches is dead code. No
Spark session is started.
"""

from __future__ import annotations

import ast
import io
import tokenize
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCOPE = ("sptag_spark", "jobs", "tools", "perfbench",
         "bench.py", "bench_extra.py", "__spark_entry__.py")

TEST_ONLY = {
    "sptag_spark.functions.tokens.with_token_features_expr":
        "JVM-expression tier that test_kernel_tiers_agree checks the Arrow "
        "tier against (ROADMAP item 5)",
    "sptag_spark.functions.text.with_text_stats":
        "JVM-expression reference for the with_text_stats_arrow kernel "
        "(test_with_text_stats_arrow_bit_identical)",
    "sptag_spark.functions.text.with_lang_id_expr":
        "JVM-expression reference for the with_lang_id kernel "
        "(test_with_lang_id_arrow_bit_identical)",
    "sptag_spark.functions.text.doc_fingerprint":
        "JVM md5(normalize_text) reference for the doc_fingerprint_arrow "
        "and fingerprints_arrow kernels and for exact_dedup",
    "sptag_spark.operators.dedup.minhash_signature":
        "JVM-expression reference for the minhash_signature_arrow kernel "
        "(test_minhash_signature_arrow_bit_identical)",
    "sptag_spark.operators.dedup.simhash_sketch":
        "JVM-expression reference for the simhash_sketch_arrow kernel; "
        "the simhash_pairs losslessness test brute-forces over it",
    "sptag_spark.operators.corpus._repetition_stats_relational":
        "relational reference for the repetition_stats kernel "
        "(test_repetition_arrow_matches_relational)",
    "sptag_spark.operators.knn.cosine_near_dup_pairs":
        "exact quadratic all-pairs cosine, the baseline the LSH near-dup "
        "modes are tested against",
    "sptag_spark.functions.text.near_dup_key":
        "1-perm MinHash dedup key with per-doc sentinels for contentless "
        "text; test_streaming checks the sentinels",
    "sptag_spark.operators.audit.assert_no_leakage":
        "raising form of leakage_report, the as-of leakage proof used in "
        "tests",
    "sptag_spark.operators.graph.tpt_leaf_assign":
        "TPT partition step exposed alone so tests can check leaf balance "
        "and replay",
    "sptag_spark.operators.kmeans.partition_sizes":
        "cluster-size readout tests use to check balanced k-means",
    "sptag_spark.operators.knn.replica_histogram":
        "replica-count stat (reference A6) for split and replica tests",
    "sptag_spark.operators.knn.mrr_at_k":
        "ANN quality metric (reference TruthSet MRR)",
    "sptag_spark.operators.knn.recall_at_k":
        "ANN quality metric (reference CalculateRecall) that index tests "
        "gate on",
}


def _scope_files() -> list[Path]:
    out = []
    for entry in SCOPE:
        p = ROOT / entry
        out += sorted(p.rglob("*.py")) if p.is_dir() else [p]
    return out


def _names(text: str) -> list[tuple[str, int]]:
    """(name, line) of every NAME token: code, not comments or strings."""
    return [(t.string, t.start[0]) for t in
            tokenize.generate_tokens(io.StringIO(text).readline)
            if t.type == tokenize.NAME]


def unreached() -> set[str]:
    texts = {p: p.read_text() for p in _scope_files()}
    names = {p: _names(text) for p, text in texts.items()}
    total = Counter(name for toks in names.values() for name, _ in toks)
    out = set()
    for path in sorted((ROOT / "sptag_spark").rglob("*.py")):
        module = ".".join(path.relative_to(ROOT).with_suffix("").parts)
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef)):
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = sum(1 for name, line in names[path] if name == node.name
                      and start <= line <= node.end_lineno)
            if total[node.name] - own == 0:
                out.add(f"{module}.{node.name}")
    return out


def test_unreached_code_is_listed():
    found = unreached()
    assert found == set(TEST_ONLY), (
        f"unreached but not in TEST_ONLY: {sorted(found - set(TEST_ONLY))}; "
        f"in TEST_ONLY but reached or gone: {sorted(set(TEST_ONLY) - found)}")


def test_test_only_names_are_used_by_tests():
    used = set()
    for path in sorted((ROOT / "tests").glob("*.py")):
        if path.name != Path(__file__).name:
            used.update(name for name, _ in _names(path.read_text()))
    unused = sorted(q for q in TEST_ONLY if q.rsplit(".", 1)[1] not in used)
    assert not unused, f"in TEST_ONLY but used by no test: {unused}"
