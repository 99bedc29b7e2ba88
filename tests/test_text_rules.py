"""The Python text rules every Arrow text kernel calls, on fixed expected
outputs. No Spark session: test_dedup.py::test_python_normalize_matches_jvm
checks the same functions against their JVM twins."""

from __future__ import annotations

import pytest

from sptag_spark.functions.text import (
    py_normalize_text,
    py_word_shingles,
    py_ws_tokens,
)


@pytest.mark.parametrize("text, want", [
    (None, None),
    ("", ""),
    ("   ", ""),
    ("  Hello,   WORLD!! 42 ", "hello world 42"),
    ("A\tB\nC\x0b\x0cD", "a b c d"),
    ("a--b__c", "a b c"),
    ("!@#$%^&*()", ""),
    # non-ASCII letters are outside [a-z0-9], as in the JVM regex
    ("Crème brûlée NIÑO", "cr me br l e ni o"),
    ("x\u00a0y", "x y"),
])
def test_normalize(text, want):
    assert py_normalize_text(text) == want


@pytest.mark.parametrize("norm, n, want", [
    (None, 3, [None]),
    ("", 3, [""]),
    ("a b", 3, ["a b"]),
    ("a b c d", 3, ["a b c", "b c d"]),
    # repeats collapse, first occurrence order kept
    ("x y x y x y x y", 3, ["x y x", "y x y"]),
    ("a b a b", 2, ["a b", "b a"]),
    ("solo", 1, ["solo"]),
])
def test_word_shingles(norm, n, want):
    assert py_word_shingles(norm, n) == want


@pytest.mark.parametrize("text, want", [
    (None, None),
    ("", [""]),
    ("   ", [""]),
    ("the cat  sat", ["the", "cat", "sat"]),
    # Spark's trim strips spaces only: edge tabs/newlines leave empty
    # edge tokens
    ("\tx y\n", ["", "x", "y", ""]),
    (" \t mixed pad\r\n ", ["", "mixed", "pad", ""]),
    ("a\x0b\x0cb", ["a", "b"]),
    # non-ASCII whitespace is not \s for the JVM regex
    ("x\u00a0y z", ["x\u00a0y", "z"]),
])
def test_ws_tokens(text, want):
    assert py_ws_tokens(text) == want
