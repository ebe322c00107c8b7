"""The reference's pluggable MapReduce applications, re-implemented
as Python ``(map_fn, reduce_fn)`` pairs for the compat job API.

Each pair reproduces the corresponding Go plugin's semantics exactly
(SURVEY.md §2.2); the Go fault-injection / timing-probe apps
(crash.go's os.Exit, jobcount/mtiming/rtiming marker files) are test
*harness* behaviors, reproduced in tests/ via Spark task-retry and
listener assertions instead of data-plane code.
"""

from __future__ import annotations

import itertools
import re


def _letter_class() -> str:
    """Regex class body of every ``str.isalpha`` character of the BMP,
    as ranges, plus the whole astral range U+10000-U+10FFFF (its
    letters and its non-letters alike)."""
    flags = bytes(chr(c).isalpha() for c in range(0x10000))
    spans = (m.span() for m in re.finditer(b"\x01+", flags))
    bmp = "".join(f"{re.escape(chr(a))}-{re.escape(chr(b - 1))}" for a, b in spans)
    return bmp + "\U00010000-\U0010ffff"


# maximal runs of candidate characters, one bitmap lookup per BMP
# character: a run holds only letters unless it holds an astral
# non-letter, and each maximal letter run lies inside one run
_CANDIDATE_RUNS = re.compile(f"[{_letter_class()}]+")


def _words(text: str) -> list[str]:
    """Maximal runs of Unicode letters — strings.FieldsFunc(contents,
    not unicode.IsLetter) (reference src/mrapps/wc.go:24-31).
    Python str.isalpha matches Go unicode.IsLetter on the L* categories.
    The candidate class is derived from ``str.isalpha`` at import, so it
    tracks the same Unicode tables as ``run_sequential()``. When every
    run is all letters the ``findall`` list is the answer; otherwise
    each run is split character by character, dropping its astral
    non-letters (e.g. "𝟏" in "𝐀𝐁c𝟏d").
    """
    runs = _CANDIDATE_RUNS.findall(text)
    if "".join(runs).isalpha():
        return runs
    return [
        "".join(group)
        for run in runs
        for is_alpha, group in itertools.groupby(run, key=str.isalpha)
        if is_alpha
    ]


# --- wc (A1, /root/reference/src/mrapps/wc.go:22-43) ----------------------

def wc_map(filename: str, contents: str) -> list[tuple[str, str]]:
    words = _words(contents)
    return list(zip(words, itertools.repeat("1", len(words))))


def wc_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


# --- indexer (A2, /root/reference/src/mrapps/indexer.go:20-38) ------------

def indexer_map(filename: str, contents: str) -> list[tuple[str, str]]:
    # per-document distinct words (the map[string]bool dedup, :21-25)
    words = sorted(set(_words(contents)))
    return list(zip(words, itertools.repeat(filename, len(words))))


def indexer_reduce(key: str, values: list[str]) -> str:
    docs = sorted(values)
    return f"{len(docs)} {','.join(docs)}"


# --- nocrash / crash value-concat (A3, src/mrapps/nocrash.go:17-47) -------

def concat_map(filename: str, contents: str) -> list[tuple[str, str]]:
    # four fixed keys with filename / len(filename) / len(contents) / xyzzy
    return [
        ("a", filename),
        ("b", str(len(filename))),
        ("c", str(len(contents))),
        ("d", "xyzzy"),
    ]


def concat_reduce(key: str, values: list[str]) -> str:
    return " ".join(sorted(values))


# --- early_exit per-file count (A4, src/mrapps/early_exit.go:19-36) -------

def filecount_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [(filename, "1")]


def filecount_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


APPS = {
    "wc": (wc_map, wc_reduce),
    "indexer": (indexer_map, indexer_reduce),
    "concat": (concat_map, concat_reduce),
    "filecount": (filecount_map, filecount_reduce),
}
