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

# runs of word characters that are neither digits nor "_": a superset of
# the letters (every str.isalpha character is one), so each maximal
# letter run lies inside one candidate run
_CANDIDATE_RUNS = re.compile(r"[^\W\d_]+")


def _words(text: str) -> list[str]:
    """Maximal runs of Unicode letters — strings.FieldsFunc(contents,
    not unicode.IsLetter) (/root/reference/src/mrapps/wc.go:24-31).
    Python str.isalpha matches Go unicode.IsLetter on the L* categories.
    A candidate run that is all letters is one token; the rare one that
    is not (e.g. "½", "Ⅻ", "²") is split character by character.
    """
    words = []
    for run in _CANDIDATE_RUNS.findall(text):
        if run.isalpha():
            words.append(run)
        else:
            words.extend(
                "".join(group)
                for is_alpha, group in itertools.groupby(run, key=str.isalpha)
                if is_alpha
            )
    return words


# --- wc (A1, /root/reference/src/mrapps/wc.go:22-43) ----------------------

def wc_map(filename: str, contents: str) -> list[tuple[str, str]]:
    return [(w, "1") for w in _words(contents)]


def wc_reduce(key: str, values: list[str]) -> str:
    return str(len(values))


# --- indexer (A2, /root/reference/src/mrapps/indexer.go:20-38) ------------

def indexer_map(filename: str, contents: str) -> list[tuple[str, str]]:
    # per-document distinct words (the map[string]bool dedup, :21-25)
    return [(w, filename) for w in sorted(set(_words(contents)))]


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
