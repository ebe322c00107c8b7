"""Seeded text corpus for the ``mr_compat`` workload.

Words are drawn from a Zipf law over a fixed-size vocabulary, so a few
keys are very hot (large reduce groups, skewed FNV partitions) and most
are rare, as in the reference's Gutenberg inputs. The vocabulary mixes
ASCII and accented letters so the apps' Unicode-letter tokenizer is
exercised; separators are spaces, punctuation and newlines.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

VOCAB = 20_000
ZIPF_S = 1.1
_LETTERS = list("abcdefghijklmnopqrstuvwxyzéüñçø")
_SEPS = np.array([" ", " ", " ", " ", ", ", ". ", "\n", "; "])


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    words: set[str] = set()
    while len(words) < VOCAB:
        n = int(rng.integers(2, 11))
        w = "".join(rng.choice(_LETTERS, size=n))
        words.add(w.capitalize() if rng.random() < 0.1 else w)
    return np.array(sorted(words))


def write_corpus(out_dir: str, seed: int, n_files: int, total_bytes: int) -> dict:
    """Write ``n_files`` text files of about ``total_bytes`` in all to
    ``out_dir``; return their paths, byte count and SHA-256 digest."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    ranks = np.arange(1, VOCAB + 1, dtype=np.float64)
    p = ranks**-ZIPF_S
    p /= p.sum()
    # a shuffled rank -> word map, so the hottest words differ by seed
    order = rng.permutation(VOCAB)
    utf8_len = np.array([len(w.encode("utf-8")) for w in vocab])
    mean_word = float((utf8_len[order] * p).sum()) + 1.5  # + mean separator
    os.makedirs(out_dir, exist_ok=True)
    digest = hashlib.sha256()
    paths, n_bytes = [], 0
    for i in range(n_files):
        n_words = int(total_bytes / n_files / mean_word)
        words = vocab[order[rng.choice(VOCAB, size=n_words, p=p)]]
        seps = _SEPS[rng.integers(0, len(_SEPS), size=n_words)]
        data = "".join(np.char.add(words, seps).tolist()).encode("utf-8")
        path = os.path.join(out_dir, f"doc-{i:03d}.txt")
        with open(path, "wb") as f:
            f.write(data)
        digest.update(data)
        paths.append(path)
        n_bytes += len(data)
    return {"paths": paths, "bytes": n_bytes, "sha256": digest.hexdigest()}
