"""Seeded cookbook-like text corpus for the ``bigram_corpus`` workload.

The generator writes plain text files and, from the same lines, counts
bigrams in pure Python with the reference job's semantics: every run of ``[^\\s\\w]`` or
``_`` becomes one space (ASCII classes, as in Java's regex), the line is
lowercased, split on whitespace, and adjacent tokens are joined with ``+``.
The program under test only ever sees the files; the expected answer stays
on this side as a digest.

Inputs are cached under ``<cache>/text-<bytes>-s<seed>/`` so a repeated
seed costs nothing, and at most ``KEEP`` entries are kept.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
from collections import Counter
from pathlib import Path

import numpy as np

VOCAB = 50_000
ZIPF_EXPONENT = 1.1
WORDS_PER_LINE = (3, 13)
KEEP = 4
# Seed of the one vocabulary every corpus renames (see generate_lines).
VOCAB_SEED = 0

_SANITIZE = re.compile(r"([^\s\w]|_)+", re.ASCII)
_LETTERS = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
# Token decorations the sanitizer has to undo: (prefix, suffix, weight).
_DECOR = (
    ("", "", 0.80),
    ("", ",", 0.06),
    ("", ".", 0.04),
    ("(", ")", 0.02),
    ("", "_", 0.02),
    ("\"", "\"", 0.02),
    ("", "'s", 0.02),
    ("", ";--", 0.01),
    ("", ":", 0.01),
)


def _vocabulary(rng: np.random.Generator) -> list[str]:
    """VOCAB distinct lowercase words of 2-10 letters (ranked by frequency)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        lengths = rng.integers(2, 11, size=VOCAB)
        letters = _LETTERS[rng.integers(0, 26, size=int(lengths.sum()))]
        flat = letters.tobytes().decode("ascii")
        pos = 0
        for n in lengths.tolist():
            w = flat[pos : pos + n]
            pos += n
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == VOCAB:
                    break
    return words


def generate_lines(seed: int, target_bytes: int) -> list[str]:
    """Lines of Zipf-distributed words, about ``target_bytes`` in total.

    The seed picks the letters of the words, but not their lengths: every
    seed renames one fixed vocabulary through its own permutation of the
    alphabet. The lengths of the few most frequent words set how many
    lines and bigrams a corpus of fixed size holds, so they must not
    change with the seed.
    """
    rng = np.random.default_rng(seed)
    cipher = str.maketrans(
        _LETTERS.tobytes().decode("ascii"), rng.permutation(_LETTERS).tobytes().decode("ascii")
    )
    vocab = [w.translate(cipher) for w in _vocabulary(np.random.default_rng(VOCAB_SEED))]
    weights = np.arange(1, VOCAB + 1, dtype=np.float64) ** -ZIPF_EXPONENT
    cdf = np.cumsum(weights / weights.sum())
    decor_cdf = np.cumsum([w for _, _, w in _DECOR])
    lines: list[str] = []
    size = 0
    while size < target_bytes:
        n_lines = 4096
        per_line = rng.integers(WORDS_PER_LINE[0], WORDS_PER_LINE[1] + 1, n_lines)
        total = int(per_line.sum())
        ranks = np.minimum(np.searchsorted(cdf, rng.random(total)), VOCAB - 1)
        decor = np.minimum(
            np.searchsorted(decor_cdf, rng.random(total) * decor_cdf[-1]),
            len(_DECOR) - 1,
        )
        capital = rng.random(n_lines) < 0.3
        pos = 0
        for i, n in enumerate(per_line.tolist()):
            toks = []
            for r, d in zip(ranks[pos : pos + n].tolist(), decor[pos : pos + n].tolist()):
                pre, suf, _ = _DECOR[d]
                toks.append(pre + vocab[r] + suf)
            pos += n
            if capital[i]:
                toks[0] = toks[0].capitalize()
            line = " ".join(toks)
            lines.append(line)
            size += len(line) + 1
            if size >= target_bytes:
                break
    return lines


def reference_counts(lines: list[str]) -> Counter:
    """Bigram counts with the reference job's sanitize/tokenize semantics."""
    counts: Counter = Counter()
    for line in lines:
        toks = _SANITIZE.sub(" ", line).lower().split()
        counts.update(a + "+" + b for a, b in zip(toks, toks[1:]))
    return counts


def kv_digest(lines: list[bytes]) -> str:
    """Order-insensitive digest of ``key<TAB>count`` output lines."""
    h = hashlib.sha256()
    for line in sorted(lines):
        h.update(line)
        h.update(b"\n")
    return h.hexdigest()


def _write_text(dest: Path, lines: list[str], files: int) -> list[str]:
    names = []
    per = -(-len(lines) // files)
    for i in range(files):
        name = f"corpus-{i:02d}.txt"
        (dest / name).write_text("".join(f"{x}\n" for x in lines[i * per : (i + 1) * per]))
        names.append(name)
    return names


def prepare(
    cache: Path,
    seed: int,
    target_bytes: int,
    files: int = 16,
) -> dict:
    """Generate (or reuse) one corpus of ``files`` text files; returns its manifest.

    The manifest carries the file paths, the input size in bytes and the
    reference answer: digest, distinct keys and bigrams emitted.
    """
    entry = cache / f"text-{target_bytes}-s{seed}"
    manifest_path = entry / "manifest.json"
    if manifest_path.exists():
        os.utime(entry)
        manifest = json.loads(manifest_path.read_text())
        return manifest | {"paths": [str(entry / n) for n in manifest["files"]]}
    tmp = cache / f".tmp-{entry.name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    lines = generate_lines(seed, target_bytes)
    names = _write_text(tmp, lines, files)
    counts = reference_counts(lines)
    manifest = {
        "seed": seed,
        "files": names,
        "input_bytes": sum(len(x) + 1 for x in lines),
        "lines": len(lines),
        "distinct_bigrams": len(counts),
        "bigrams_emitted": sum(counts.values()),
        "digest": kv_digest([f"{k}\t{v}".encode() for k, v in counts.items()]),
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest))
    shutil.rmtree(entry, ignore_errors=True)
    tmp.rename(entry)
    _evict(cache)
    return manifest | {"paths": [str(entry / n) for n in names]}


def _evict(cache: Path) -> None:
    entries = sorted(
        (p for p in cache.glob("text-*") if p.is_dir()),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for stale in entries[KEEP:]:
        shutil.rmtree(stale, ignore_errors=True)

