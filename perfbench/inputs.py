"""Seeded benchmark input: a Zipf text corpus with its exact word counts.

The corpus is a pure function of ``(seed, size)``: the same seed gives
byte-identical files and identical expected counts.  The program under test
only ever sees the generated files.

The corpus is UTF-8 text whose words are drawn from a Zipf law over a seeded
vocabulary of lowercase ``[a-z']`` words.  Separators include multi-byte
punctuation, which the engine's ``[A-Za-z']+`` tokenizer drops, so the exact
per-word counts are known from the draw itself.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

SYLLABLES = (
    "ba be bi bo bu da de di do du ka ke ki ko ku la le li lo lu ma me mi mo mu "
    "na ne ni no nu ra re ri ro ru sa se si so su ta te ti to tu va ve vi vo vu "
    "an en in on un ar er ir or ur ch sh th st"
).split()
SEPARATORS = [" ", " ", " ", " ", ", ", "; ", " — ", " « ", " » ", " … ", ": "]


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words; a few carry an inner apostrophe."""
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(1, 5))
        w = "".join(SYLLABLES[i] for i in rng.integers(0, len(SYLLABLES), n))
        if len(w) > 3 and rng.random() < 0.03:
            cut = int(rng.integers(1, len(w) - 1))
            w = w[:cut] + "'" + w[cut:]
        words.setdefault(w, None)
    return list(words)


def make_corpus(seed: int, target_bytes: int, vocab: int = 50_000, zipf_s: float = 1.1):
    """Return ``(text, counts)``: UTF-8 text of about ``target_bytes`` and the
    exact per-word counts the ``[A-Za-z']+`` lowercase tokenizer sees in it."""
    rng = np.random.default_rng([seed, target_bytes])
    words = _vocabulary(rng, vocab)
    weights = 1.0 / np.arange(1, vocab + 1) ** zipf_s
    weights /= weights.sum()
    avg_word = sum(len(words[i]) * weights[i] for i in range(vocab)) + 1.6
    n_words = int(target_bytes / avg_word)
    draw = rng.choice(vocab, n_words, p=weights)
    seps = rng.integers(0, len(SEPARATORS), n_words)
    line_len = rng.integers(4, 25, n_words // 4 + 1)
    lines, pos = [], 0
    for k in line_len:
        idx = draw[pos:pos + k]
        if len(idx) == 0:
            break
        toks = [words[i] for i in idx]
        toks[0] = toks[0].capitalize()
        parts = []
        for tok, s in zip(toks, seps[pos:pos + k]):
            parts.append(tok)
            parts.append(SEPARATORS[s])
        lines.append("".join(parts[:-1]) + ".")
        pos += k
    counts = np.bincount(draw[:pos], minlength=vocab)
    exact = {words[i]: int(c) for i, c in enumerate(counts) if c}
    return "\n".join(lines) + "\n", exact


def top_k(counts: dict[str, int], k: int = 20) -> list[tuple[str, int]]:
    """The engine's Top-K contract: count desc, word length desc, word asc."""
    return sorted(counts.items(), key=lambda kv: (-kv[1], -len(kv[0]), kv[0]))[:k]


def write_corpus(out_dir: str, seed: int, target_bytes: int) -> None:
    """``corpus.txt`` plus ``expected.json`` holding the full counts and the
    expected Top-20."""
    os.makedirs(out_dir, exist_ok=True)
    text, counts = make_corpus(seed, target_bytes)
    with open(os.path.join(out_dir, "corpus.txt"), "w", encoding="utf-8") as fh:
        fh.write(text)
    with open(os.path.join(out_dir, "expected.json"), "w", encoding="utf-8") as fh:
        json.dump({"top20": top_k(counts), "counts": counts}, fh)


def cached(cache_root: str, key: str, build) -> str:
    """Build ``cache_root/key`` once with ``build(tmp_dir)``; reuse it after.

    The directory is built under a temporary name and renamed into place, so
    an interrupted build never leaves a half-written entry behind."""
    final = os.path.join(cache_root, key)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.replace(tmp, final)
    return final
