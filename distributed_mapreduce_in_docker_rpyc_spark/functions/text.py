"""Tokenizer expressions — the engine's contract for "a word".

The reference tokenizes with ``re.compile(r"[A-Za-z']+")`` then lowercases
(reference worker/worker.py:7,18): ASCII letters + apostrophe; digits,
underscores and accented letters are separators; the pattern cannot span a
newline, so line-at-a-time (reference) and whole-text (here) tokenization are
equivalent.

Both engine paths lowercase the whole text FIRST and then match.  The order
matters for the few non-ASCII letters whose lowercase contains an ASCII
letter: the Kelvin sign U+212A lowercases to ``k`` and ``İ`` (U+0130) to
``i`` + U+0307, so ``"\N{KELVIN SIGN}elvin İstanbul"`` gives
``kelvin, i, stanbul`` lowered first but ``elvin, stanbul`` matched first
(the reference's order).  Python ``str.lower`` and Spark ``lower`` agree on
both; DuckDB ``lower`` maps ``İ`` to a plain ``i`` (``istanbul``), so the
oracle agrees only on text without ``İ`` (SURVEY.md OP-6).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exactly the reference's pattern (worker/worker.py:7).
WORD_REGEX = r"[A-Za-z']+"
WORD_PATTERN = re.compile(WORD_REGEX)


def tokenize_column(text: Column | str) -> Column:
    """Array-of-lowercase-words column (JVM-side, codegen'd — no Python UDF).

    ``regexp_extract_all`` runs inside whole-stage codegen; ``lower`` runs
    on the whole string before extraction (module docstring).
    """
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(col), F.lit(WORD_REGEX), 0)


def tokenize_line(line: str) -> list[str]:
    """Driver/RDD-side tokenizer — lowercase, then match, exactly like
    ``tokenize_column`` (module docstring)."""
    return WORD_PATTERN.findall(line.lower())
