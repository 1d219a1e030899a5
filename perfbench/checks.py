"""Output checks: every op's result is compared outside the timed region.

Registry queries are compared with their DuckDB oracle on the same tables,
the way ``scripts/verify_driver.py`` compares them: the same column names,
no column whose type class differs (its ``dtype_mismatches``), and equal rows
after its ``norm_rows`` (columns in name order, floats rounded to 6 places,
rows sorted).  The oracle's DuckDB views come from ``tests/oracle.py``.
Word-count ops are compared with the generator's exact counts.
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def repo_module(rel_path: str):
    """Import a module of the repository that is not in a package."""
    name = os.path.splitext(os.path.basename(rel_path))[0]
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, rel_path))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def canonical(rows, cols) -> tuple[tuple[str, ...], list[tuple]]:
    """``(sorted column names, rows as verify_driver normalizes them)``."""
    norm_rows = repo_module("scripts/verify_driver.py").norm_rows
    return tuple(sorted(cols)), norm_rows(rows, cols)


def oracle_expectations(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """For each named query: its canonical DuckDB oracle output, and the
    output as pandas sees it, which carries the column types."""
    con = repo_module("tests/oracle.py").duckdb_conn(sf_dir)
    try:
        out = {}
        for name, sql in oracles.items():
            res = con.execute(sql)
            rows = canonical(res.fetchall(), [d[0] for d in res.description])
            out[name] = (rows, con.execute(sql).df())
        return out
    finally:
        con.close()


def matches(df, cols, rows, expected: tuple) -> bool:
    """Whether a query's collected result equals its oracle's, types too."""
    canon, oracle_pdf = expected
    findings, _ = repo_module("scripts/verify_driver.py").dtype_mismatches(oracle_pdf, df.schema)
    return not findings and canonical(rows, cols) == canon


def read_json_sink(path: str) -> dict[str, int]:
    """Word counts read back from a JSON-lines sink directory."""
    counts: dict[str, int] = {}
    for fn in sorted(os.listdir(path)):
        if fn.startswith("part-") and fn.endswith(".json"):
            with open(os.path.join(path, fn), encoding="utf-8") as fh:
                for line in fh:
                    rec = json.loads(line)
                    counts[rec["word"]] = int(rec["cnt"])
    return counts
