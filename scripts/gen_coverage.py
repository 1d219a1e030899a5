"""Regenerate COVERAGE.md from the query registry."""

from __future__ import annotations

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mapreduce_in_docker_rpyc_spark import registry  # noqa: E402

FAMILY = {
    "queries_wordcount": "Flagship word count (reference parity)",
    "queries_relational": "Relational / TPC-H shapes",
    "queries_dedup": "Deduplication",
    "queries_similarity": "Similarity search / ANN",
    "queries_text": "Text analysis",
    "queries_events": "Event analytics (batch)",
    "queries_temporal": "Temporal joins",
    "queries_streaming": "Structured Streaming (incremental execution)",
    "queries_multimodal": "Multimodal columns",
    "queries_quality": "Data quality / privacy audits",
    "queries_sketches": "Sketch aggregates",
    "queries_features": "Feature engineering / statistics / ML",
    "queries_probes": "Driver hash-typing canaries",
}


def main() -> None:
    registry.load_all()
    rows = []
    for name, fn in sorted(registry.QUERIES.items()):
        mod = fn.__module__.rsplit(".", 1)[-1]
        fam = FAMILY.get(mod, mod)
        check = "DuckDB oracle (hash)" if name in registry.ORACLES else "rows-only + tests"
        doc = (inspect.getdoc(fn) or "").split("\n")[0].rstrip()
        rows.append((fam, name, check, doc))

    out = [
        "# COVERAGE — registered queries (auto-generated from the registry)",
        "",
        f"{len(registry.QUERIES)} queries, {len(registry.ORACLES)} oracle-checked.",
        "Regenerate: `python scripts/gen_coverage.py`.",
        "",
    ]
    cur = None
    for fam, name, check, doc in sorted(rows):
        if fam != cur:
            if out[-1] != "":
                out.append("")
            out += [f"## {fam}", "", "| Query | Check | Summary |", "|---|---|---|"]
            cur = fam
        out.append(f"| `{name}` | {check} | {doc} |")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "COVERAGE.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote COVERAGE.md: {len(rows)} queries")


if __name__ == "__main__":
    main()
