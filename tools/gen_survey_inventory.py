"""Regenerate the SURVEY.md §2d slug inventory from the registry.

The implementation-status prose in §2a accreted by hand for seven
rounds and would eventually contradict the registry; this table is
emitted FROM ``registry.queries()`` so its counts match by
construction. Rows name each family's file, not line numbers, and
list slugs sorted, so only a slug added, removed or moved to another
family changes the table; ``tests/test_registry_correctness.py``
fails when the committed table is stale. Regenerate with:

    python tools/gen_survey_inventory.py        # rewrites SURVEY.md in place
    python tools/gen_survey_inventory.py --check  # exit 1 if stale
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BEGIN = "<!-- BEGIN GENERATED INVENTORY (tools/gen_survey_inventory.py) -->"
END = "<!-- END GENERATED INVENTORY -->"

FAMILY_LABEL = {
    "plans.parity": "reference parity (§2a)",
    "plans.analytics": "core analytics",
    "plans.advanced": "advanced SQL/UDF surface",
    "plans.tpch": "TPC-H suite",
    "plans.sqlface": "SQL face",
    "plans.timeseries": "time series & forecasting",
    "plans.pipeline": "quality pipeline",
    "plans.behavior": "behavioral analytics & experimentation",
    "plans.incremental": "incremental maintenance",
    "operators.dedup": "deduplication & dup-graph",
    "operators.similarity": "embeddings / ANN / similarity",
    "operators.text_analysis": "text analysis",
    "operators.cleaning": "cleaning & feature engineering",
    "operators.corpus": "corpus curation",
    "operators.multimodal": "multimodal",
    "operators.skew": "skew & partitioning machinery",
    "operators.linkage": "record linkage",
    "operators.graph": "graph algorithms",
    "operators.profiling": "profiling & data quality",
    "streaming.queries": "structured streaming",
    "sources.formats": "formats & storage layout",
    "sources.pysource": "custom Python data source",
}


def build_table() -> str:
    from mapreduce_rust_spark import registry

    q = registry.queries()
    oracles = registry.oracle_sql()
    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    by_family: dict[tuple[str, str], list[str]] = {}
    for slug, fn in q.items():
        rel = os.path.relpath(fn.__code__.co_filename, pkg_root)
        mod_key = (
            rel.replace("mapreduce_rust_spark/", "")
            .replace(".py", "")
            .replace("/", ".")
        )
        family = FAMILY_LABEL.get(mod_key, mod_key)
        by_family.setdefault((family, rel), []).append(slug)

    lines = [
        BEGIN,
        "",
        f"**{len(q)} registered slugs** ({len(oracles)} with value oracles,"
        f" {len(q) - len(oracles)} rows-only), grouped by family. Every"
        " slug is a `queries()` entry; the file defines its query"
        " callable.",
        "",
        "| family | file | n | slugs |",
        "|---|---|---|---|",
    ]
    for (family, rel), members in sorted(by_family.items()):
        cell = "; ".join(f"`{s}`" for s in sorted(members))
        lines.append(f"| {family} | {rel} | {len(members)} | {cell} |")
    lines += ["", END]
    return "\n".join(lines)


def main() -> int:
    survey = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SURVEY.md",
    )
    src = open(survey).read()
    table = build_table()
    if BEGIN in src:
        head, rest = src.split(BEGIN, 1)
        _, tail = rest.split(END, 1)
        new = head + table + tail
    else:
        marker = "### 2b."
        assert marker in src
        insert = (
            "### 2d. Engine-extension inventory (GENERATED — do not edit"
            " by hand)\n\nRegenerated at every freeze by"
            " `python tools/gen_survey_inventory.py`; counts match"
            " `registry.queries()` by construction.\n\n" + table + "\n\n"
        )
        new = src.replace(marker, insert + marker, 1)
    if "--check" in sys.argv:
        if new != src:
            print("SURVEY.md inventory is STALE — regenerate")
            return 1
        print("SURVEY.md inventory is current")
        return 0
    open(survey, "w").write(new)
    print(f"SURVEY.md inventory regenerated ({table.count(chr(10))} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
