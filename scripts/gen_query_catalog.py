"""Generate docs/QUERIES.md — the query catalog — from the registry,
and re-stamp the registry-derived counts in docs/VERIFICATION.md and
README.md (both went stale twice when edited by hand). The catalog
text comes from ``catalog_text``, which tests/test_registry_order.py
compares against the whole committed file; the counts are pinned there
too.

Run from the repository root: python scripts/gen_query_catalog.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GROUPS = [
    ("rel_", "Relational core (SURVEY §2.A-F)"),
    ("src_", "Sources / sinks (SURVEY §2.A)"),
    ("text_", "Text kernels (SURVEY §2.G)"),
    ("ts_", "Corpus / text analytics (extension)"),
    ("sim_", "Similarity joins / ANN (SURVEY J4/V1-V2 + extension)"),
    ("dedup_", "Deduplication (extension)"),
    ("vec_", "Vector math (SURVEY §2.H)"),
    ("serve_", "Serving / scoring (SURVEY §2.I, S6)"),
    ("train_", "Training / evaluation (SURVEY §2.J)"),
    ("stream_", "Structured Streaming (extension)"),
    ("mm_", "Multimodal binary columns (extension)"),
    ("pipe_", "Composed pipelines (extension)"),
]


def first_sentence(doc: str) -> str:
    text = " ".join(doc.split())
    m = re.match(r"(.+?\.)(\s|$)", text)
    return (m.group(1) if m else text)[:220]


def catalog_text() -> str:
    """docs/QUERIES.md as the registry and the oracle accessor
    (``oracles.oracle_sql``) define it today."""
    from fuzzy_item_matching_spark.queries import load_all
    from oracles import oracle_sql

    reg = load_all()
    oracles = oracle_sql()
    order = {n: i for i, n in enumerate(reg)}
    lines = [
        "# Query catalog",
        "",
        "Generated by `scripts/gen_query_catalog.py` from the registry —",
        "one row per named query. *Oracle* = exact DuckDB twin compared by",
        "the driver (row count + schema + order-insensitive value hash);",
        "*rows-only* = no SQL-expressible oracle (seeded RNG /",
        "engine-specific hash / nondeterministic training), with stronger",
        "property checks in `tests/`. The first 50 registry positions are",
        "the driver's check budget (see `queries/__init__.CHECK_PRIORITY`).",
        "",
        f"**{len(reg)} queries, {len(oracles)} with exact oracles.**",
        "",
    ]
    for prefix, title in GROUPS:
        members = [n for n in reg if n.startswith(prefix)]
        if not members:
            continue
        lines += [f"## {title}", "", "| # | query | oracle | what it verifies |", "|---|---|---|---|"]
        for n in sorted(members, key=order.get):
            kind = "exact" if n in oracles else "rows-only"
            lines.append(
                f"| {order[n] + 1} | `{n}` | {kind} | {first_sentence(reg[n].doc)} |"
            )
        lines.append("")
    return "\n".join(lines)


def main() -> None:
    from fuzzy_item_matching_spark.queries import load_all
    from oracles import oracle_sql

    with open("docs/QUERIES.md", "w") as f:
        f.write(catalog_text())
    reg = load_all()
    print(f"wrote docs/QUERIES.md ({len(reg)} queries)")

    n = len(reg)
    ex = len(oracle_sql())
    restamps = [
        (
            "docs/VERIFICATION.md",
            r"\d+ of \d+ registered queries[^\n]*carry",
            f"{ex} of {n} registered queries carry",
        ),
        (
            "docs/VERIFICATION.md",
            r"## 3\. Rows-only queries \(\d+[^)]*\)",
            f"## 3. Rows-only queries ({n - ex})",
        ),
        (
            "README.md",
            r"\d+ named queries \(\d+ with exact DuckDB oracles\)",
            f"{n} named queries ({ex} with exact DuckDB oracles)",
        ),
    ]
    for path, pat, repl in restamps:
        text = open(path).read()
        new, cnt = re.subn(pat, repl, text)
        if cnt == 0:
            raise SystemExit(f"count stamp not found in {path}: {pat}")
        if new != text:
            open(path, "w").write(new)
            print(f"restamped {path} ({cnt} site(s))")


if __name__ == "__main__":
    main()
