"""Generate QUERIES.md: the full registered-query inventory with family,
oracle status, and each query's first docstring sentence. Run after
adding queries; CI-checked by tests/test_catalog.py."""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def first_sentence(doc: str) -> str:
    if not doc:
        return ""
    text = " ".join(line.strip() for line in doc.strip().splitlines())
    for stop in (". ", ".\n"):
        if stop in text:
            text = text.split(stop)[0] + "."
            break
    if len(text) > 160:
        text = text[:160].rsplit(" ", 1)[0] + " …"
    return text


def main(out_path: str = os.path.join(ROOT, "QUERIES.md")) -> None:
    from pedri_analysis_spark.plans.registry import all_oracle_sql, all_queries

    qs = all_queries()
    oracles = all_oracle_sql()
    lines = [
        "# QUERIES — registered query inventory",
        "",
        f"{len(qs)} queries; {len(oracles)} with DuckDB oracles. "
        "The driver's 50-query correctness window rotates every round "
        "(least-recently-verified first — see plans/registry.py), so this "
        "inventory is listed alphabetically; everything is additionally "
        "covered every round by the repo's own driver-identical suite "
        "(tests/test_oracle_parity.py).",
        "",
        "| # | query | oracle | summary |",
        "|---|---|---|---|",
    ]
    for i, name in enumerate(sorted(qs), 1):
        fn = qs[name]
        orc = "sql" if name in oracles else "rows-only"
        summary = first_sentence(fn.__doc__ or "").replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {orc} | {summary} |")
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out_path}: {len(qs)} queries")


if __name__ == "__main__":
    main(*sys.argv[1:])
