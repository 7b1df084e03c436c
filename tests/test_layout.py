"""The committed query index (QUERIES.md) matches the live catalog."""

from __future__ import annotations


def test_queries_md_matches_live_catalog():
    """QUERIES.md is generated from the catalog; a new operator that
    skips `tools/gen_query_index.py` leaves the committed index stale
    (round-8 verdict item #5: the index said 231/219 while the catalog
    registered 235/223). This pins the counts and the name set."""
    import pathlib
    import re

    from clickhouse_batcher_spark import catalog

    catalog.load_all()
    md = (
        pathlib.Path(__file__).parent.parent / "QUERIES.md"
    ).read_text()
    m = re.search(r"\*\*(\d+) queries, (\d+) oracled\.\*\*", md)
    assert m, "QUERIES.md missing the generated count line"
    assert int(m.group(1)) == len(catalog.QUERIES), (
        f"QUERIES.md says {m.group(1)} queries, catalog registers "
        f"{len(catalog.QUERIES)} — rerun tools/gen_query_index.py"
    )
    assert int(m.group(2)) == len(catalog.ORACLES), (
        f"QUERIES.md says {m.group(2)} oracled, catalog has "
        f"{len(catalog.ORACLES)} — rerun tools/gen_query_index.py"
    )
    listed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", md, re.M))
    assert listed == set(catalog.QUERIES), (
        "QUERIES.md rows diverge from the catalog: "
        f"missing={sorted(set(catalog.QUERIES) - listed)[:5]} "
        f"extra={sorted(listed - set(catalog.QUERIES))[:5]}"
    )
