"""Every declared query, not only the ones catalog_suite times, matches
its DuckDB oracle on tables generated at the benchmark's scale."""

from __future__ import annotations

import gen
import run


def test_catalog_matches_oracle(spark, tmp_path):
    from dbbspark import verify
    from dbbspark.catalog import load_all

    sf_dir = str(tmp_path / "tables")
    gen.write_tables(sf_dir, 5, run.SCALE)
    con = verify.duckdb_connect(sf_dir)
    con.execute(f"SET temp_directory='{tmp_path / 'spill'}'")
    catalog = load_all()
    bad = {}
    for name in sorted(catalog):
        res = verify.compare_query(spark, con, catalog[name], sf_dir)
        if not res["ok"]:
            bad[name] = f"{res['status']} {res.get('detail', '')}"
    con.close()
    assert set(run.CORE_QUERIES) <= set(catalog)
    assert not bad
