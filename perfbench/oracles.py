"""Oracle answers for the ``core_queries`` workload, in a process of its own.

    python3 perfbench/oracles.py <tables_dir> <out.json> <query> [<query> ...]

Runs each named query's registered DuckDB oracle (``registry.oracles()``)
on the parquet tables in ``tables_dir`` and writes, per query, its
column names and its rows normalized and sorted the way
``tests/oracle_compare.py`` compares them. The benchmark runs this before
its first query pass, so DuckDB's time and memory stay out of the
measured process and the measured passes.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_ingestion_pimcore_spark import registry  # noqa: E402
from perfbench.checks import sorted_rows  # noqa: E402 (puts tests/ on the path)
from oracle_compare import duckdb_conn  # noqa: E402


def main() -> None:
    tables_dir, out, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    oracles = registry.oracles()
    con = duckdb_conn(tables_dir)
    answers = {}
    for name in names:
        pdf = con.execute(oracles[name]).fetchdf()
        cols = sorted(pdf.columns)
        answers[name] = {"cols": cols, "rows": sorted_rows(pdf, cols)}
    with open(out, "w") as f:
        json.dump(answers, f)


if __name__ == "__main__":
    main()
