"""Regenerate ``pipeline_digests.json``: row digests of the DuckDB oracle twins
(``__spark_entry__.oracle_sql()``) of the pipeline queries, over the fixed
generated tables at every scale the pipeline workload uses.

    python3 perfbench/make_digests.py

Run it only when the generator, the query set or an oracle changes; at
sf0.01 ``jaccard_auto_heavy`` takes about half a minute in DuckDB.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import verify  # noqa: E402
from workloads import DIGESTS, PIPELINE_QUERIES  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    out = {}
    for scale in datagen.SCALES:
        with tempfile.TemporaryDirectory() as d:
            tables = datagen.star_tables(scale)
            datagen.write_tables(tables, d)
            con = duckdb.connect()
            for t in tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(d, t + '.parquet')}'")
            out[scale] = {}
            for name in PIPELINE_QUERIES:
                t0 = time.perf_counter()
                rel = con.sql(oracles[name])
                rows = rel.fetchall()
                out[scale][name] = {
                    "rows": len(rows),
                    "digest": verify.row_digest(rel.columns, rows)}
                print(f"{scale} {name}: {len(rows)} rows "
                      f"[{time.perf_counter() - t0:.1f}s]", file=sys.stderr)
            con.close()
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
