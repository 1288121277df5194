"""The answer oracle: DuckDB over the generated inputs, in its own process.

Run as ``python3 -m pinotbench.oracle`` with a JSON request on stdin:

    {"seed": S, "tables": {name: {"tag", "segments", "rows", "table_rows"}},
     "queries": {id: sql}}

It regenerates every table with ``gen`` (adding the segment index as column
``g``), answers every query with DuckDB and prints
``{"answers": {id: [[...], ...]}, "arrow_bytes": {name: n}}``. No code of the
program under test is imported here.
"""

from __future__ import annotations

import json
import sys

import duckdb
import numpy as np
import pyarrow as pa

from pinotbench import gen


def answer(request: dict) -> dict:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    arrow_bytes = {}
    keep = []
    for name, t in request["tables"].items():
        table = gen.table(
            request["seed"], t["tag"], t["segments"], t["rows"], t["table_rows"]
        )
        arrow_bytes[name] = table.nbytes
        g = np.repeat(np.asarray(t["segments"], dtype=np.int64), t["rows"])
        table = table.append_column("g", pa.array(g))
        keep.append(table)
        con.register(name, table)
    answers = {
        qid: [list(row) for row in con.execute(sql).fetchall()]
        for qid, sql in request["queries"].items()
    }
    return {"answers": answers, "arrow_bytes": arrow_bytes}


if __name__ == "__main__":
    json.dump(answer(json.load(sys.stdin)), sys.stdout)
