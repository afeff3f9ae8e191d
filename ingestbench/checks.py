"""Independent oracles for the correctness checks. None of them calls
into the program under test: the merged table image is recomputed with
DuckDB from the landed files, the corpus survivors with exact Jaccard in
plain Python."""

from __future__ import annotations

import re
from collections import defaultdict


def _duck_type(t: str) -> str:
    return {"bigint": "BIGINT", "int": "INTEGER", "string": "VARCHAR", "date": "DATE"}.get(
        t, t.upper())


def merge_image_diff(columns: list[tuple[str, str]], keys: list[str], csv_paths: list[str],
                     change_paths: list[str], table_dir: str) -> tuple[int, int, int]:
    """(expected rows, rows only in the table, rows only in the oracle)
    for a table loaded from ``csv_paths`` and then MERGEd with each
    change set in turn: a round keeps the image rows whose key is absent
    from the change set and adds every change row (update-all on match,
    insert otherwise)."""
    import duckdb

    cols = [c for c, _ in columns]
    types = ", ".join(f"'{c}': '{_duck_type(t)}'" for c, t in columns)
    files = ", ".join(f"'{p}'" for p in csv_paths)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TABLE img AS SELECT {', '.join(cols)} FROM read_csv([{files}], "
            f"header=true, delim=',', quote='', columns={{{types}}})")
        match = " AND ".join(f"img.{k} = chg.{k}" for k in keys)
        for p in change_paths:
            con.execute(f"CREATE OR REPLACE TEMP VIEW chg AS SELECT {', '.join(cols)} "
                        f"FROM read_parquet('{p}')")
            con.execute(
                f"CREATE OR REPLACE TABLE img AS SELECT * FROM img WHERE NOT EXISTS "
                f"(SELECT 1 FROM chg WHERE {match}) UNION ALL SELECT * FROM chg")
        con.execute(f"CREATE TEMP VIEW tbl AS SELECT {', '.join(cols)} FROM "
                    f"read_parquet('{table_dir}/**/*.parquet')")
        n = con.execute("SELECT count(*) FROM img").fetchone()[0]
        only_tbl = con.execute(
            "SELECT count(*) FROM (SELECT * FROM tbl EXCEPT ALL SELECT * FROM img)").fetchone()[0]
        only_img = con.execute(
            "SELECT count(*) FROM (SELECT * FROM img EXCEPT ALL SELECT * FROM tbl)").fetchone()[0]
        return n, only_tbl, only_img
    finally:
        con.close()


def _grams(text: str, n: int = 3) -> set[str]:
    toks = [t for t in re.split(r"\s+", text) if t]
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def near_dup_survivors(docs: list[tuple[int, str]], threshold: float) -> set[int]:
    """Ids of documents no smaller-id document reaches ``threshold``
    word-3-gram Jaccard with. Exact: only pairs sharing a gram can have
    non-zero similarity, so an inverted gram index enumerates every
    pair that matters."""
    grams = {i: _grams(t) for i, t in docs}
    index: dict[str, list[int]] = defaultdict(list)
    survivors = set()
    for i, _ in sorted(docs):
        g = grams[i]
        earlier = {j for gram in g for j in index[gram]}
        if not any(len(g & grams[j]) / len(g | grams[j]) >= threshold for j in earlier):
            survivors.add(i)
        for gram in g:
            index[gram].append(i)
    return survivors
