#!/usr/bin/env python3
"""Compare two graft.Verify dumps (e.g. a parent commit's and a change's) and
exit non-zero on any difference:

  * per query dir: the schema (column names and types, in order) and the row
    multiset, compared by DuckDB `EXCEPT ALL` in both directions;
  * per entry of the two oracle_sql.json files: either identical text or, when
    the text differs, an identical DuckDB result (schema and row multiset) over
    the sf fixture tables.

Usage:

    python3 tools/dumpdiff.py DUMP_A DUMP_B SF_DIR
"""
import json, sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
from compare import TABLES  # noqa: E402


def query_dirs(dump):
    return {p.name for p in dump.iterdir()
            if p.is_dir() and any(p.glob("*.parquet"))}


def schema(con, rel):
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE {rel}").fetchall()]


def diff_tables(con, a, b):
    """Return a list of messages; empty when a and b have one schema and one
    row multiset."""
    sa, sb = schema(con, a), schema(con, b)
    if sa != sb:
        return [f"schema {sa} vs {sb}"]
    msgs = []
    for x, y in ((a, b), (b, a)):
        n = con.execute(f"SELECT COUNT(*) FROM "
                        f"(SELECT * FROM {x} EXCEPT ALL SELECT * FROM {y})"
                        ).fetchone()[0]
        if n:
            msgs.append(f"{n} rows only in {'A' if x == a else 'B'}")
    return msgs


def main():
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    dump_a, dump_b, sf_dir = Path(sys.argv[1]), Path(sys.argv[2]), sys.argv[3]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    bad = 0
    qa, qb = query_dirs(dump_a), query_dirs(dump_b)
    for name in sorted(qa ^ qb):
        print(f"DIFF query {name}: only in {'A' if name in qa else 'B'}")
        bad += 1
    same_q = 0
    for name in sorted(qa & qb):
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE da AS SELECT * FROM "
                        f"read_parquet('{dump_a / name}/*.parquet')")
            con.execute(f"CREATE OR REPLACE TEMP TABLE db AS SELECT * FROM "
                        f"read_parquet('{dump_b / name}/*.parquet')")
            msgs = diff_tables(con, "da", "db")
        except Exception as e:
            msgs = [f"error: {e}"]
        if msgs:
            print(f"DIFF query {name}: " + "; ".join(msgs))
            bad += 1
        else:
            same_q += 1

    oa = json.loads((dump_a / "oracle_sql.json").read_text())
    ob = json.loads((dump_b / "oracle_sql.json").read_text())
    for name in sorted(oa.keys() ^ ob.keys()):
        print(f"DIFF oracle {name}: only in {'A' if name in oa else 'B'}")
        bad += 1
    same_text = same_result = 0
    for name in sorted(oa.keys() & ob.keys()):
        if oa[name] == ob[name]:
            same_text += 1
            continue
        try:
            con.execute(f"CREATE OR REPLACE TEMP TABLE oa AS {oa[name]}")
            con.execute(f"CREATE OR REPLACE TEMP TABLE ob AS {ob[name]}")
            msgs = diff_tables(con, "oa", "ob")
        except Exception as e:
            msgs = [f"error: {e}"]
        if msgs:
            print(f"DIFF oracle {name}: " + "; ".join(msgs))
            bad += 1
        else:
            same_result += 1

    print(f"queries: {same_q} of {len(qa | qb)} identical in schema and rows; "
          f"oracles: {same_text} identical text, {same_result} identical "
          f"result, {len(oa.keys() | ob.keys()) - same_text - same_result} "
          f"differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
