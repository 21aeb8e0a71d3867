"""Correctness checks on one run's result dumps. Each check returns None
when the op's result is right, else a one-line reason.

SparkEntry entries are compared with their DuckDB oracle over the same
generated tables: columns sorted by name, rows sorted, values compared
as strings (the canonical form the project's oracle gate uses). The
reference ops are checked against DuckDB over the staged input."""
import glob
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq


def _parquet_src(path):
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _read_dump(results, name):
    parts = glob.glob(os.path.join(results, name, "*.parquet"))
    if not parts:
        raise ValueError("no result dump")
    return pd.concat([pd.read_parquet(p) for p in parts])


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def dump_rows(results, names):
    """Rows in each named op's result dump, for the ops that have one."""
    out = {}
    for name in names:
        parts = glob.glob(os.path.join(results, name, "*.parquet"))
        if parts:
            out[name] = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return out


def compare_frames(got, exp):
    g, e = _canon(got), _canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        gv, ev = g[c].astype(str).values, e[c].astype(str).values
        bad = [i for i in range(len(gv)) if gv[i] != ev[i]]
        if bad:
            i = bad[0]
            return f"{c}: {len(bad)} values differ, first {gv[i]!r} vs {ev[i]!r}"
    return None


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
    return con


def check_entries(con, oracle, names, results):
    out = {}
    for name in names:
        if name not in oracle:
            out[name] = "no oracle query"
            continue
        try:
            out[name] = compare_frames(_read_dump(results, name), con.sql(oracle[name]).df())
        except Exception as ex:  # a failed dump or oracle fails this op only
            out[name] = str(ex).splitlines()[0][:200]
    return out


def _counts(rows):
    return {tuple(r[:-1]): int(r[-1]) for r in rows}


def check_reference(con, record, results):
    """R1, R1-chunked and R2 per-value counts, R3/R4 stats, R2/R8 ids and
    R7's file layout, against the staged input the ops ran over."""
    src = _parquet_src(record["staged"])
    ids = sorted(record["ids"])
    id_list = ", ".join(map(str, ids))
    staged = f"(SELECT * FROM '{src}')"
    by_ids = f"(SELECT * FROM '{src}' WHERE doc_id IN ({id_list}))"
    out = {}

    def guard(name, fn):
        try:
            out[name] = fn()
        except Exception as ex:
            out[name] = str(ex).splitlines()[0][:200]

    def postings(name, keys, expected_sql):
        got = _read_dump(results, name)
        if not got["sorted"].all():
            return "a posting list is not sorted"
        if (got["n_ids"] != got["n_docs"]).any():
            return "n_docs differs from the posting list length"
        have = {tuple(r[k] for k in keys): int(r["n_docs"]) for _, r in got.iterrows()}
        want = _counts(con.sql(expected_sql).fetchall())
        return None if have == want else f"per-value counts differ: {have} vs {want}"

    guard("r1_field_values", lambda: postings(
        "r1_field_values", ["value"],
        f"SELECT lang, count(*) FROM {staged} WHERE lang IS NOT NULL GROUP BY 1"))
    guard("r1_chunked", lambda: postings(
        "r1_chunked", ["value", "chunk"],
        f"SELECT source, doc_id // 1048576, count(*) FROM {staged} "
        "WHERE source IS NOT NULL GROUP BY 1, 2"))

    def r2():
        got = _read_dump(results, "r2_values_by_ids")
        seen = sorted(i for lst in got["doc_ids"] for i in lst)
        if seen != ids:
            return f"posting lists hold {len(seen)} ids, not the {len(ids)} requested"
        have = {r["value"]: int(r["n_docs"]) for _, r in got.iterrows()}
        want = dict(con.sql(f"SELECT source, count(*) FROM {by_ids} GROUP BY 1").fetchall())
        return None if have == want else f"per-value counts differ: {have} vs {want}"
    guard("r2_values_by_ids", r2)

    def stats(name, table):
        got = _read_dump(results, name).iloc[0]
        mn, mx, avg = con.sql(
            f"SELECT min(n_chars), max(n_chars), avg(n_chars::DOUBLE) FROM {table}").fetchone()
        if got["min_v"] != mn or got["max_v"] != mx:
            return f"min/max {got['min_v']}/{got['max_v']} vs {mn}/{mx}"
        if abs(got["avg_v"] - avg) > 1e-9 * abs(avg):
            return f"avg {got['avg_v']} vs {avg}"
        return None
    guard("r3_numeric_stats", lambda: stats("r3_numeric_stats", staged))
    guard("r4_stats_by_ids", lambda: stats("r4_stats_by_ids", by_ids))

    def r8():
        got = sorted(_read_dump(results, "r8_point_lookup")["doc_id"].tolist())
        return None if got == ids else f"returned {len(got)} rows, not the {len(ids)} ids asked for"
    guard("r8_point_lookup", r8)

    def r7():
        files = sorted(glob.glob(os.path.join(record["clustered"], "*.parquet")))
        if not files:
            return "no files written"
        rows, ranges = 0, []
        for f in files:
            meta = pq.ParquetFile(f).metadata
            rows += meta.num_rows
            col = meta.schema.to_arrow_schema().get_field_index("doc_id")
            groups = [meta.row_group(g).column(col).statistics for g in range(meta.num_row_groups)]
            groups = [(s.min, s.max) for s in groups if s is not None and s.has_min_max]
            if any(a[1] >= b[0] for a, b in zip(groups, groups[1:])):
                return f"{os.path.basename(f)}: row groups are not in doc-id order"
            if groups:
                ranges.append((groups[0][0], groups[-1][1]))
        want = con.sql(f"SELECT count(*) FROM {staged}").fetchone()[0]
        if rows != want:
            return f"wrote {rows} rows, not {want}"
        ranges.sort()
        if any(a[1] >= b[0] for a, b in zip(ranges, ranges[1:])):
            return "files' doc-id ranges overlap"
        return None
    guard("r7_clustered_write", r7)
    return out
