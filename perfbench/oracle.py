"""Result check: each distinct query's stored output against its DuckDB oracle.

The harness stores the first result of every distinct query it ran as
parquet (`<results>/<query>/`). The query's oracle SQL
(`SparkEntry.oracleSql`) runs in DuckDB over the same fixture parquet, and
both sides are compared with the normalization of the repo's own
correctness gate (`scripts/check.py`: columns sorted by name, rows sorted,
floats to 6 dp).
"""
import os
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _check_module(root):
    """The repo's comparator (`scripts/check.py`), imported from the checkout."""
    scripts = str(Path(root) / "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import check
    return check


def _identical(got, exp):
    """Exact equality of two tables whose columns have the same types, after
    a full sort: the fast path for big results. Tables whose types differ
    always go through the normalized comparison, which tells e.g. a decimal
    from a double."""
    if got.schema.types != exp.schema.types:
        return False
    keys = [(c, "ascending") for c in got.column_names]
    try:
        return got.sort_by(keys).equals(exp.sort_by(keys))
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, pa.ArrowTypeError):
        return False


def compare(got, exp, table_rows):
    """None when the two arrow tables agree, else a one-line reason."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"schema: spark={gcols} oracle={ecols}"
    if got.num_rows != exp.num_rows:
        return f"rowcount: spark={got.num_rows} oracle={exp.num_rows}"
    if _identical(got.select(gcols), exp.select(gcols)):
        return None
    g, e = table_rows(got, gcols), table_rows(exp, ecols)
    if g == e:
        return None
    i = next(i for i, (a, b) in enumerate(zip(g, e)) if a != b)
    return f"value row {i}: spark={str(g[i])[:160]} oracle={str(e[i])[:160]}"


def connect(data_dir, temp_dir):
    """DuckDB with a view per fixture table; spills go to `temp_dir`."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{Path(data_dir) / (t + '.parquet')}')")
    return con


def expected(con, sql, cache):
    """The oracle's output, computed once per (data, SQL) and cached."""
    if cache.is_file():
        return pq.read_table(cache)
    table = con.sql(sql).fetch_arrow_table()
    cache.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache.with_suffix(f".{os.getpid()}.tmp")
    pq.write_table(table, tmp)
    tmp.rename(cache)
    return table


def check_results(root, con, results_dir, oracles, names, cache_for):
    """Map every query in `names` to None (match) or a failure reason.
    `cache_for(name, sql)` names the cache file of an oracle's output."""
    table_rows = _check_module(root).table_rows
    out = {}
    for name in sorted(names):
        if name not in oracles:
            out[name] = "no oracle"
            continue
        try:
            got = pads.dataset(str(Path(results_dir) / name)).to_table()
        except Exception as e:  # noqa: BLE001 - reported, not raised
            out[name] = f"result unreadable: {str(e)[:200]}"
            continue
        try:
            exp = expected(con, oracles[name], cache_for(name, oracles[name]))
        except Exception as e:  # noqa: BLE001
            out[name] = f"oracle failed: {str(e)[:200]}"
            continue
        out[name] = compare(got, exp, table_rows)
    return out
