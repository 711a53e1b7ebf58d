"""Output checks, run after the timed region. Nothing here reuses the code
under test: expectations come from `reference.py` (ETL workloads) or from
each query's DuckDB oracle SQL (catalog_ops), and DuckDB reads what the
program wrote.

ETL outputs are compared on
  * the processed count and each error_type's count;
  * an order-independent digest of the deterministic processed columns
    (engagement_score quantized to 1e-6, as q41 quantizes it);
  * a digest of the (error_type, error_message, raw record) multiset;
  * lines - header = processed + errors;
  * non-null stamps and a non-null, unique `_batch_id` per processed row.
"""
import glob
import json
import os

import duckdb
import pandas as pd

import reference

_TYPED = ", ".join(
    f'"{c}"::{"INTEGER" if t == "int32" else "DOUBLE" if t == "double" else "VARCHAR"}'
    for c, t in ((c, str(reference.INPUT_TYPES[c]))
                 for c in reference.INPUT_COLUMNS))
PROCESSED_SIG = (f"hash({_TYPED}, age_group, wealth_segment, contact_day_type, "
                 "has_loans::BOOLEAN, customer_segment, rfm_scores, "
                 "round(engagement_score * 1e6)::BIGINT)")
ERROR_SIG = f"hash(error_type, error_message, raw_line, {_TYPED})"


def _json_fields():
    """The typed record a validation error renders into raw_data."""
    casts = {"int32": "INTEGER", "double": "DOUBLE", "string": "VARCHAR"}
    return ", ".join(
        f"CASE WHEN error_type <> 'parsing_error' THEN "
        f"(raw_data->>'$.{c}')::{casts[str(reference.INPUT_TYPES[c])]} "
        f'END AS "{c}"' for c in reference.INPUT_COLUMNS)


def connect():
    return duckdb.connect(config={"threads": 4})


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


def _digest(con, source, sig):
    n, s, x = con.execute(
        f"SELECT count(*), coalesce(sum(h), 0)::HUGEINT, "
        f"coalesce(bit_xor(h), 0) FROM (SELECT {sig} AS h FROM {source})"
    ).fetchone()
    return [n, str(s), str(x)]


def _error_counts(con, source):
    return dict(con.execute(
        f"SELECT error_type, count(*) FROM {source} GROUP BY 1 ORDER BY 1"
    ).fetchall())


def expected_etl(cache_dir):
    """Digests of the manifest's expected tables, cached beside them."""
    path = os.path.join(cache_dir, "expected_digest.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = connect()
    proc = f"read_parquet('{cache_dir}/expected_processed.parquet')"
    err = f"read_parquet('{cache_dir}/expected_errors.parquet')"
    out = {"processed": _digest(con, proc, PROCESSED_SIG),
           "errors": _digest(con, err, ERROR_SIG),
           "error_counts": _error_counts(con, err)}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def actual_etl(con, out_dir):
    """What one run wrote: (digests like expected_etl, problems)."""
    problems = []
    proc_dir, err_dir = f"{out_dir}/processed", f"{out_dir}/errors"
    for d in (proc_dir, err_dir):
        if not glob.glob(f"{d}/*.parquet"):
            return None, [f"no parquet files in {d}"]
    proc, err = _parquet(proc_dir), _parquet(err_dir)
    for src, want in ((proc, reference.PROCESSED_COLUMNS),
                      (err, reference.ERROR_COLUMNS)):
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}")
                .fetchall()]
        if cols != want:
            problems.append(f"columns {cols} != {want}")
    if problems:
        return None, problems

    n, ids, missing, version = con.execute(
        f"SELECT count(*), count(DISTINCT _batch_id), "
        f"count(*) FILTER (WHERE _batch_id IS NULL "
        f"OR _ingestion_timestamp IS NULL OR _processing_timestamp IS NULL "
        f"OR processing_timestamp IS NULL), "
        f"count(*) FILTER (WHERE _pipeline_version IS DISTINCT FROM "
        f"'{reference.PIPELINE_VERSION}') FROM {proc}").fetchone()
    if ids != n:
        problems.append(f"_batch_id not unique: {ids} distinct of {n} rows")
    if missing:
        problems.append(f"{missing} processed rows lack a stamp or _batch_id")
    if version:
        problems.append(f"{version} processed rows with another version")
    (no_ts,) = con.execute(
        f"SELECT count(*) FILTER (WHERE timestamp IS NULL) FROM {err}"
    ).fetchone()
    if no_ts:
        problems.append(f"{no_ts} error rows lack a timestamp")

    err_view = (f"(SELECT error_type, error_message, CASE WHEN error_type = "
                f"'parsing_error' THEN raw_data END AS raw_line, "
                f"{_json_fields()} FROM {err})")
    got = {"processed": _digest(con, proc, PROCESSED_SIG),
           "errors": _digest(con, err_view, ERROR_SIG),
           "error_counts": _error_counts(con, err)}
    return got, problems


def check_etl(con, out_dir, expected, data_lines):
    """Problems with one run's output; empty when it is correct."""
    got, problems = actual_etl(con, out_dir)
    if got is None:
        return problems, {}
    counts = {"processed": got["processed"][0], **got["error_counts"]}
    if got["processed"][0] + sum(got["error_counts"].values()) != data_lines:
        problems.append(f"does not reconcile: {counts} vs {data_lines} lines")
    for key in ("processed", "errors", "error_counts"):
        if got[key] != expected[key]:
            problems.append(f"{key}: got {got[key]}, want {expected[key]}")
    return problems, counts


def _norm(df):
    """scripts/oracle_check.py's rule: columns by name, rows by value."""
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def check_catalog(oracle_dir, table_dir):
    """{query: problem or None} for the dumped catalog results."""
    con = connect()
    for t in glob.glob(f"{table_dir}/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    with open(f"{oracle_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    out = {}
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{oracle_dir}/{name}/*.parquet"))
        if not files:
            out[name] = "no parquet output"
            continue
        got = _norm(pd.concat([pd.read_parquet(f) for f in files]))
        want = _norm(con.execute(sql).fetchdf())
        if list(got.columns) != list(want.columns):
            out[name] = f"columns {list(got.columns)} vs {list(want.columns)}"
        elif len(got) != len(want):
            out[name] = f"rows {len(got)} vs {len(want)}"
        else:
            try:
                pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                              check_exact=True)
                out[name] = None
            except AssertionError as e:
                out[name] = "values differ: " + " | ".join(
                    str(e).split("\n")[:4])
    return out
