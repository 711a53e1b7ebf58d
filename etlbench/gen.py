"""Seeded inputs for the benchmark workloads.

`etl_input(dir, seed)` writes a UCI-shaped semicolon CSV (`input.csv`)
plus its manifest: every data line's expected fate as computed by
`reference.expected`, stored as `expected_processed.parquet` and
`expected_errors.parquet`. The generator
also records the fate it meant each line to have and refuses to write a
manifest that disagrees with the reference semantics.

`catalog_input(dir, seed)` writes an sf0.1-shaped `customer.parquet`, the
only table the ETL-operator catalog queries read.

The same seed always gives byte-identical files.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import reference

# Data lines per ETL input (one header line on top).
ETL_LINES = 200_000
CUSTOMERS = 15_000

# Like bank-full.csv of the UCI Bank Marketing dataset
# (https://archive.ics.uci.edu/dataset/222/bank+marketing), every line
# quotes its ten string fields and leaves the numbers bare:
#   58;"management";"married";"tertiary";"no";2143;"yes";"no";"unknown";5;...
# On top of that, shares of lines carry an injected error, a ';' or an
# escaped '""' inside a quoted field, or a padded mixed-case job.
ERROR_SHARE = 0.20
ADVERSARIAL_SHARE = 0.10
PADDED_SHARE = 0.05
ERROR_KINDS = ["arity", "int", "float", "age"]

JOBS = ["admin.", "blue-collar", "entrepreneur", "housemaid", "management",
        "retired", "self-employed", "services", "student", "technician",
        "unemployed", "unknown"]
MARITAL = ["married", "single", "divorced"]
EDUCATION = ["primary", "secondary", "tertiary", "unknown"]
CONTACT = ["cellular", "telephone", "unknown"]
MONTHS = ["jan", "feb", "mar", "apr", "may", "jun", "jul", "aug", "sep",
          "oct", "nov", "dec"]
POUTCOME = ["unknown", "failure", "other", "success"]
BAD_INTS = ["abc", "n/a", "", "12x", "-", "?", "none"]
BAD_FLOATS = ["n/a", "1,234.50", "abc", "", "12.3.4", "$100", "--1"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

HEADER = ";".join(f'"{c}"' for c in reference.INPUT_COLUMNS)


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.choice(len(values), n)]


def _yes_no(rng, n, p_yes):
    return np.where(rng.random(n) < p_yes, "yes", "no").astype(object)


def _balances(rng, n):
    """Every wealth and monetary bucket, some with cents."""
    band = rng.choice(4, n, p=[0.70, 0.15, 0.10, 0.05])
    lo = np.array([-3000, 5000, 25000, 60000])[band]
    hi = np.array([5000, 25000, 60000, 110000])[band]
    whole = rng.integers(lo, hi)
    cents = rng.integers(0, 100, n)
    with_cents = rng.random(n) < 0.2
    return [f"{w}.{c:02d}" if wc else str(w)
            for w, c, wc in zip(whole.tolist(), cents.tolist(),
                                with_cents.tolist())]


def _fields(rng, n):
    """Per-column token lists for n well-formed records."""
    pdays = np.where(rng.random(n) < 0.8, -1, rng.integers(1, 400, n))
    previous = np.where(rng.random(n) < 0.8, 0, rng.integers(1, 30, n))
    ints = {
        "age": rng.integers(18, 96, n),
        "day": rng.integers(1, 32, n),
        "duration": np.minimum(rng.exponential(260, n).astype(np.int64), 4900),
        "campaign": np.minimum(rng.geometric(0.35, n), 63),
        "pdays": pdays,
        "previous": previous,
    }
    cols = {k: [str(x) for x in v.tolist()] for k, v in ints.items()}
    cols.update({
        "job": _pick(rng, JOBS, n), "marital": _pick(rng, MARITAL, n),
        "education": _pick(rng, EDUCATION, n),
        "default": _yes_no(rng, n, 0.02), "balance": _balances(rng, n),
        "housing": _yes_no(rng, n, 0.55), "loan": _yes_no(rng, n, 0.15),
        "contact": _pick(rng, CONTACT, n), "month": _pick(rng, MONTHS, n),
        "poutcome": _pick(rng, POUTCOME, n), "y": _yes_no(rng, n, 0.12),
    })
    return {c: list(cols[c]) for c in reference.INPUT_COLUMNS}


def _quote(tok):
    return '"' + tok.replace('"', '""') + '"'


def etl_lines(seed, n=ETL_LINES):
    """(lines, intended) where intended[i] is the error kind or None."""
    rng = np.random.default_rng(seed)
    cols = _fields(rng, n)
    intended = [None] * n
    n_err = max(len(ERROR_KINDS), round(n * ERROR_SHARE))
    err_rows = rng.choice(n, n_err, replace=False)
    kinds = np.arange(n_err) % len(ERROR_KINDS)
    int_names = ["age", "day", "duration", "campaign", "pdays", "previous"]
    arity = set()
    for row, kind in zip(err_rows.tolist(), kinds.tolist()):
        k = ERROR_KINDS[kind]
        intended[row] = k
        if k == "arity":
            arity.add(row)
        elif k == "int":
            name = int_names[rng.integers(len(int_names))]
            cols[name][row] = BAD_INTS[rng.integers(len(BAD_INTS))]
        elif k == "float":
            cols["balance"][row] = BAD_FLOATS[rng.integers(len(BAD_FLOATS))]
        else:
            age = rng.integers(0, 18) if row % 2 else rng.integers(101, 131)
            cols["age"][row] = str(age)

    # Half of the adversarial lines carry a ';' inside a quoted field and
    # half an escaped quote; both stay 17-field records.
    for row in np.flatnonzero(rng.random(n) < ADVERSARIAL_SHARE).tolist():
        if row % 2:
            cols["job"][row] = cols["job"][row] + ";part-time"
        else:
            cols["education"][row] = 'the "' + cols["education"][row] + '"'
    # Mixed case and padding, which the parser lowercases and strips.
    for row in np.flatnonzero(rng.random(n) < PADDED_SHARE).tolist():
        cols["job"][row] = " " + cols["job"][row].title() + " "
    for i, c in enumerate(reference.INPUT_COLUMNS):
        if i not in reference.INT_COLUMNS and i != reference.FLOAT_COLUMN:
            cols[c] = [_quote(t) for t in cols[c]]

    rows = zip(*(cols[c] for c in reference.INPUT_COLUMNS))
    lines = [";".join(r) for r in rows]
    for row in arity:
        lines[row] = {0: lines[row] + ";extra",
                      1: lines[row].rsplit(";", 1)[0],
                      2: lines[row] + ";;"}[row % 3]
    return lines, intended


FATE = {"arity": "parsing_error", "int": "parsing_error",
        "float": "parsing_error", "age": "data_validation"}


def etl_input(dir_, seed, n=ETL_LINES):
    """Write input.csv and its manifest into dir_ unless already there."""
    meta_path = os.path.join(dir_, "manifest.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    os.makedirs(dir_, exist_ok=True)
    lines, intended = etl_lines(seed, n)
    processed, errors = reference.expected(lines)

    fate = {line: None for line in processed.column("_line").to_pylist()}
    fate.update(zip(errors.column("_line").to_pylist(),
                    errors.column("error_type").to_pylist()))
    wrong = [i for i, k in enumerate(intended)
             if fate.get(i, "missing") != (FATE[k] if k else None)]
    if wrong:
        i = wrong[0]
        raise SystemExit(f"generator and reference semantics disagree on "
                         f"{len(wrong)} lines, first {i}: {lines[i]!r} "
                         f"meant {intended[i]}, reference {fate.get(i)}")
    got = {}
    for t in errors.column("error_type").to_pylist():
        got[t] = got.get(t, 0) + 1

    csv_path = os.path.join(dir_, "input.csv")
    with open(csv_path, "w", newline="") as f:
        f.write(HEADER + "\n")
        f.write("\n".join(lines))
        f.write("\n")
    pq.write_table(processed, os.path.join(dir_, "expected_processed.parquet"))
    pq.write_table(errors, os.path.join(dir_, "expected_errors.parquet"))
    meta = {"seed": seed, "workload": "etl_dirty", "data_lines": len(lines),
            "header_lines": 1, "input_bytes": os.path.getsize(csv_path),
            "processed": processed.num_rows, "errors": got}
    with open(meta_path + ".tmp", "w") as f:
        json.dump(meta, f)
    os.replace(meta_path + ".tmp", meta_path)
    return meta


def catalog_input(dir_, seed, n=CUSTOMERS):
    """Write an sf0.1-shaped customer.parquet into dir_ unless there."""
    path = os.path.join(dir_, "customer.parquet")
    if not os.path.exists(path):
        os.makedirs(dir_, exist_ok=True)
        rng = np.random.default_rng([seed, 99])
        keys = np.arange(n, dtype=np.int64)
        table = pa.table({
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys.tolist()],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": rng.integers(-99999, 1000000, n) / 100.0,
            "c_mktsegment": _pick(rng, SEGMENTS, n).tolist(),
        })
        pq.write_table(table, path + ".tmp")
        os.replace(path + ".tmp", path)
    return {"seed": seed, "workload": "catalog_ops", "customers": n,
            "input_bytes": os.path.getsize(path)}
