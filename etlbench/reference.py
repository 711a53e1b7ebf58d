"""Record-level semantics of the reference banking ETL, written without the
code under test: Python's csv.reader, int() and float() decide each line's
fate, and the bp.py scoring rules give the derived columns.

`expected(lines)` turns the data lines of an input file into the processed
rows and the error rows the pipeline must produce.
"""
import csv
import json

import numpy as np
import pyarrow as pa

NUM_COLS = 17
MIN_AGE, MAX_AGE = 18, 100
PIPELINE_VERSION = "1.2"

INPUT_COLUMNS = ["age", "job", "marital", "education", "default", "balance",
                 "housing", "loan", "contact", "day", "month", "duration",
                 "campaign", "pdays", "previous", "poutcome", "y"]
INT_COLUMNS = {0, 9, 11, 12, 13, 14}
FLOAT_COLUMN = 5
DERIVED_COLUMNS = ["age_group", "wealth_segment", "contact_day_type",
                   "has_loans", "customer_segment", "rfm_scores",
                   "engagement_score", "processing_timestamp"]
METADATA_COLUMNS = ["_ingestion_timestamp", "_processing_timestamp",
                    "_batch_id", "_pipeline_version"]
PROCESSED_COLUMNS = INPUT_COLUMNS + DERIVED_COLUMNS + METADATA_COLUMNS
ERROR_COLUMNS = ["raw_data", "error_message", "error_type", "timestamp"]

INPUT_TYPES = {c: (pa.int32() if i in INT_COLUMNS else
                   pa.float64() if i == FLOAT_COLUMN else pa.string())
               for i, c in enumerate(INPUT_COLUMNS)}


def _score(values, bounds, otherwise):
    """bp.py _calculate_score: the first ascending bound >= value wins."""
    conds = [values <= b for b, _ in bounds]
    return np.select(conds, [s for _, s in bounds], default=otherwise)


RECENCY = ([(-1, 1), (7, 5), (30, 4), (90, 3), (180, 2)], 1)
FREQUENCY = ([(3, 2), (5, 3), (7, 4), (10, 5)], 1)
MONETARY = ([(5000, 2), (10000, 3), (25000, 4), (50000, 5)], 1)


def _coerce(tokens, conv, dtype):
    """Apply int()/float() to one column: (values, {row: message}).

    Each distinct token is converted once; a failed token keeps Python's
    own exception text, as the reference's error record does.
    """
    known, bad = {}, {}
    for t in set(tokens):
        try:
            known[t] = conv(t)
        except ValueError as e:
            known[t] = 0
            bad[t] = f"ParseError: {e}"
    values = np.fromiter(map(known.__getitem__, tokens), dtype=dtype,
                         count=len(tokens))
    failures = ({i: bad[t] for i, t in enumerate(tokens) if t in bad}
                if bad else {})
    return values, failures


def _lower_strip(tokens):
    norm = {t: t.lower().strip() for t in set(tokens)}
    return np.array(list(map(norm.__getitem__, tokens)), dtype=object)


def _rfm_json(r, f, m):
    """bp.py's json.dumps of the three scores, once per distinct triple."""
    code = r * 100 + f * 10 + m
    text = {int(c): json.dumps({"recency": int(c) // 100,
                                "frequency": int(c) // 10 % 10,
                                "monetary": int(c) % 10})
            for c in np.unique(code)}
    return list(map(text.__getitem__, code.tolist()))


def expected(lines):
    """(processed, errors) as pyarrow tables for the given data lines.

    processed has the input and derived columns of every valid line;
    errors has error_type, error_message, the raw line of parse errors and
    the typed input fields of validation errors.
    """
    rows = list(csv.reader(lines, delimiter=";", quotechar='"'))
    parse_err = {i: f"ParseError: Expected {NUM_COLS} columns, got {len(r)}"
                 for i, r in enumerate(rows) if len(r) != NUM_COLS}
    good = ([i for i in range(len(rows)) if i not in parse_err]
            if parse_err else list(range(len(rows))))

    cols = list(zip(*(rows[i] for i in good))) if good else [()] * NUM_COLS
    alive = np.ones(len(good), dtype=bool)
    typed = {}
    # Coercion runs in CSV position order; the first failure wins.
    for pos, name in enumerate(INPUT_COLUMNS):
        if pos in INT_COLUMNS or pos == FLOAT_COLUMN:
            values, failures = _coerce(
                cols[pos], *((int, np.int64) if pos in INT_COLUMNS
                             else (float, np.float64)))
            for j, msg in failures.items():
                if alive[j]:
                    alive[j] = False
                    parse_err[good[j]] = msg
            typed[name] = values
        else:
            typed[name] = _lower_strip(cols[pos])

    keep = np.flatnonzero(alive)
    rec = {name: typed[name][keep] for name in INPUT_COLUMNS}
    line_of = np.array(good, dtype=np.int64)[keep]

    age = rec["age"]
    valid = (age >= MIN_AGE) & (age <= MAX_AGE)
    vidx = np.flatnonzero(~valid)
    pidx = np.flatnonzero(valid)

    errors = {
        "error_type": (["parsing_error"] * len(parse_err)
                       + ["data_validation"] * len(vidx)),
        "error_message": (list(parse_err.values())
                          + [f"ValidationError: Age {a} outside valid range"
                             for a in age[vidx]]),
        "raw_line": [lines[i] for i in parse_err] + [None] * len(vidx),
        "_line": list(parse_err) + line_of[vidx].tolist(),
    }
    for name in INPUT_COLUMNS:
        errors[name] = [None] * len(parse_err) + rec[name][vidx].tolist()
    err_table = pa.table({k: pa.array(v, type=INPUT_TYPES.get(
        k, pa.int64() if k == "_line" else pa.string()))
        for k, v in errors.items()})

    p = {name: rec[name][pidx] for name in INPUT_COLUMNS}
    a, bal, y = p["age"], p["balance"], p["y"]
    r = _score(p["pdays"], *RECENCY)
    f = _score(p["previous"], *FREQUENCY)
    m = _score(bal, *MONETARY)
    avg = (r + f + m) / 3
    yes = y == "yes"
    derived = {
        "age_group": np.where(a < 30, "young",
                              np.where(a < 50, "middle_aged", "senior")),
        "wealth_segment": np.where(bal > 50000, "high_net_worth",
                                   np.where(bal > 10000, "mass_affluent",
                                            "mass_market")),
        "contact_day_type": np.where(np.isin(p["day"] % 7, [0, 6]),
                                     "weekend", "weekday"),
        "has_loans": (p["housing"] == "yes") | (p["loan"] == "yes"),
        "customer_segment": np.select(
            [avg >= 4, avg >= 3, avg >= 2],
            ["premium", "high_value", "medium_value"], default="low_value"),
        "rfm_scores": _rfm_json(r, f, m),
        "engagement_score": (np.minimum(p["previous"], 10) / 10
                             + np.minimum(p["campaign"], 10) / 10
                             + np.minimum(p["duration"], 1000) / 1000
                             + np.where(yes, 1.0, 0.0)) / 4,
    }
    proc = {name: pa.array(p[name].tolist(), type=INPUT_TYPES[name])
            for name in INPUT_COLUMNS}
    proc.update({k: pa.array(np.asarray(v).tolist()) for k, v in derived.items()})
    proc["_line"] = pa.array(line_of[pidx])
    return pa.table(proc), err_table
