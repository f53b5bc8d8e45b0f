"""Order-sensitive content hash of a query result, under the comparison
rules of tools/check.py: columns sorted by name, row count, per-column
null pattern, timestamps and dates in microseconds, floats and decimals
compared as floats, integers as integers (an int column never equals a
float column). Two frames that check.py calls equal hash equal."""
import datetime
import decimal
import hashlib
import json

import numpy as np
import pandas as pd


def _obj(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "N"
    if isinstance(v, (bool, np.bool_)):
        return "b" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i" + str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return "f" + repr(float(v) + 0.0)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date, np.datetime64)):
        return "t" + str(pd.Timestamp(v).as_unit("us").value)
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(k + ":" + _obj(x) for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_obj(x) for x in v) + "]"
    return "s" + str(v)


def _column(s):
    kind = s.dtype.kind
    if kind == "M":
        s = pd.to_datetime(s).astype("datetime64[us]")
        return ["N" if pd.isna(v) else "t" + str(v.value) for v in s]
    if kind in "iu":
        return ["N" if pd.isna(v) else "i" + str(int(v)) for v in s]
    if kind == "f":
        return ["N" if np.isnan(v) else "f" + repr(float(v) + 0.0) for v in s]
    return [_obj(v) for v in s]


def frame_hash(df):
    cols = sorted(df.columns)
    h = hashlib.sha256(json.dumps([cols, len(df)]).encode())
    for c in cols:
        h.update(("\x00" + c + "\x00").encode())
        h.update("\x01".join(_column(df[c].reset_index(drop=True))).encode())
    return h.hexdigest()
