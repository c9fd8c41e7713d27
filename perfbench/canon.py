"""Canonical form of a query result, shared by the oracle digests and the
per-run output check: columns sorted by name, every value compared as its
pandas string form (the rule of the repo's `tools/check_oracle.py`)."""
import hashlib
import json


def digest(df):
    cols = sorted(df.columns)
    rows = df[cols].astype(str).values.tolist()
    return hashlib.sha256(json.dumps([cols, rows]).encode()).hexdigest()
