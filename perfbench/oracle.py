"""Output check of curation_sink, run after the JVM exits, outside the
timed phase: the written corpus must have the recorded row count and
content hash. Frames are canonicalized by tools/check_oracle.py's `canon`
(columns sorted by name, rows sorted by every column), so the hash does
not depend on file or row order.
"""
import hashlib
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check_oracle import canon  # noqa: E402


def content_hash(df):
    """Order-independent hash of a frame's columns and values."""
    df = canon(df)
    h = hashlib.sha256(",".join(df.columns).encode())
    h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def corpus(path):
    """(rows, content hash) of the curation corpus."""
    df = pd.read_parquet(path)
    df["split"] = df["split"].astype(str)
    return len(df), content_hash(df)
