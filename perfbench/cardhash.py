"""Order-insensitive content hash of a query result, over the normalisation
the repository's DuckDB oracle comparison (tools/compare.py) applies before
comparing: columns sorted by name, decimals and timestamps as strings,
floats rounded to 6 places, rows sorted, nulls as "<N>"."""
import hashlib

import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v) if v is not None else None)
        elif "datetime" in str(df[c].dtype):
            df[c] = df[c].astype(str)
        elif df[c].dtype == float:
            df[c] = df[c].round(6)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df: pd.DataFrame):
    """(sha256 hex digest, row count) of the normalised frame."""
    a = norm(df).fillna("<N>").astype(str)
    h = hashlib.sha256("\x1f".join(a.columns).encode())
    for row in a.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest(), len(a)


def parquet_hash(path):
    """Hash of a Spark output directory (one or more parquet part files)."""
    import glob
    import pyarrow.parquet as pq
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet output under {path}")
    frames = [pq.read_table(f).to_pandas() for f in files]
    return frame_hash(pd.concat(frames, ignore_index=True))
