"""Output checks, run once per run outside every timed region.

Registry statements are compared with their DuckDB oracle on the same
seeded parquet, canonicalized as the repository's local correctness gate
does: columns sorted by name, rows sorted on their string form, cells
compared as serialized strings with no numeric tolerance. Inference
predictions are compared with the NumPy reference forward pass.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing ``got`` with ``want``; empty when equal."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    g, w = _canon(got), _canon(want)
    problems = []
    for c in g.columns:
        bad = g[c] != w[c]
        if bad.any():
            i = int(bad.idxmax())
            problems.append(f"col {c}: {int(bad.sum())} cells differ, e.g. {g[c][i]!r} vs {w[c][i]!r}")
    return problems


def check_predictions(got: pd.DataFrame, feats: np.ndarray, ids: np.ndarray) -> list[str]:
    """Compare ``argmax(clf(embedding))`` with the reference forward pass.

    A row whose two best reference logits are within float32 rounding of
    each other may legitimately flip with the mini-batch shape, so only
    rows with a clear winner are held to an exact match."""
    from torchfusion_spark.models.fixtures import oracle_predict

    if len(got) != len(ids):
        return [f"rows {len(got)} != {len(ids)}"]
    logits = oracle_predict(feats)
    want = logits.argmax(axis=1)
    top2 = np.sort(logits, axis=1)[:, -2:]
    clear = (top2[:, 1] - top2[:, 0]) > 1e-4 * np.maximum(1.0, np.abs(top2[:, 1]))
    pred = pd.Series(got["predicted"].to_numpy(), index=got["vec_id"].to_numpy())
    pred = pred.reindex(ids).to_numpy()
    bad = clear & (pred != want)
    if bad.any():
        i = int(np.argmax(bad))
        return [f"{int(bad.sum())} predictions differ, e.g. vec_id {ids[i]}: {pred[i]} vs {want[i]}"]
    return []
