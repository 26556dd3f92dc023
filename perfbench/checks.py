"""Order-independent correctness checks on what one benchmark run wrote.

Each check returns a list of failure messages; an empty list means the
output is correct. None of them depends on row order, so they stay valid
when graft stops sorting outputs by opaque keys.
"""
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq

KNN_FEATURES = ["elev", "precip", "temp", "nbr", "ndvi", "slope"]
KNN_TARGETS = ["cov_psme", "cov_pila", "cov_abco"]
KNN_K = 5
KNN_SAMPLE = 256


def _table(path: Path):
    return pq.read_table(str(path))


def knn_brute(plots, queries: np.ndarray, k: int = KNN_K) -> np.ndarray:
    """Mean targets of each query row's k nearest plots.

    Plots are ranked by (features, targets) ascending, graft's canonical
    training order; neighbours are ordered by (squared distance, rank).
    Distances add feature by feature and targets add neighbour by
    neighbour, in the order graft's kernel uses, so results are bitwise
    comparable.
    """
    x = np.column_stack([plots[c].to_numpy() for c in KNN_FEATURES])
    y = np.column_stack([plots[c].to_numpy() for c in KNN_TARGETS])
    keys = [plots[c].to_numpy() for c in KNN_FEATURES + KNN_TARGETS]
    order = np.lexsort(keys[::-1])
    x, y = x[order], y[order]
    rank = np.arange(len(order))
    n = min(k, len(order))
    out = np.empty((len(queries), len(KNN_TARGETS)))
    for r, q in enumerate(queries):
        d2 = np.zeros(len(order))
        for j in range(x.shape[1]):
            diff = q[j] - x[:, j]
            d2 = d2 + diff * diff
        nearest = np.lexsort((rank, d2))[:n]
        for t in range(y.shape[1]):
            s = 0.0
            for i in nearest:
                s += y[i, t]
            out[r, t] = s / n
    return out


def check_knn(input_dir: Path, check_dir: Path, seed: int,
              sample: int = KNN_SAMPLE) -> list:
    """Predictions cover every pixel once, masked pixels are NaN, and a
    seeded sample of unmasked pixels matches a brute-force top-k exactly.
    """
    pixels = _table(input_dir / "pixels")
    plots = _table(input_dir / "plots")
    pred = _table(check_dir / "pred")
    fails = []
    if pred.num_rows != pixels.num_rows:
        fails.append(f"knn: {pred.num_rows} predictions for {pixels.num_rows} pixels")
    pid = pixels["sample_id"].to_numpy()
    qid = pred["sample_id"].to_numpy()
    if not np.array_equal(np.sort(pid), np.sort(qid)):
        return fails + ["knn: predicted sample ids differ from the pixel ids"]
    po, qo = np.argsort(pid), np.argsort(qid)
    feats = np.column_stack([pixels[c].to_numpy() for c in KNN_FEATURES])[po]
    got = np.column_stack([pred[c].to_numpy() for c in KNN_TARGETS])[qo]
    masked = np.isnan(feats).any(axis=1)
    if not np.isnan(got[masked]).all():
        fails.append(f"knn: {int((~np.isnan(got[masked])).any(axis=1).sum())} "
                     "masked pixels have a prediction instead of NaN")
    if np.isnan(got[~masked]).any():
        fails.append(f"knn: {int(np.isnan(got[~masked]).any(axis=1).sum())} "
                     "unmasked pixels have a NaN prediction")
    valid = np.flatnonzero(~masked)
    rng = np.random.default_rng(seed)
    picked = rng.choice(valid, size=min(sample, len(valid)), replace=False)
    want = knn_brute(plots, feats[picked])
    bad = np.flatnonzero((want != got[picked]).any(axis=1))
    if len(bad):
        i = picked[bad[0]]
        fails.append(f"knn: {len(bad)}/{len(picked)} sampled pixels differ from "
                     f"brute force; first: pixel {int(pid[po][i])} got "
                     f"{got[i].tolist()} want {want[bad[0]].tolist()}")
    return fails


def multiset_diff(con, left: str, right: str, cols: list) -> tuple:
    """Rows of `left` missing from `right` and vice versa, with repeats."""
    sel = ", ".join(cols)
    only_left = con.sql(
        f"SELECT count(*) FROM (SELECT {sel} FROM ({left}) EXCEPT ALL "
        f"SELECT {sel} FROM ({right}))").fetchone()[0]
    only_right = con.sql(
        f"SELECT count(*) FROM (SELECT {sel} FROM ({right}) EXCEPT ALL "
        f"SELECT {sel} FROM ({left}))").fetchone()[0]
    return only_left, only_right


def compare(con, name: str, got: str, want: str) -> list:
    """Same column names, same row count and the same rows in any order,
    as scripts/check_oracle.py compares a query with its oracle.
    """
    got_cols = sorted(con.sql(got).columns)
    want_cols = sorted(con.sql(want).columns)
    if got_cols != want_cols:
        return [f"{name}: columns {got_cols} != {want_cols}"]
    n_got = con.sql(f"SELECT count(*) FROM ({got})").fetchone()[0]
    n_want = con.sql(f"SELECT count(*) FROM ({want})").fetchone()[0]
    if n_got != n_want:
        return [f"{name}: {n_got} rows, expected {n_want}"]
    only_got, only_want = multiset_diff(con, got, want, got_cols)
    if only_got or only_want:
        return [f"{name}: {only_got} rows not expected, {only_want} expected rows missing"]
    return []


def check_transform(input_dir: Path, check_dir: Path, oracles: dict) -> list:
    """The generated table is one file of one row group, and each query's
    output equals its oracle SQL run by DuckDB over that table.
    """
    files = sorted((input_dir / "lineitem.parquet").glob("*.parquet"))
    fails = []
    if len(files) != 1:
        fails.append(f"transform: lineitem has {len(files)} files, expected 1")
    for f in files:
        groups = pq.ParquetFile(str(f)).metadata.num_row_groups
        if groups != 1:
            fails.append(f"transform: {f.name} has {groups} row groups, expected 1")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{input_dir / 'lineitem.parquet'}/*.parquet')")
    for name in sorted(oracles):
        out = check_dir / name
        if not out.is_dir():
            fails.append(f"{name}: no output written")
            continue
        fails += compare(con, name, f"SELECT * FROM read_parquet('{out}/*.parquet')",
                         oracles[name])
    return fails


def check_stream(check_dir: Path) -> list:
    """The stream's sink holds exactly the sessions the batch aggregate
    finds over the same events.
    """
    con = duckdb.connect()
    sink = f"SELECT * FROM read_parquet('{check_dir / 'sink'}/*.parquet')"
    twin = f"SELECT * FROM read_parquet('{check_dir / 'twin'}/*.parquet')"
    if con.sql(f"SELECT count(*) FROM ({twin})").fetchone()[0] == 0:
        return ["stream: the batch aggregate found no sessions"]
    return compare(con, "stream", sink, twin)
