"""Each correctness check accepts a right output in any row order and
rejects a corrupted one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import tempfile
import unittest
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks


def write(table: pa.Table, path: Path, row_group_size=None) -> None:
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path / "part-0.parquet"), row_group_size=row_group_size)


def shuffled(table: pa.Table, seed: int = 7) -> pa.Table:
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


class KnnCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.input, self.check = root / "input", root / "check"
        rng = np.random.default_rng(3)
        m, n = 40, 60
        plots = {"plot_id": np.arange(m)}
        # a few repeated feature rows make distance ties that only the
        # plot rank breaks
        x = np.round(rng.random((m, 6)), 1)
        for j, c in enumerate(checks.KNN_FEATURES):
            plots[c] = x[:, j]
        for c in checks.KNN_TARGETS:
            plots[c] = rng.random(m)
        self.plots = pa.table(plots)
        feats = np.round(rng.random((n, 6)), 1)
        feats[::9, 2] = np.nan
        self.masked = np.isnan(feats).any(axis=1)
        self.pixels = pa.table({"sample_id": np.arange(n), **{
            c: feats[:, j] for j, c in enumerate(checks.KNN_FEATURES)}})
        want = np.full((n, 3), np.nan)
        want[~self.masked] = checks.knn_brute(self.plots, feats[~self.masked])
        self.pred = {"sample_id": np.arange(n), **{
            c: want[:, t] for t, c in enumerate(checks.KNN_TARGETS)}}
        write(self.plots, self.input / "plots")
        write(self.pixels, self.input / "pixels")

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, pred: dict) -> list:
        write(shuffled(pa.table(pred)), self.check / "pred")
        return checks.check_knn(self.input, self.check, seed=1, sample=1000)

    def test_accepts_exact_predictions(self):
        self.assertEqual(self.run_check(self.pred), [])

    def test_rejects_one_ulp_off(self):
        col = self.pred["cov_pila"].copy()
        i = int(np.flatnonzero(~self.masked)[5])
        col[i] = np.nextafter(col[i], np.inf)
        fails = self.run_check({**self.pred, "cov_pila": col})
        self.assertTrue(any("brute force" in f for f in fails), fails)

    def test_rejects_filled_masked_pixel(self):
        col = self.pred["cov_psme"].copy()
        col[np.flatnonzero(self.masked)[0]] = 0.0
        fails = self.run_check({**self.pred, "cov_psme": col})
        self.assertTrue(any("masked pixels" in f for f in fails), fails)

    def test_rejects_missing_row(self):
        fails = self.run_check({k: v[1:] for k, v in self.pred.items()})
        self.assertTrue(any("predictions for" in f for f in fails), fails)

    def test_rejects_neighbour_ties_broken_the_other_way(self):
        # the mean of the k plots nearest by distance alone, ties broken
        # by reverse rank, differs where a tie straddles the k-th place
        x = np.column_stack([self.plots[c].to_numpy() for c in checks.KNN_FEATURES])
        y = np.column_stack([self.plots[c].to_numpy() for c in checks.KNN_TARGETS])
        feats = np.column_stack([self.pixels[c].to_numpy() for c in checks.KNN_FEATURES])
        keys = [self.plots[c].to_numpy() for c in checks.KNN_FEATURES + checks.KNN_TARGETS]
        order = np.lexsort(keys[::-1])
        x, y = x[order], y[order]
        wrong = {k: v.copy() for k, v in self.pred.items()}
        for i in np.flatnonzero(~self.masked):
            d2 = np.zeros(len(x))
            for j in range(x.shape[1]):
                diff = feats[i, j] - x[:, j]
                d2 = d2 + diff * diff
            near = np.lexsort((-np.arange(len(x)), d2))[:checks.KNN_K]
            for t, c in enumerate(checks.KNN_TARGETS):
                s = 0.0
                for n in near:
                    s += y[n, t]
                wrong[c][i] = s / checks.KNN_K
        differ = sum(not np.array_equal(wrong[c], self.pred[c], equal_nan=True)
                     for c in checks.KNN_TARGETS)
        self.assertGreater(differ, 0, "the fixture has no tie at the k-th place")
        self.assertNotEqual(self.run_check(wrong), [])


class TransformCheck(unittest.TestCase):
    ORACLES = {"q_double": "SELECT l_orderkey AS k, l_quantity * 2 AS v FROM lineitem"}

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        root = Path(self.tmp.name)
        self.input, self.check = root / "input", root / "check"
        q = np.arange(1, 21, dtype=float)
        self.lineitem = pa.table({"l_orderkey": np.arange(20) % 7, "l_quantity": q})
        write(self.lineitem, self.input / "lineitem.parquet")
        self.out = {"k": np.arange(20) % 7, "v": q * 2}

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, out: dict) -> list:
        write(shuffled(pa.table(out)), self.check / "q_double")
        return checks.check_transform(self.input, self.check, self.ORACLES)

    def test_accepts_rows_in_any_order(self):
        self.assertEqual(self.run_check(self.out), [])

    def test_rejects_changed_value(self):
        v = self.out["v"].copy()
        v[3] += 0.0001
        self.assertNotEqual(self.run_check({**self.out, "v": v}), [])

    def test_rejects_duplicated_row(self):
        out = {c: np.concatenate([a, a[:1]]) for c, a in self.out.items()}
        self.assertNotEqual(self.run_check(out), [])

    def test_rejects_swapped_duplicate(self):
        # same row count, one row repeated in place of another
        out = {c: a.copy() for c, a in self.out.items()}
        for a in out.values():
            a[1] = a[0]
        self.assertNotEqual(self.run_check(out), [])

    def test_rejects_renamed_column(self):
        self.assertNotEqual(self.run_check({"k": self.out["k"], "w": self.out["v"]}), [])

    def test_rejects_missing_output(self):
        fails = checks.check_transform(self.input, self.check, self.ORACLES)
        self.assertTrue(any("no output" in f for f in fails), fails)

    def test_rejects_table_of_two_row_groups(self):
        write(self.lineitem, self.input / "lineitem.parquet", row_group_size=10)
        fails = self.run_check(self.out)
        self.assertTrue(any("row groups" in f for f in fails), fails)


class StreamCheck(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.check = Path(self.tmp.name)
        self.twin = pa.table({
            "user_id": [1, 1, 2, 3], "session_start": [0, 5000, 10, 20],
            "session_end": [1800, 6800, 1810, 1820], "n_events": [3, 1, 2, 1],
            "sum_value": [10.0, 4.0, 7.0, 1.0]})
        write(self.twin, self.check / "twin")

    def tearDown(self):
        self.tmp.cleanup()

    def run_check(self, sink: pa.Table) -> list:
        write(shuffled(sink), self.check / "sink")
        return checks.check_stream(self.check)

    def test_accepts_same_sessions_in_any_order(self):
        self.assertEqual(self.run_check(self.twin), [])

    def test_rejects_changed_count(self):
        n = self.twin["n_events"].to_numpy().copy()
        n[2] += 1
        self.assertNotEqual(self.run_check(self.twin.set_column(
            3, "n_events", pa.array(n))), [])

    def test_rejects_missing_session(self):
        self.assertNotEqual(self.run_check(self.twin.slice(1)), [])

    def test_rejects_empty_twin(self):
        write(self.twin.slice(0, 0), self.check / "twin")
        self.assertNotEqual(self.run_check(self.twin.slice(0, 0)), [])


if __name__ == "__main__":
    unittest.main()
