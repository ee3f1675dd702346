"""``failed_ratio`` counts an entry whose rows differ from its oracle, and
an entry that raises, against all entries attempted."""

from types import SimpleNamespace

import pytest

from perfbench import oracle, run

ROWS = [(1, "a", 0.5), (2, "b", None)]
COLS = ["id", "name", "score"]


class _Frame:
    def __init__(self, rows):
        self.rows, self.columns = rows, COLS
        self.write = SimpleNamespace(format=lambda _f: SimpleNamespace(
            mode=lambda _m: SimpleNamespace(save=lambda: None)))

    def collect(self):
        return self.rows


class _Spark:
    def __init__(self):
        self.sparkContext = SimpleNamespace(setJobGroup=lambda *a: None)
        self.conf = SimpleNamespace(getAll={"k": "v"})


def _boom(spark, tree):
    raise RuntimeError("plan failed")


@pytest.fixture
def catalog(monkeypatch):
    from hebrew_tutor_data_pipeline_spark import plans

    fake = {
        "good": SimpleNamespace(spark=lambda spark, tree: _Frame(ROWS)),
        # one value changed: same columns and row count, different hash
        "bad": SimpleNamespace(spark=lambda spark, tree: _Frame([(1, "a", 0.5), (2, "c", None)])),
        "raises": SimpleNamespace(spark=_boom),
    }
    monkeypatch.setattr(plans, "CATALOG", fake)
    return fake


def test_mismatch_detects_values_rows_and_columns():
    want = oracle.digest(ROWS, COLS)
    assert oracle.mismatch(want, list(reversed(ROWS)), COLS) is None  # order-insensitive
    assert "hash" in oracle.mismatch(want, [(1, "a", 0.5), (2, "b", 0.0)], COLS)
    assert "rows" in oracle.mismatch(want, ROWS[:1], COLS)
    assert "columns" in oracle.mismatch(want, ROWS, ["id", "name", "other"])


def test_failed_ratio_counts_injected_mismatch(catalog, tmp_path):
    expected = {n: oracle.digest(ROWS, COLS) for n in catalog}
    conf_changes = {}
    results = run.run_entries(_Spark(), list(catalog), tmp_path, expected,
                              conf_changes=conf_changes)
    failed = run.failed_entries(results)
    assert failed == ["bad", "raises"]
    assert len(failed) / len(results) == pytest.approx(2 / 3)
    assert "hash" in results["bad"][2] and "plan failed" in results["raises"][2]
    assert conf_changes == {"good": [], "bad": [], "raises": []}
