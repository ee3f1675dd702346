from types import SimpleNamespace

import pytest

from perfbench import engine


class _Conf:
    def __init__(self, values):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


def test_conf_set_restores_on_failure():
    spark = SimpleNamespace(conf=_Conf({"a": "1"}))
    with pytest.raises(RuntimeError):
        with engine.conf_set(spark, {"a": "2", "b": "3"}):
            assert spark.conf.values == {"a": "2", "b": "3"}
            raise RuntimeError("warm-up step failed")
    # a key that existed gets its value back; a new key is unset
    assert spark.conf.values == {"a": "1"}
