"""The local oracle gate's cell comparison (``tools/check_oracle.py``), with
no Spark: a signed zero must not pass for an unsigned one."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd

_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_oracle.py")
_spec = importlib.util.spec_from_file_location("check_oracle", _PATH)
check_oracle = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_oracle)
columns_match = check_oracle.columns_match


def test_signed_zero_differs_from_zero():
    assert not columns_match(pd.Series([-0.0, 1.5]), pd.Series([0.0, 1.5]))
    assert not columns_match(pd.Series([0.0]), pd.Series([-0.0]))


def test_signed_zero_survives_rounding():
    a = check_oracle.normalize(pd.DataFrame({"x": [-1e-9]}))
    b = check_oracle.normalize(pd.DataFrame({"x": [0.0]}))
    assert not columns_match(a["x"], b["x"])


def test_equal_cells_match():
    assert columns_match(pd.Series([-0.0, 2.0, np.nan]), pd.Series([-0.0, 2.0 + 1e-12, np.nan]))
    assert columns_match(pd.Series([1, 2]), pd.Series([1.0, 2.0]))
    assert columns_match(pd.Series(["a", None]), pd.Series(["a", None]))
    assert not columns_match(pd.Series([1.0]), pd.Series([1.1]))
    assert not columns_match(pd.Series(["a"]), pd.Series(["b"]))
