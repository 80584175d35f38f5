"""Property-based tests (hypothesis) for the pure numeric kernels — no Spark
session needed, so these run in milliseconds. The reference has no
property-based testing (SURVEY.md §5); these guard the engine's custom math
where a unit fixture can't cover the input space."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=50), min_size=0, max_size=400),
       st.integers(min_value=0, max_value=60))
def test_ks_hist_matches_naive_ecdf(values, shift):
    """_ks_from_hist on a weighted histogram == the naive per-row ECDF KS."""
    from lk_data_test_spark.operators.drift import _ks_from_hist

    quantiles = np.sort(np.random.default_rng(7).uniform(0, 50, 99)) + shift
    if not values:
        return
    v = np.asarray(values, dtype=np.int64)
    uniq, cnt = np.unique(v, return_counts=True)
    got = _ks_from_hist(uniq, cnt, quantiles)

    # naive: evaluate ECDF jumps row by row
    s = np.sort(v)
    n = len(s)
    f_ref = np.searchsorted(quantiles, s, side="right") / 100.0
    ecdf_hi = np.arange(1, n + 1) / n
    # ECDF lower value at each sorted point = rank of first equal element / n
    first_idx = np.searchsorted(s, s, side="left")
    ecdf_lo = first_idx / n
    naive = max(np.max(np.abs(ecdf_hi - f_ref)), np.max(np.abs(ecdf_lo - f_ref)))
    assert abs(got - naive) < 1e-9
