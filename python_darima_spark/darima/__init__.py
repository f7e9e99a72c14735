"""DARIMA domain operators (Wang & Kang, arXiv:2007.09577).

Distributed ARIMA: split each ultra-long series into contiguous windows,
fit a (S)ARIMA model per window, linearize each model to a truncated
AR(tol) global form, combine coefficient vectors across windows (mean or
DLSA weighting), then forecast recursively with prediction intervals and
evaluate with MASE / sMAPE / MSIS.
"""

from python_darima_spark.darima.arima_math import (  # noqa: F401
    ar_to_ma,
    inv_box_cox,
    normal_ppf,
    sarima_to_ar,
)
from python_darima_spark.darima.fit import auto_ar_fit, coef_names  # noqa: F401
