"""Per-key exponential moving average (SURVEY §2.10): an
ORDER-dependent aggregate no built-in aggregation expresses
(sum/min/max are order-free; EMA is a recurrence
ema_t = a*x_t + (1-a)*ema_{t-1}).

:func:`ema_batch` runs it as a grouped-map ``applyInPandas``
(Arrow-batched, one shuffle on the key), oracle-checkable via the
closed form ema_n = (1-a)^(n-1) x_1 + sum_{j>=2} a (1-a)^(n-j) x_j.
Rows sort by (ts, id) inside each group so ties are deterministic
across engines.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def ema_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    id_col: str,
    val_col: str,
    alpha: float = 0.3,
) -> DataFrame:
    """Per-key EMA over (ts, id)-ordered values; output one row per
    key: ``(key, n_events, ema)``."""
    schema = f"{key_col} LONG, n_events LONG, ema DOUBLE"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, id_col])
        xs = pdf[val_col].tolist()
        ema = xs[0]
        for x in xs[1:]:
            ema = alpha * x + (1 - alpha) * ema
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "n_events": [len(pdf)], "ema": [ema]}
        )

    return df.groupBy(key_col).applyInPandas(fn, schema)
