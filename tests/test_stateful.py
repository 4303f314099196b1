"""Per-key EMA: the grouped-map ``applyInPandas`` recurrence over
(ts, id)-ordered values, checked by hand."""

from __future__ import annotations

import datetime as dt
import os

from conftest import T0, write_event_batch
from isilon_hadoop_tools_spark.streaming.stateful import ema_batch

ALPHA = 0.3


def test_ema_batch_matches_hand_recurrence(spark, tmp_path):
    # keys (reusing event_id as the user key) spread across two files:
    # key 1 sees values 1,2 then 3; key 2 sees 5
    d = str(tmp_path / "ema")
    os.makedirs(d)
    m = dt.timedelta(minutes=1)
    write_event_batch(d, "b1.parquet", [
        (1, T0, "a", 1.0),
        (1, T0 + 1 * m, "a", 2.0),
        (2, T0, "a", 5.0),
    ])
    write_event_batch(d, "b2.parquet", [
        (1, T0 + 2 * m, "a", 3.0),
    ])
    batch = {
        r["event_id"]: (r["n_events"], r["ema"])
        for r in ema_batch(
            spark.read.parquet(d), "event_id", "ts", "event_id", "value", ALPHA
        ).collect()
    }
    assert set(batch) == {1, 2}
    assert batch[1][0] == 3
    # recurrence by hand: 1 -> 0.3*2+0.7 = 1.3 -> 0.3*3+0.7*1.3 = 1.81
    assert abs(batch[1][1] - 1.81) < 1e-9
    assert batch[2] == (1, 5.0)
