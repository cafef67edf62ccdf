"""Unit tests of the input generator; no SparkSession needed."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from perfbench import datagen


def test_events_ts_is_whole_microseconds_typed_as_nanoseconds():
    ts = datagen.tables()["events"].column("ts")
    assert ts.type == pa.timestamp("ns")
    ns = ts.to_numpy().astype(np.int64)
    assert (ns % 1000 == 0).all()
    assert (np.diff(ns) >= 0).all()


def test_tables_are_deterministic_and_sized():
    a, b = datagen.tables(), datagen.tables()
    assert all(a[name].equals(b[name]) for name in a)
    assert a["lineitem"].num_rows == datagen.N_LINEITEM
    assert a["embeddings"].num_rows == datagen.N_EMBEDDINGS
