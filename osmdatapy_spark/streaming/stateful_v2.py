"""Arbitrary stateful streaming on the NEW ``transformWithStateInPandas``
API (Spark 4's successor to ``applyInPandasWithState`` — typed state
variables on the RocksDB state store instead of one opaque state tuple).

One operator is expressed on each API generation deliberately:
``streaming/stateful.py`` carries the production suite on the
established ``applyInPandasWithState`` (GroupState), and this module
proves the SAME engine semantics port to the arbitrary-state processor
model — per-user running totals with a ``ValueState``, exact integer
accumulation (micro-cent longs, so any micro-batch split produces
bit-identical totals; float order-dependence can't leak in), update-mode
emission of only the touched keys per batch.

Requires the RocksDB state store provider
(``spark.sql.streaming.stateStore.providerClass``) — set per-query in
the test; the HDFS-backed default store does not support
transformWithState.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from osmdatapy_spark._pyworker import kernel

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("n_events", LongType(), True),
        StructField("total_micro", LongType(), True),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType(), True),
        StructField("micro", LongType(), True),
    ]
)


def _make_processor():
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            if self._totals.exists():
                n, micro = self._totals.get()
            else:
                n, micro = 0, 0
            for pdf in rows:
                import numpy as np

                n += len(pdf)
                # exact integer accumulation: PER-ROW micro-unit
                # conversion, then an int64 sum that is order-independent
                # (a float batch-sum could drift past the rounding guard
                # on large batches).  Rounding is explicit HALF-UP
                # (away from zero) to match Spark F.round and DuckDB
                # round — pandas .round() is half-EVEN, which agrees on
                # 4-dp data only because exact .5 micro-units never occur
                # there; 5+-dp inputs would silently break parity.
                v = pdf["value"].to_numpy()
                micro += int(
                    (np.sign(v) * np.floor(np.abs(v) * 10_000 + 0.5)).astype("int64").sum()
                )
            self._totals.update((n, micro))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_micro": [micro]}
            )

        def close(self) -> None:
            pass

    return RunningTotals()


def running_totals_tws(events_stream: DataFrame) -> DataFrame:
    """Per-user running (count, micro-unit total) — the
    transformWithStateInPandas face.  Works only under ``readStream``
    with the RocksDB state store provider."""
    return events_stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# Batch-parity face (round 6): execute the REAL StatefulProcessor in batch
# ---------------------------------------------------------------------------


class _BatchValueState:
    """In-memory stand-in for a transformWithState ValueState handle —
    the minimal exists/get/update protocol the processor uses.  Lets the
    identical processor code run under ``applyInPandas`` in plain batch,
    where neither the RocksDB state store provider nor the protobuf wire
    protocol is available (this container), so the shipped processor
    logic has EXECUTED coverage and an oracle, not just a streaming-only
    code path."""

    def __init__(self) -> None:
        self._value = None

    def exists(self) -> bool:
        return self._value is not None

    def get(self):
        return self._value

    def update(self, value) -> None:
        self._value = value


class _BatchHandle:
    def getValueState(self, name: str, schema) -> _BatchValueState:
        return _BatchValueState()


def running_totals_tws_batch(events: DataFrame, chunks: int = 3) -> DataFrame:
    """Batch face of ``running_totals_tws`` driving the SAME processor:
    one ``applyInPandas`` group per user feeds the group's rows through
    ``handleInputRows`` in ``chunks`` successive calls against one state
    handle — exactly a micro-batch sequence — and keeps only the LAST
    emission per key (update-mode semantics: the final running total).
    Splitting into multiple calls is the parity point: the exact integer
    state accumulation must make the result independent of how the
    stream was batched, so the oracle is a plain GROUP BY."""
    import pandas as pd

    @kernel
    def apply(pdf: "pd.DataFrame") -> "pd.DataFrame":
        proc = _make_processor()
        proc.init(_BatchHandle())
        key = (int(pdf["user_id"].iloc[0]),)
        n = len(pdf)
        step = max(1, (n + chunks - 1) // chunks)
        last = None
        for lo in range(0, n, step):
            for out in proc.handleInputRows(
                key, iter([pdf.iloc[lo : lo + step]]), None
            ):
                last = out
        proc.close()
        return last

    return events.select("user_id", "value").groupBy("user_id").applyInPandas(
        apply, OUTPUT_SCHEMA
    )
