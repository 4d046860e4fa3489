"""Mergeable sketch state across micro-batches (SURVEY.md §7 Step 5
'hard part #2', sketch flavor): per-batch sketches folded into a
running sketch via foreachBatch — the streaming analog of the
reference's cumulative CMS/HLL counters (Part_B.py:116-134,159-182),
built on the *mergeability* of the relational CMS
(operators/sketch.cms_build) and Datasketches HLL.

The accumulator here is an in-memory pandas frame on the driver —
bounded at width·depth rows by construction, so this is NOT a
driver-side materialization of data, it's a sketch-sized summary (the
same reason sketches exist at all). A production deployment would
write per-batch sketch tables to a sink and merge on read."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from ..operators import sketch
from ..session import local_frame


class StreamingCMS:
    """Accumulates a Count-Min Sketch over a stream via foreachBatch."""

    def __init__(self, column: str, width: int = sketch.CMS_WIDTH, depth: int = sketch.CMS_DEPTH):
        self.column = column
        self.width = width
        self.depth = depth
        self._acc: pd.DataFrame | None = None
        self.batches_seen = 0

    def _merge(self, batch_sketch: pd.DataFrame) -> None:
        if self._acc is None:
            self._acc = batch_sketch
        else:
            self._acc = (
                pd.concat([self._acc, batch_sketch])
                .groupby(["depth", "bucket"], as_index=False)["cnt"]
                .sum()
            )

    def foreach_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # per-batch sketch is computed distributed; only the ≤width·depth
        # summary crosses to the driver
        self._merge(sketch.cms_build(batch_df, self.column, self.width, self.depth).toPandas())
        self.batches_seen += 1

    def estimate(self, spark, keys: DataFrame) -> DataFrame:
        assert self._acc is not None, "no batches processed yet"
        acc_df = local_frame(
            spark,
            self._acc[["depth", "bucket", "cnt"]].itertuples(index=False, name=None),
            "depth int, bucket int, cnt long",
        )
        return sketch.cms_estimate(acc_df, keys, self.column, self.width, self.depth)


def run_streaming_cms(stream: DataFrame, column: str) -> StreamingCMS:
    """Drain a bounded stream, folding each micro-batch into the CMS."""
    cms = StreamingCMS(column)
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(cms.foreach_batch)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return cms
