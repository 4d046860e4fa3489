#!/usr/bin/env python
"""bpe_train_merges / tfidf_top_terms at xN bench scale under the
calibration-probed paired protocol (VERDICT r11 item 5 — both queries
read 3.8-4.5x at sf0.1 purely on the local-mode fixed-cost floor
(DuckDB 0.25-0.50s baselines); this ladder records their AT-SCALE
ratio, the statistic the 100x question cares about).

Stages an xN documents corpus under /tmp (N key-shifted copies of the
sf0.1 table), then runs
calibration-bracketed paired rounds of the registered Spark query
(noop sink) vs the registered DuckDB oracle on a FRESH connection.

Usage: python tools/textq_calib.py <query> [N=10] [rounds=5]
  query in {bpe_train_merges, tfidf_top_terms, text_char_lm_quality}
  (any registered documents-only query works).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from calib_paired import PairedSession  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SHIFT = 1_000_000_000


def main() -> None:
    qname = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5

    import duckdb
    from pyspark.sql import functions as F

    from introduction_in_big_data_spark import plans
    from introduction_in_big_data_spark.session import get_spark
    from introduction_in_big_data_spark.sources.tables import load_table

    spec = plans.REGISTRY[qname]
    spark = get_spark(f"textq-calib-{qname}")
    out_dir = f"/tmp/ibd_textq/x{n}"
    pq_path = f"{out_dir}/documents.parquet"
    if not os.path.exists(pq_path):
        base = load_table(spark, BASE, "documents")
        df = None
        for i in range(n):
            part = base.select(
                (F.col("doc_id") + i * SHIFT).alias("doc_id"),
                *[c for c in base.columns if c != "doc_id"],
            )
            df = part if df is None else df.unionByName(part)
        df.repartition(32).write.mode("overwrite").parquet(pq_path)

    def spark_run():
        spark.catalog.clearCache()
        spec.fn(spark, out_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    def duck():
        con = duckdb.connect()  # cold: fresh engine every round
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{pq_path}/*.parquet')"
        )
        con.sql(spec.oracle).fetchall()
        con.close()

    engines = {"spark": spark_run, "duckdb_cold": duck}
    for fn in engines.values():  # warmup: codegen + worker pools
        fn()

    s = PairedSession()
    for _ in range(rounds):
        s.run_round(engines)
    rep = s.report()
    rep["query"] = qname
    rep["x"] = n
    rep["sf_base"] = BASE
    if "best" in rep:
        rep["ratio_best"] = round(
            rep["best"]["spark"] / rep["best"]["duckdb_cold"], 3
        )
        rep["ratio_median"] = round(
            rep["median"]["spark"] / rep["median"]["duckdb_cold"], 3
        )
    print(json.dumps(rep))
    spark.stop()


if __name__ == "__main__":
    main()
