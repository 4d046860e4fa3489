"""Avro source/sink on the pure-Python container codec
(functions/avrocodec.py) — closes the "Avro connector untestable"
environmental gap (no spark-avro jar, no Python avro lib in the image)
with the published format itself.

Scale shape: a container file's deflate blocks are not splittable
without scanning, so FILE granularity is the right parallel unit
(exactly what spark-avro does for deflate files). The sink writes one
container file per partition from the executors (foreachPartition —
no driver materialization); the source distributes one-or-more files
per task through a mapInPandas kernel whose closure carries the codec
module BY VALUE (cloudpickle), so an external driver's workers need no
importable package — the multimodal codec pattern.

Python-kernel honesty: decode happens in Python either way (that is
the point of a jar-free Avro path); the kernel is batch-per-file, not
row-at-a-time, and everything downstream of the scan is ordinary
JVM-side DataFrame work.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame


def _avrocodec_by_value():
    """Register functions/avrocodec (stdlib-only) for by-value
    cloudpickle so executor closures ship the codec instead of
    importing the package (see operators/multimodal._codecs_by_value)."""
    import sys

    from pyspark import cloudpickle

    from ..functions import avrocodec

    try:
        cloudpickle.register_pickle_by_value(avrocodec)
        cloudpickle.register_pickle_by_value(sys.modules[__name__])
    except Exception:  # pragma: no cover — same-cwd runs work anyway
        pass
    return avrocodec


def write_avro_dir(
    df: DataFrame,
    path: str,
    codec: str = "deflate",
    avro_schema: dict | None = None,
) -> None:
    """Write `df` as a directory of Avro Object Container Files, one
    per non-empty partition, schema = [null, T] unions per field
    (spark-avro's default nullable mapping). `avro_schema` overrides
    the derived writer schema — the Iceberg Avro-data staging path
    passes one whose fields carry `field-id` properties (the spec's
    Avro column-resolution attribute); field names/order must match
    the frame's columns."""
    avrocodec = _avrocodec_by_value()
    if avro_schema is None:
        avro_schema, _ = avrocodec.spark_rows_to_avro(df.schema, [])
    schema_json = json.dumps(avro_schema)
    fields = [f.name for f in df.schema.fields]
    os.makedirs(path, exist_ok=True)

    def write_part(it):
        import json as _json

        rows = [dict(zip(fields, r)) for r in it]
        if not rows:
            return
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        avrocodec.write_container(
            os.path.join(path, f"part-{pid:05d}.avro"),
            _json.loads(schema_json),
            rows,
            codec=codec,
        )

    df.foreachPartition(write_part)


def read_avro_schema(path: str) -> dict:
    """Writer schema from one container file's header (stops before
    any data block)."""
    from ..functions import avrocodec

    with open(path, "rb") as fh:
        if fh.read(4) != avrocodec.MAGIC:
            raise avrocodec.AvroError(f"not an Avro container file: {path}")
        meta: dict[str, bytes] = {}
        while True:
            n = avrocodec.read_long(fh)
            if n == 0:
                break
            if n < 0:
                avrocodec.read_long(fh)
                n = -n
            for _ in range(n):
                k = avrocodec.read_bytes(fh).decode("utf-8")
                meta[k] = avrocodec.read_bytes(fh)
        return json.loads(meta["avro.schema"])


def read_avro_dir(spark: SparkSession, path: str) -> DataFrame:
    """Read a directory of Avro container files as a DataFrame: one
    task per file (partition count = file count), Spark schema mapped
    from the writer schema in the first file's header."""
    import pandas as pd  # noqa: F401 (driver check that pandas exists)

    avrocodec = _avrocodec_by_value()
    files = sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".avro")
    )
    if not files:
        raise FileNotFoundError(f"no .avro files under {path}")
    schema = read_avro_schema(files[0])
    ddl = avrocodec.avro_to_spark_ddl(schema)
    col_names = [f["name"] for f in schema["fields"]]
    paths_df = local_frame(
        spark,
        [(f,) for f in files], "path string"
    ).repartition(len(files), "path")

    def kernel(batches):
        import pandas as _pd

        for batch in batches:
            for p in batch["path"]:
                _schema, rows = avrocodec.read_container(p)
                yield _pd.DataFrame(
                    {c: [r.get(c) for r in rows] for c in col_names}
                )

    return paths_df.mapInPandas(kernel, ddl)
