#!/usr/bin/env python
"""Dump .explain("formatted") for bench-flagged (or named) registry
queries to plans/<tag>/<name>_<suffix>.txt — the optimization-round
evidence files (guide §1: capture the plan shape before/after).

Usage: python tools/explain_dump.py [--out DIR] <tag> <suffix> [name ...]
  e.g. python tools/explain_dump.py r12 before
Writes plans/<tag>/<name>_<suffix>.txt for each query, or
DIR/<name>_<suffix>.txt with --out DIR (a plan check that should not
touch the repository's plans/).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from introduction_in_big_data_spark import plans  # noqa: E402
from introduction_in_big_data_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    out = None
    if args[:1] == ["--out"]:
        out, args = Path(args[1]), args[2:]
    tag = args[0] if len(args) > 0 else "r12"
    suffix = args[1] if len(args) > 1 else "before"
    names = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = out or REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("ibd-explain-dump")
    specs = (
        [plans.REGISTRY[n] for n in names]
        if names
        else [s for s in plans.REGISTRY.values() if s.bench]
    )
    import contextlib
    import io

    for spec in specs:
        spark.catalog.clearCache()
        df = spec.fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{spec.name}_{suffix}.txt").write_text(buf.getvalue())
        print(f"wrote {spec.name}_{suffix}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
