"""Dump `.explain("formatted")` for named registered queries.

Usage: python tools/dump_plan.py <out_dir> <tag> <query> [<query> ...]

Writes <out_dir>/<query>_<tag>.txt for each query (tag is e.g.
``before`` / ``after``) — the before/after plan evidence the
optimization rounds commit alongside the code.  By convention
``out_dir`` is ``plans/<round>`` (e.g. ``plans/r14``).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from projet_meteo_etl_spark import registry  # noqa: E402
from projet_meteo_etl_spark.session import get_spark  # noqa: E402
from tools.plan_report import formatted_plan  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__, file=sys.stderr)
        return 2
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    spark = get_spark("dump-plan")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = registry.collect()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        if name not in queries:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        df = queries[name](spark, SF_DIR)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(formatted_plan(df))
        print(f"wrote {path}")
        spark.catalog.clearCache()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
