"""Compare the benchmark's generated query tables with a testdata
fixture directory of the same scale.

    python3 perfbench/fixture_check.py <fixture_dir>

Prints one line per statistic: the fixture's value, then the generated
table's. It covers row counts, distinct keys, duplicate rates and the
value ranges the mix queries filter, group or rank on.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import WORK_ROOT  # noqa: E402
from perfbench.queries import gen_mix_tables  # noqa: E402

STATS = {
    "events": "count(*), count(distinct user_id), count(distinct event_type), count(distinct props), "
    "round(avg(value), 2), round(median(value), 2), min(ts)::date, max(ts)::date",
    "lineitem": "count(*), count(distinct l_orderkey), count(distinct l_partkey), count(distinct l_suppkey), "
    "count(distinct (l_orderkey, l_linenumber)), round(avg(l_quantity), 2), round(avg(l_extendedprice)), "
    "min(l_shipdate)::date, max(l_shipdate)::date",
    "documents": "count(*), count(distinct text), count(*) filter (where text like '% dup'), "
    "round(avg(len(string_split(text, ' '))), 1), count(distinct source), count(distinct lang), "
    "round(avg((lang = 'en')::int), 2)",
    "embeddings": "count(*), count(distinct label), round(avg(len(embedding)), 1)",
}


def spread(path: str) -> tuple[float, float]:
    """(norm of the mean unit vector, mean norm of each label's mean unit
    vector): both near 1/sqrt(rows) for isotropic vectors with labels
    independent of them, and near 1 for tight clusters."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    v = np.array(t["embedding"], dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    labels = np.array(t["label"])
    per_label = [np.linalg.norm(v[labels == k].mean(0)) for k in np.unique(labels)]
    return round(float(np.linalg.norm(v.mean(0))), 3), round(float(np.mean(per_label)), 3)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    import duckdb

    work = os.path.join(WORK_ROOT, "fixture_check")
    shutil.rmtree(work, ignore_errors=True)
    gen_mix_tables(work)
    con = duckdb.connect()
    try:
        for table, cols in STATS.items():
            print(f"{table}: {cols}{', mean-vector norm, per-label mean-vector norm' if table == 'embeddings' else ''}")
            for label, d in (("fixture", argv[0]), ("generated", work)):
                path = os.path.join(d, f"{table}.parquet")
                row = con.execute(f"SELECT {cols} FROM read_parquet('{path}')").fetchone()
                if table == "embeddings":
                    row += spread(path)
                print(f"  {label:9s} {row}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
