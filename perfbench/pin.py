"""Regenerate ``pins.json``: the (row count, checksum) every mix query
must return on the benchmark's generated tables.

    python3 perfbench/pin.py [--accept-recall-miss]

Before writing, every query that has an oracle in the registry is
compared value by value against DuckDB running that oracle SQL on the
same parquet files (``tools/check.py``'s comparison); one mismatch and
nothing is written. An approximate top-k query is measured against the
exact ``cosine_topk`` oracle and must meet its recall floor from
``tools/check.py``; a miss also stops the write, unless
``--accept-recall-miss`` pins the approximate result as it is (the miss
is still printed). The other queries without an oracle are pinned as
they run. Re-run after a change that is meant to alter a mix query's
result.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.common import WORK_ROOT, Ctx, cpu_count, pin_environment, start_session, stop_session  # noqa: E402
from perfbench.queries import MIX, PINS, QueryRunner, gen_mix_tables  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main(argv: list[str]) -> int:
    accept_recall_miss = argv == ["--accept-recall-miss"]
    if argv and not accept_recall_miss:
        print(__doc__, file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, "pin")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, cpu_count())
    import duckdb

    from nt_etl_order_book_spark import registry
    from tools.check import RECALL_FLOORS, compare

    data = os.path.join(work, "data")
    gen_mix_tables(data)
    ctx = Ctx("pin", 0, 0.0, Tracer("pin", False), work, cpu_count())
    spark = start_session(ctx)
    runner = QueryRunner(spark, ctx)
    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in ("events", "lineitem", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    pins, bad, recall_misses = {}, [], []
    for name in MIX:
        rec = runner.run(name, data)
        pins[name] = [rec["n"], rec["h"]]
        if name in oracles:
            problems = compare(name, runner.fns[name](spark, data).toPandas(), con.execute(oracles[name]).fetchdf())
            print(f"{'FAIL' if problems else 'PASS'}  {name}: {rec['n']} rows {problems or ''}")
            bad += problems
        elif name in RECALL_FLOORS:
            # Approximate top-k: recall@k against the exact cosine_topk oracle.
            truth = con.execute(oracles["cosine_topk"]).fetchdf().groupby("qid")["vec_id"].apply(set)
            got = runner.fns[name](spark, data).toPandas().groupby("qid")["vec_id"].apply(set)
            recall = sum(len(got.get(q, set()) & s) / len(s) for q, s in truth.items()) / len(truth)
            ok = recall >= RECALL_FLOORS[name]
            print(f"{'PASS' if ok else 'FAIL'}  {name}: recall {recall:.3f} (floor {RECALL_FLOORS[name]})")
            recall_misses += [] if ok else [f"{name} recall {recall:.3f} < {RECALL_FLOORS[name]}"]
        else:
            print(f"ROWS  {name}: {rec['n']} rows (no oracle)")
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("oracle mismatch: pins not written", file=sys.stderr)
        return 1
    if recall_misses:
        print(f"recall below floor: {recall_misses}", file=sys.stderr)
        if not accept_recall_miss:
            print("pins not written (--accept-recall-miss pins them anyway)", file=sys.stderr)
            return 1
    with open(PINS, "w") as fh:
        fh.write("{\n" + ",\n".join(f"  {json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(pins.items())) + "\n}\n")
    print(f"wrote {PINS}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
