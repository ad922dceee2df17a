"""Self-test of the output checks: damaged output must count as a failure.

    python3 perfbench/run.py --selftest

Writes one gen_parquet pass at the default seed, then checks copies of
it: untouched (must pass), truncated, with one value altered, and with
the file removed (each must fail). For the operator workload, a result
with one row dropped must not match its pinned digest.
"""

from __future__ import annotations

import json
import os
import shutil

from perfbench import checks
from perfbench.tracing import Tracer
from perfbench.workloads import DEFAULT_SEED, OPS_DATA, GenWorkload


def _truncate(path: str) -> None:
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)


def _alter(path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    col = t.column(0).to_pylist()
    col[len(col) // 2] ^= 1
    pq.write_table(t.set_column(0, t.field(0), pa.array(col, t.field(0).type)), path)


def selftest(start_session, stop_spark, work: str) -> int:
    spark = start_session()
    wl = GenWorkload(DEFAULT_SEED, work)
    _, info = wl.run_pass(spark, Tracer())
    pristine = info["out_dir"]
    damage = {"untouched": None, "truncated": _truncate, "altered": _alter, "removed": os.remove}
    results = {}
    for case, fn in damage.items():
        out_dir = f"{pristine}-{case}"
        shutil.copytree(pristine, out_dir)
        if fn is not None:
            data = [os.path.join(r, f) for r, _, fs in os.walk(out_dir)
                    for f in fs if f.endswith(".parquet")]
            fn(data[0])
        results[case] = wl.check_pass({"out_dir": out_dir, "cfg": info["cfg"]})
    shutil.rmtree(pristine)

    import __spark_entry__ as E

    df = E.queries()["dedup_minhash"](spark, OPS_DATA)
    pinned = checks.load_pinned()["ops_sf0.01"]["dedup_minhash"]
    got = checks.df_digest(df.limit(pinned["rows"] - 1))
    results["ops_row_dropped"] = checks.PassChecker({"q": pinned}).errors({"q": got})
    stop_spark(spark)

    ok = not results["untouched"] and all(v for k, v in results.items() if k != "untouched")
    print(json.dumps({"selftest_ok": ok, "errors_reported": results}))
    return 0 if ok else 1
