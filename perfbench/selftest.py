"""Self-test of the status-store reader.

    python3 perfbench/selftest.py

Runs a known ``mapInPandas`` noop write three times, each in its own span,
and checks that every span reads the same non-negative job and stage counts
and a non-zero "time to run Python workers". Also checks the parser of
rendered SQL metric values. Prints one JSON line; exits 1 on a failure.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import _cores, prepare_env, start_session, stop_session  # noqa: E402
from perfbench.spans import StatusStore, Tracer, parse_metric_value  # noqa: E402

REPEATS = 3


def _slow_double(batches):
    # sleeps so that "time to run Python workers" cannot round to 0 ms
    for pdf in batches:
        time.sleep(0.05)
        yield pd.DataFrame({"id": pdf["id"] * 2})


def check_parser() -> list[str]:
    cases = {
        "37 ms": 37.0,
        "1.5 s (0.2 s, 0.4 s, 0.6 s (stage 3.0: task 7))": 1500.0,
        "2.0 m": 120000.0,
        "960.0 B": 960.0,
        "1.5 KiB": 1536.0,
        "1,234": 1234.0,
    }
    return [f"parse {t!r}" for t, want in cases.items() if parse_metric_value(t) != want]


def main() -> int:
    work = prepare_env()
    failures = check_parser()
    spark = start_session(_cores(), work)
    try:
        tracer = Tracer(StatusStore(spark), _cores())
        df = spark.range(0, 40000, 1, 4)
        for i in range(REPEATS):
            with tracer.span("selftest", i, "action"):
                df.mapInPandas(_slow_double, "id long").write.format("noop").mode(
                    "overwrite").save()
        counts = [(s["jobs"], s["stages"]) for s in tracer.spans]
        if len(set(counts)) != 1:
            failures.append(f"job/stage counts differ across repeats: {counts}")
        if min(min(c) for c in counts) < 0 or counts[0][0] < 1:
            failures.append(f"job/stage counts out of range: {counts}")
        if any(s["py_run_ms"] <= 0 for s in tracer.spans):
            failures.append("py_run_ms is 0 on a mapInPandas write")
        if any(s["py_nodes"] != 1 for s in tracer.spans):
            failures.append("expected exactly one Python node per span")
        print(json.dumps({"ok": not failures, "failures": failures, "spans": tracer.spans}))
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
