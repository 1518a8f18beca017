"""Record ``fingerprints.json``: the expected result of every query the
sql_window workload runs, on the generated tables.

Each query runs on ``local[N]`` and on ``local[1]``; the recording
fails if a query's result differs between the two, so every recorded
fingerprint is independent of parallelism.

Usage (from the repository root): python3 perfbench/record_fingerprints.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.ROOT, ".perfbench_work", f"record-{os.getpid()}")
    os.makedirs(work)
    try:
        run.prepare_env(work, len(os.sched_getaffinity(0)))
        import gen_tables
        import sql_window

        from etl_marketdata_downloader_archived_spark.plans import registry
        from etl_marketdata_downloader_archived_spark.session import get_spark

        sf_dir = os.path.join(work, "tables")
        gen_tables.write_tables(sf_dir)
        names = sql_window.SQL_WINDOW
        fns = registry.all_queries()
        runs = []
        for cpus in (len(os.sched_getaffinity(0)), 1):
            spark = get_spark(
                "perfbench-record",
                master=f"local[{cpus}]",
                shuffle_partitions=cpus,
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
            got = {}
            for n in names:
                got[n] = sql_window.fingerprint(fns[n](spark, sf_dir).toArrow())
                spark.catalog.clearCache()
                print(cpus, n, got[n], flush=True)
            run.stop_spark(spark)
            runs.append(got)
        out = {}
        for n in names:
            a, b = runs[0][n], runs[1][n]
            if a != b:
                raise RuntimeError(f"{n}: result depends on parallelism ({a} vs {b})")
            out[n] = a
        with open(sql_window.FINGERPRINTS, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
