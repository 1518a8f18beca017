"""The ``sql_window`` workload: the analyst's short-query path.

One closed-loop client runs a fixed list of registered queries in an
order permuted by the seed, on generated tables of the sf0.01 shape,
after an untimed warm-up pass. Each query is timed from the call into its
builder ``fn(spark, sf_dir)`` until its result has been delivered to the
client as an Arrow table (``DataFrame.toArrow``), then ``clearCache()``
runs between queries, as in ``bench.py``. After the timing, the
delivered result is fingerprinted (row count plus an order-insensitive
hash of canonicalized rows, via ``tools/parity.py``) and compared with
``fingerprints.json``, recorded from the same generated tables. Checking
the delivered result, instead of re-running the query after a noop-sink
action, keeps each query to one execution.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys
import time

# Every fourth query of the first 50 registered (the driver-certified
# window), plus sim_topk, the one query of the window whose builder runs
# a Spark job. Short analyst queries whose cost is mostly per-query
# fixed cost: driver-side plan construction, load_table, job scheduling.
SQL_WINDOW = [
    "scan_parquet", "join_semi_anti", "agg_stats", "decimal_agg", "win_frames",
    "date_funcs", "subq_family", "udaf_grouped", "dedup_exact", "sim_topk",
    "text_analysis", "funnel_cohort", "task_codec", "dlq_filter",
]

FINGERPRINTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fingerprints.json")


def fingerprint(table) -> dict:
    """Row count and order-insensitive hash of the canonicalized rows of
    an Arrow result table."""
    from tools.parity import row_multiset

    cols = table.column_names
    rows = list(zip(*(c.to_pylist() for c in table.columns))) if cols else []
    ms = row_multiset(cols, rows)
    h = hashlib.sha256()
    for key in sorted(ms):
        h.update(f"{key}\t{ms[key]}\n".encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def _catalyst_s(df) -> float:
    """Catalyst phase time (analysis, optimization, planning) of the
    DataFrame's own QueryExecution, forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    it = phases.keys().iterator()
    total = 0
    while it.hasNext():
        total += phases.get(it.next()).get().durationMs()
    return total / 1e3


def _retained_block_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class SqlWindow:
    def __init__(self, sf_dir: str, seed: int, passes: int) -> None:
        from etl_marketdata_downloader_archived_spark.plans import registry

        registered = registry.all_queries()
        missing = [q for q in SQL_WINDOW if q not in registered]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.fns = {q: registered[q] for q in SQL_WINDOW}
        self.sf_dir = sf_dir
        order = list(SQL_WINDOW)
        random.Random(seed).shuffle(order)
        self.order = order
        self.passes = passes
        with open(FINGERPRINTS) as f:
            self.expected = json.load(f)
        self.layers: dict[str, float] = {}
        self.latencies: dict[str, list[float]] = {}

    def warm_up(self, spark) -> list[str | None]:
        """Untimed warm-up: one pass over every query. The JVM loads and
        compiles, and the Python workers start, on the code paths the
        timed passes run."""
        for name in self.order:
            self.fns[name](spark, self.sf_dir).toArrow()
            spark.catalog.clearCache()
        return []

    def _add(self, key: str, v: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + v

    def measure(self, spark, traced: bool) -> list[str | None]:
        """Run the timed passes; one check result per query run."""
        checked = []
        for p in range(self.passes):
            for name in self.order:
                latency, error = self._run_one(spark, name, f"{p}:{name}", traced)
                self.latencies.setdefault(name, []).append(latency)
                checked.append(error)
                print(f"  pass {p} {name:<24} {latency:8.3f}", file=sys.stderr)
        if traced:
            self.layers["exec.retained_block_mb"] = _retained_block_mb(spark)
        return checked

    def samples(self) -> tuple[list[float], int]:
        """Each query's latency is its minimum over the run's interleaved
        passes (bench.py's min-of-n), which drops one-off stalls of a
        single execution. Returns (latencies, queries)."""
        return [min(v) for v in self.latencies.values()], len(self.latencies)

    def _run_one(self, spark, name: str, tag: str, traced: bool) -> tuple[float, str | None]:
        sc = spark.sparkContext
        if traced:
            sc.setJobGroup(f"build:{tag}", name)
        t0 = time.perf_counter()
        try:
            df = self.fns[name](spark, self.sf_dir)
            t1 = t_act = time.perf_counter()
            if traced:
                # untimed: force and read the Catalyst phases
                self._add("exec.catalyst_s", _catalyst_s(df))
                sc.setJobGroup(f"exec:{tag}", name)
                t_act = time.perf_counter()
            result = df.toArrow()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - a failed query is a counted failure
            return time.perf_counter() - t0, f"{name}: {type(exc).__name__}: {exc}"
        finally:
            if traced:
                sc.setJobGroup("idle", "idle")
            spark.catalog.clearCache()
        if traced:
            self._add("plans.build_s", t1 - t0)
            self._add("exec.s", t2 - t_act)
        return (t1 - t0) + (t2 - t_act), self.check(name, result)

    def check(self, name: str, result) -> str | None:
        want = self.expected[name]
        got = fingerprint(result)
        if got["rows"] != want["rows"]:
            return f"{name}: {got['rows']} rows, expected {want['rows']}"
        if got["sha256"] != want["sha256"]:
            return f"{name}: result hash differs from the recorded fingerprint"
        return None
