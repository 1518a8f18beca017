"""The ``lake_ingest`` workload: file arrival -> harvest -> stream -> lake.

A seeded generator plays the remote side. It owns a ``file://`` tree and
a CSV source catalog; every tick it publishes new fixed-size files and
rewrites each source's page or listing to show only a rolling window of
recent files. The engine side of a tick is the paper's write path:

1. ``read_catalog`` + ``harvest_tasks`` turn the catalog into task lines,
   which (plus one malformed line) are renamed atomically into ``in/``;
2. ``start_lake_sink(file_task_stream(...))`` runs to completion;
3. ``read_lake_current`` is queried; it must show the tick's files.

The generator knows the expected lake content ``(route, file_name) ->
sha256`` and the expected quarantine IDs after every tick, so each tick
is checked exactly. Everything the generator writes derives from the
seed; nothing reads the wall clock.
"""

from __future__ import annotations

import hashlib
import os
import random
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta

# active sources per type, and how many of each point at missing paths
# (5% broken overall); the seed decides which source gets which slot
SOURCE_MIX = {"LINKS": (90, 4), "LINKS_OVERWRITE": (20, 1), "FTP_FILES": (50, 3), "DIRECT": (40, 2)}
N_INACTIVE = 4
FILES_PER_TICK = 1
OVERWRITE_FILES = 2  # fixed names a LINKS_OVERWRITE page re-serves each tick
FILE_BYTES = 4096
MAX_ATTEMPTS = 5  # run_downloader's default dead-letter bound
# untimed ticks before the timed ones: while the JVM compiles, stream
# time per tick falls from about 13 s (tick 0) and 10 s (tick 1) to 8 s
# (tick 2), then slowly; with one warm-up tick, tick 1 alone set the tail
WARM_TICKS = 2
# files a page or listing shows: the newest WINDOW published. The
# windows fill during the warm-up ticks, so every timed tick lists the
# same number of files
WINDOW = WARM_TICKS + 1
ROUTES = {
    "LINKS": "LINK",
    "LINKS_OVERWRITE": "LINKS_OVER",
    "FTP_FILES": "FTP_FILES",
    "DIRECT": "LINKS_DIRECT",
}
CLOCK0 = datetime(2024, 3, 1, 9, 0)


@dataclass
class Source:
    sid: str
    type: str
    active: int
    broken: bool
    utc_offset: int
    published: list[str] = field(default_factory=list)


class Remote:
    """The remote file tree, its catalog and the expected lake state."""

    def __init__(self, root: str, seed: int) -> None:
        self.root = root
        self.seed = seed
        self.rng = random.Random(seed)
        self.tick = -1
        self.expected: dict[tuple[str, str], str] = {}
        self.expected_quarantine: set[str] = set()
        self.listed = 0  # files the engine sees listed this tick
        self.fresh = 0  # of those, files not landed before
        self.broken_attempts = 0
        slots = [
            (t, k < n_broken)
            for t, (n, n_broken) in SOURCE_MIX.items()
            for k in range(n)
        ]
        self.rng.shuffle(slots)
        slots += [(self.rng.choice(list(SOURCE_MIX)), False) for _ in range(N_INACTIVE)]
        self.sources = [
            Source(
                sid=f"S{i:04d}",
                type=t,
                active=1 if i < len(slots) - N_INACTIVE else 0,
                broken=broken,
                utc_offset=self.rng.choice((-5, 0, 0, 1, 10)),
            )
            for i, (t, broken) in enumerate(slots)
        ]
        self.catalog_path = os.path.join(root, "catalog.csv")
        os.makedirs(root, exist_ok=True)
        with open(self.catalog_path, "w") as f:
            for s in self.sources:
                url, pattern = self._catalog_url(s)
                f.write(f"{s.sid},{url},HOURLY,,{s.active},,,{s.type},{pattern},{s.utc_offset}\r\n")

    # -- remote layout -------------------------------------------------
    def _dir(self, s: Source) -> str:
        return os.path.join(self.root, "remote", s.sid)

    def _catalog_url(self, s: Source) -> tuple[str, str]:
        d = self._dir(s)
        if s.broken:
            d = os.path.join(self.root, "remote", "gone", s.sid)
        if s.type in ("LINKS", "LINKS_OVERWRITE"):
            return f"file://{d}/index.html", "*"
        if s.type == "FTP_FILES":
            return f"file://{d}/", f"{s.sid}_*.bin"
        # DIRECT: one file per tick, named from the templated clock
        name = f"{s.sid}_{{year}}{{month}}{{day}}{{hour}}{{minute}}.bin"
        return (f"file://{d}/{name}" if not s.broken else f"file://{d}/missing.bin"), name

    def clock(self, tick: int) -> datetime:
        return CLOCK0 + timedelta(minutes=tick)

    def _payload(self, s: Source, name: str, version: int) -> bytes:
        return random.Random(f"{self.seed}:{s.sid}:{name}:{version}").randbytes(FILE_BYTES)

    def _write(self, path: str, data: bytes) -> str:
        tmp = path + ".part"
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
        return hashlib.sha256(data).hexdigest()

    # -- one tick --------------------------------------------------------
    def publish(self) -> None:
        """Publish the next tick's files and update the expected state."""
        self.tick += 1
        self.listed = self.fresh = 0
        for s in self.sources:
            if s.active != 1 or s.broken:
                continue
            d = self._dir(s)
            os.makedirs(d, exist_ok=True)
            route = ROUTES[s.type]
            if s.type == "DIRECT":
                t = self.clock(self.tick) + timedelta(hours=s.utc_offset)
                name = f"{s.sid}_{t:%Y%m%d%H%M}.bin"
                self.expected[(route, name)] = self._write(
                    os.path.join(d, name), self._payload(s, name, 0)
                )
                self.listed += 1
                self.fresh += 1
                continue
            if s.type == "LINKS_OVERWRITE":
                names = [f"{s.sid}_latest_{k}.bin" for k in range(OVERWRITE_FILES)]
                for name in names:
                    self.expected[(route, name)] = self._write(
                        os.path.join(d, name), self._payload(s, name, self.tick)
                    )
                new = names
                window = names
            else:
                start = len(s.published)
                new = [f"{s.sid}_{start + k:06d}.bin" for k in range(FILES_PER_TICK)]
                for name in new:
                    self.expected[(route, name)] = self._write(
                        os.path.join(d, name), self._payload(s, name, 0)
                    )
                s.published.extend(new)
                window = s.published[-WINDOW:]
                # the remote keeps only the window: older files rotate out
                for old in s.published[-WINDOW - FILES_PER_TICK : -WINDOW]:
                    os.remove(os.path.join(d, old))
            if s.type in ("LINKS", "LINKS_OVERWRITE"):
                links = "".join(f'<li><a href="{n}">{n}</a></li>\n' for n in window)
                body = f"<html><body><ul>\n{links}</ul></body></html>\n".encode()
                self._write(os.path.join(d, "index.html"), body)
            self.listed += len(window)
            self.fresh += len(new)
        # a broken source is quarantined once per tick until its retries
        # are exhausted, then dead-lettered and skipped
        broken = [s for s in self.sources if s.active == 1 and s.broken]
        self.broken_attempts = len(broken) if self.tick < MAX_ATTEMPTS else 0
        self.expected_quarantine.update(s.sid for s in broken)

    def task_file(self, in_dir: str, lines: list[str]) -> None:
        """Land the harvested task lines plus one malformed line as one
        file in ``in_dir``: written under a temporary name outside it,
        then renamed in, so the file source never sees a partial file."""
        bad = f'{{"ID": "broken-json-{self.tick}", "URL": '
        body = "\n".join(lines + [bad]) + "\n"
        self.expected_quarantine.add(
            "malformed:" + hashlib.sha256(bad.encode()).hexdigest()[:16]
        )
        staging = os.path.join(self.root, f"tasks_{self.tick:05d}.json")
        with open(staging, "w") as f:
            f.write(body)
        os.rename(staging, os.path.join(in_dir, f"tasks_{self.tick:05d}.json"))


def _tree_stats(*dirs: str) -> tuple[int, int]:
    """(parquet files under dirs[0], bytes of parquet under all dirs)."""
    n_files = n_bytes = 0
    for i, d in enumerate(dirs):
        for base, _, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet"):
                    n_bytes += os.path.getsize(os.path.join(base, f))
                    n_files += i == 0
    return n_files, n_bytes


def _progress(q) -> tuple[float, float, int]:
    """(addBatch s, triggerExecution s, input rows) over the query's batches."""
    add = trigger = rows = 0
    for p in q.recentProgress:
        add += p.durationMs.get("addBatch", 0)
        trigger += p.durationMs.get("triggerExecution", 0)
        rows += p.numInputRows
    return add / 1e3, trigger / 1e3, rows


class LakeIngest:
    """Drives ticks against one Remote; records per-layer figures."""

    def __init__(self, work_dir: str, seed: int, ticks: int) -> None:
        self.ticks = ticks
        self.remote = Remote(os.path.join(work_dir, "site"), seed)
        self.in_dir = os.path.join(work_dir, "in")
        self.lake = os.path.join(work_dir, "lake")
        self.manifest = os.path.join(work_dir, "manifest")
        self.quarantine = os.path.join(work_dir, "quarantine")
        self.ckpt = os.path.join(work_dir, "ckpt")
        os.makedirs(self.in_dir, exist_ok=True)
        self.layers: dict[str, float] = {}
        self.lake_rows = 0
        self.manifest_rows = 0
        self.quarantine_rows = 0
        self.fetch_failed_rows = 0
        self.bytes_base = 0
        self.freshness: list[float] = []
        self.landed = 0

    def warm_up(self, spark) -> list[str | None]:
        """Untimed ticks. The first creates the lake, manifest and
        quarantine; all of them run while the JVM is still compiling the
        tick's code paths, which makes them the slowest ticks by far."""
        errs = [self.tick(spark, traced=False)[2] for _ in range(WARM_TICKS)]
        self.bytes_base = _tree_stats(self.lake, self.manifest, self.quarantine)[1]
        return errs

    def measure(self, spark, traced: bool) -> list[str | None]:
        """Run the timed ticks; one check result per tick."""
        checked = []
        for _ in range(self.ticks):
            freshness, landed, err = self.tick(spark, traced)
            self.freshness.append(freshness)
            self.landed += landed
            checked.append(err)
        return checked

    def samples(self) -> tuple[list[float], int]:
        """(per-tick freshness seconds, files landed)."""
        return self.freshness, self.landed

    def _add(self, key: str, v: float) -> None:
        self.layers[key] = self.layers.get(key, 0.0) + v

    def tick(self, spark, traced: bool) -> tuple[float, int, str | None]:
        """One tick. Returns (freshness seconds, files landed, error)."""
        from etl_marketdata_downloader_archived_spark.plans.downloader import (
            read_lake_current,
        )
        from etl_marketdata_downloader_archived_spark.plans.harvester import harvest_tasks
        from etl_marketdata_downloader_archived_spark.sources.catalog import read_catalog
        from etl_marketdata_downloader_archived_spark.streaming.file_source import (
            file_task_stream,
            start_lake_sink,
        )

        r = self.remote
        r.publish()
        t_pub = time.perf_counter()
        sc = spark.sparkContext
        if traced:
            sc.setJobGroup(f"harvest:{r.tick}", "harvest")
        catalog = read_catalog(spark, r.catalog_path)
        t_cat = time.perf_counter()
        tasks = harvest_tasks(catalog, "HOURLY", now=r.clock(r.tick))
        t_plan = time.perf_counter()
        lines = [row.task_json for row in tasks.select("task_json").collect()]
        r.task_file(self.in_dir, lines)
        t_harvest = time.perf_counter()
        if traced:
            sc.setJobGroup(f"stream:{r.tick}", "stream")
        q = start_lake_sink(
            file_task_stream(spark, self.in_dir),
            self.lake,
            self.manifest,
            self.ckpt,
            quarantine_dir=self.quarantine,
        )
        q.awaitTermination()
        err = q.exception()
        t_stream = time.perf_counter()
        if err is not None:
            return t_stream - t_pub, 0, f"stream failed: {err}"
        if traced:
            sc.setJobGroup(f"read:{r.tick}", "read")
        got = {
            (row.route, row.file_name): row.content_hash
            for row in read_lake_current(spark, self.lake)
            .select("route", "file_name", "content_hash")
            .collect()
        }
        t_read = time.perf_counter()
        freshness = t_read - t_pub
        error = None
        if got != r.expected:
            missing = len(set(r.expected.items()) - set(got.items()))
            extra = len(set(got.items()) - set(r.expected.items()))
            error = f"lake differs: {missing} expected rows missing, {extra} unexpected"
        # untimed checks and per-layer counts
        if traced:
            sc.setJobGroup(f"check:{r.tick}", "check")
        lake_rows = spark.read.parquet(self.lake).count()
        landed = lake_rows - self.lake_rows
        self.lake_rows = lake_rows
        if error is None and landed != r.fresh:
            # the manifest anti-join must keep already-landed files out
            error = f"{landed} files appended to the lake, expected {r.fresh}"
        manifest_rows = spark.read.parquet(self.manifest).count()
        fetch_ok = manifest_rows - self.manifest_rows
        self.manifest_rows = manifest_rows
        qrows = spark.read.parquet(self.quarantine).select("ID", "REASON").collect()
        if error is None and {row.ID for row in qrows} != r.expected_quarantine:
            error = "quarantine IDs differ from the generator's expectation"
        new_q = len(qrows) - self.quarantine_rows
        self.quarantine_rows = len(qrows)
        # page, listing and file fetch errors; the malformed task line
        # is quarantined with a "malformed ..." reason and is no fetch
        failed_rows = sum(not row.REASON.startswith("malformed") for row in qrows)
        fetch_failed = failed_rows - self.fetch_failed_rows
        self.fetch_failed_rows = failed_rows
        if error is None and new_q != r.broken_attempts + 1:
            error = f"{new_q} quarantine rows this tick, expected {r.broken_attempts + 1}"
        print(
            f"  tick {r.tick} harvest {t_harvest - t_pub:.3f} stream {t_stream - t_harvest:.3f} "
            f"read {t_read - t_stream:.3f}",
            file=sys.stderr,
        )
        if traced:
            add_batch_s, trigger_s, input_rows = _progress(q)
            n_files, n_bytes = _tree_stats(self.lake, self.manifest, self.quarantine)
            self._add("plans.build_s", t_plan - t_cat)
            self._add("sources.read_catalog_s", t_cat - t_pub)
            self._add("harvest.s", t_harvest - t_pub)
            self._add("exec.s", t_read - t_harvest)
            self._add("stream.add_batch_s", add_batch_s)
            self._add("stream.overhead_s", trigger_s - add_batch_s)
            self._add("stream.input_rows", input_rows)
            self._add("downloader.landed", landed)
            self._add("downloader.listed", r.listed)
            self._add("downloader.quarantined", new_q)
            self._add("sources.fetch_ok", fetch_ok)
            self._add("sources.fetch_failed", fetch_failed)
            self._add("io.lake_read_s", t_read - t_stream)
            self.layers["io.lake_files"] = n_files
            self.layers["io.bytes_written"] = n_bytes - self.bytes_base
            sc.setJobGroup("idle", "idle")
        return freshness, landed, error
