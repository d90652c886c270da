"""``replication``: the Data Transfer replication keeping the ledger fresh,
open loop at a fixed batch rate.

Set-up pre-generates a seeded sequence of CDC batches (hits appends,
visits ledger batches with late versions) in a staging directory.  A
timer thread lands each batch on schedule by atomic rename into the
feed directories.  The replicator loop drains as soon as unconsumed
files exist -- ``streaming.cdc.start_append_stream`` (hits) and
``start_ledger_stream`` (visits) side by side, availableNow, persistent
checkpoints -- then runs the verbatim visits chart over the warehouse
as a freshness probe.  Every ``EXPORT_EVERY`` batches it offloads one
closed day of hits through the verbatim S3-export script
(``plans.chsql.run_script``).  A final catch-up phase lands three
backlogs of 16 batches, one at a time, and drains each in one go.

``warehouse.compact_partitions`` is deliberately not part of the loop:
on a ``streaming.cdc`` sink it rewrites files that the sink's
``_spark_metadata`` log still lists, and every later read fails with
FileNotFoundException (README.md, "Compaction").
"""

from __future__ import annotations

import glob
import gzip
import json
import os
import threading
import time
from statistics import median

from . import gen
from .common import log, tail_percentile

RATE = 6.0  # batches per second, open loop
OPEN_SHARE = 0.7  # of --seconds spent in the open loop; the rest is catch-up
CATCHUP = (16, 16, 16)  # backlogs landed at once, each drained in one go
EXPORT_EVERY = 16  # consumed batches between two exports of a closed day
WARM_BATCHES = 8
PROBE_DAYS = 10
TABLE = "metrica_copy.visits_<id трансфера>"
HITS_TABLE = "hits_<id трансфера>"


def export_script(script: str, day: str) -> str:
    """The verbatim S3-export script with its dates moved to ``day`` and
    one INSERT (one closed day per export)."""
    out = []
    for line in script.splitlines():
        if line.lower().startswith("insert into") and "'2023-11-01'" not in line:
            continue
        out.append(line.replace("2023-11-01", day).replace("2023-11-03", day))
    return "\n".join(out)


def consumed(checkpoint: str) -> set[str]:
    """Basenames of the files a file-stream checkpoint has committed."""
    names: set[str] = set()
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    names.add(os.path.basename(json.loads(line)["path"]))
    return names


class Lander(threading.Thread):
    """Lands batch ``b`` at ``t0 + b / RATE`` by renaming its staged files
    into the feed directories; records landing time and lateness."""

    def __init__(self, batches, feeds, t0: float, first: int, last: int, rate: float | None):
        super().__init__(daemon=True)
        self.batches, self.feeds, self.t0 = batches, feeds, t0
        self.first, self.last, self.rate = first, last, rate
        self.due: dict[int, float] = {}
        self.landed: dict[int, float] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for b in range(self.first, self.last):
                due = self.t0 + ((b - self.first) / self.rate if self.rate else 0.0)
                wait = due - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                batch = self.batches[b]
                for kind in ("hits", "visits"):
                    src = batch[f"{kind}_file"]
                    os.rename(src, os.path.join(self.feeds[kind], os.path.basename(src)))
                self.due[b] = due
                self.landed[b] = time.perf_counter()
        except BaseException as ex:  # surfaced by the replicator loop
            self.error = ex


class Replication:
    def __init__(self, session, tracer, tmp: str, seed: int, seconds: float):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark import schemas
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import driver
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.streaming import cdc

        self.chsql, self.warehouse, self.cdc, self.driver = chsql, warehouse, cdc, driver
        self.visits_schema = schemas.VISITS_SCHEMA
        self.hits_schema = None  # read from the generated files in set-up
        self.session, self.tr, self.tmp, self.seed = session, tracer, tmp, seed
        self.n_open = int(seconds * OPEN_SHARE * RATE) + 1
        self.spark = None
        self.layer: dict[str, float] = {}
        self.exports: list[dict] = []
        self.drains: list[dict] = []
        self.probes: list[dict] = []

    # ------------------------------------------------------------ layout
    def _dirs(self, root: str) -> dict:
        d = {k: os.path.join(root, k) for k in ("feed_hits", "feed_visits", "wh_hits", "wh_visits", "ck_hits", "ck_visits", "s3")}
        for k in ("feed_hits", "feed_visits", "s3"):
            os.makedirs(d[k], exist_ok=True)
        return d

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Session, batch generation and one untimed pass of the
        operation mix (drain, probe, export) on a scratch feed; returns
        its wall time."""
        t0 = time.perf_counter()
        with self.tr.span("session.start"):
            self.spark = self.session.start()
        self.tr.spark = self.spark
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.feed = gen.CdcFeed(self.seed, os.path.join(self.tmp, "stage"))
        self.feed.make(self.n_open + sum(CATCHUP))
        self.hits_schema = self.spark.read.parquet(self.feed.batches[0]["hits_file"]).schema
        t1 = time.perf_counter()
        warm = gen.CdcFeed(self.seed + 7919, os.path.join(self.tmp, "warmstage"))
        warm.make(WARM_BATCHES)
        d = self._dirs(os.path.join(self.tmp, "warm"))
        feeds = {"hits": d["feed_hits"], "visits": d["feed_visits"]}
        for lo in range(0, WARM_BATCHES, 2):
            Lander(warm.batches, feeds, t1, lo, lo + 2, None).run()
            self._drain(d)
            self._probe(d, warm, lo + 2)
        self._export(d, warm, 0)
        self.exports.clear()
        self.drains.clear()
        self.probes.clear()
        self.layer["session.warm_s"] = time.perf_counter() - t1
        return time.perf_counter() - t0

    # --------------------------------------------------------- operations
    def _drain(self, d: dict) -> dict:
        """One availableNow drain of both streams, side by side as two
        transfers run; returns the consumed batch prefixes and the
        progress breakdown."""
        rec = {"wall": 0.0, "trigger": 0.0, "add_batch": 0.0, "plan": 0.0, "commit": 0.0, "offsets": 0.0, "rows": 0, "batches": 0}
        t0 = time.perf_counter()
        with self.tr.span("streaming.drain") as span:
            queries = {
                kind: start(self.spark, d[f"feed_{kind}"], schema, d[f"wh_{kind}"], d[f"ck_{kind}"], date_col)
                for kind, start, schema, date_col in (
                    ("hits", self.cdc.start_append_stream, self.hits_schema, "EventDate"),
                    ("visits", self.cdc.start_ledger_stream, self.visits_schema, "StartDate"),
                )
            }
            if span is not None:
                span["groups"] = [str(q.runId) for q in queries.values()]
            try:
                for q in queries.values():
                    q.awaitTermination()
            except Exception:
                for q in queries.values():  # leave no stream running
                    q.stop()
                raise
        rec["wall"] = time.perf_counter() - t0
        prefix = {}
        for kind, q in queries.items():
            if q.exception() is not None:
                raise RuntimeError(f"{kind} stream failed: {q.exception()}")
            trigger = 0.0
            for p in q.recentProgress:
                dm = p.durationMs
                trigger += dm.get("triggerExecution", 0) / 1e3
                rec["add_batch"] += dm.get("addBatch", 0) / 1e3
                rec["plan"] += dm.get("queryPlanning", 0) / 1e3
                rec["commit"] += (dm.get("walCommit", 0) + dm.get("commitOffsets", 0)) / 1e3
                rec["offsets"] += (dm.get("latestOffset", 0) + dm.get("getBatch", 0)) / 1e3
                rec["rows"] += p.numInputRows
                rec["batches"] += 1 if p.numInputRows else 0
            # the streams overlap: the drain's critical path is the one
            # that spent longer in its micro-batches
            rec["trigger"] = max(rec["trigger"], trigger)
            names = consumed(d[f"ck_{kind}"])
            n = len(names)
            if names != {f"b{b:05d}.parquet" for b in range(n)}:
                raise RuntimeError(f"{kind} stream consumed a non-prefix batch set")
            prefix[kind] = n
        rec["prefix"] = prefix
        self.drains.append(rec)
        return rec

    def _probe(self, d: dict, feed, n_visits: int) -> float:
        """The verbatim visits chart over the last PROBE_DAYS days of the
        replicated ledger; records the answer for the freshness check."""
        last = max(b["day"] for b in feed.batches[:n_visits])
        f, t = gen.day_of(last - PROBE_DAYS + 1).isoformat(), gen.day_of(last).isoformat()
        wh = self.warehouse
        with self.tr.span("warehouse.read"):
            df = wh.prune_weeks(wh.read_table(self.spark, d["wh_visits"]), f, t)
        params = {"interval_from": f"DATE '{f}'", "interval_to": f"DATE '{t}'"}
        with self.tr.span("plans.compile", kind="visits"):
            out = self.chsql.run_sql(self.spark, self.driver._CHSQL_VISITS_SQL, {TABLE: df}, params)
        with self.tr.span("plans.exec", kind="visits"):
            rows = out.collect()
        self.probes.append({"feed": feed, "n": n_visits, "last": last, "rows": [tuple(r) for r in rows], "weeks": (f, t), "dir": d["wh_visits"]})
        return time.perf_counter()

    def _export(self, d: dict, feed, day: int) -> None:
        day_s = gen.day_of(day).isoformat()
        url_dir = os.path.join(d["s3"], f"export{len(self.exports)}")
        script = export_script(self.driver._CHSQL_S3_SCRIPT, day_s)
        wh = self.warehouse
        t0 = time.perf_counter()
        with self.tr.span("plans.script"):
            hits = wh.prune_weeks(wh.read_table(self.spark, d["wh_hits"]), day_s, day_s)
            res = self.chsql.run_script(self.spark, script, {HITS_TABLE: hits}, {self.driver._CHSQL_S3_URL: url_dir})
            rows = [tuple(r) for r in res.collect()]
        wall = time.perf_counter() - t0
        want = sum(b["hits_rows"] for b in feed.batches if b["day"] == day)
        self.exports.append({"day": day, "rows": rows, "want": want, "dir": url_dir, "wall": wall})

    # --------------------------------------------------------------- run
    def run(self, seconds: float, trace: bool) -> dict:
        d = self._dirs(os.path.join(self.tmp, "live"))
        feeds = {"hits": d["feed_hits"], "visits": d["feed_visits"]}
        lander = Lander(self.feed.batches, feeds, time.perf_counter() + 0.05, 0, self.n_open, RATE)
        lander.start()
        included: dict[int, tuple[float, int]] = {}  # batch -> (probe end, cycle)
        done_min = 0
        next_export, exported_day = EXPORT_EVERY, 0
        failed = cycle = 0
        try:
            while True:
                if lander.error is not None:
                    raise lander.error
                alive = lander.is_alive()  # read before the count: no batch slips past
                if len(lander.landed) <= done_min:
                    if not alive:
                        break
                    time.sleep(0.005)
                    continue
                # traced runs alternate traced and untraced cycles, so the
                # tracing overhead is measured on the same warm session
                self.tr.enabled = trace and cycle % 2 == 0
                self.tr.op = cycle
                rec = self._drain(d)
                rec["traced"] = self.tr.enabled
                done_min = min(rec["prefix"].values())
                try:
                    end = self._probe(d, self.feed, rec["prefix"]["visits"])
                except Exception as ex:  # counted, the loop goes on
                    log(f"probe failed: {ex!r}")
                    failed += 1
                    end = None
                if end is not None:
                    for b in range(done_min):
                        included.setdefault(b, (end, cycle))
                if rec["prefix"]["hits"] >= next_export:
                    next_export += EXPORT_EVERY
                    # the oldest day whose hits batches are all consumed
                    if exported_day < self.feed.day_of_batch(rec["prefix"]["hits"]):
                        try:
                            self._export(d, self.feed, exported_day)
                        except Exception as ex:
                            log(f"export failed: {ex!r}")
                            failed += 1
                        exported_day += 1
                cycle += 1
                self.tr.enabled = False
            # catch-up: backlogs landed at once, each drained in one go
            catchup = []  # rows/s of each backlog
            lo = self.n_open
            for size in CATCHUP:
                back = Lander(self.feed.batches, feeds, time.perf_counter(), lo, lo + size, None)
                back.run()
                if back.error is not None:
                    raise back.error
                lo += size
                self.tr.enabled = trace
                self.tr.op = cycle
                c0 = time.perf_counter()
                rec = self._drain(d)
                rows = sum(b["hits_rows"] + b["visits_rows"] for b in self.feed.batches[lo - size : lo])
                catchup.append(rows / (time.perf_counter() - c0))
                rec["traced"] = self.tr.enabled
                self.tr.enabled = False
                cycle += 1
                self._probe(d, self.feed, rec["prefix"]["visits"])
        finally:
            self.tr.enabled = False
            lander.join(timeout=60)
        if min(rec["prefix"].values()) != self.n_open + sum(CATCHUP):
            log("catch-up drain left batches behind")
            failed += 1
        lag = {b: included[b][0] - lander.due[b] for b in range(self.n_open) if b in included}
        failed += self.n_open - len(lag)
        failed += self.check()
        attempted = self.n_open + len(self.probes) + len(self.exports) + len(CATCHUP)
        if (tail_percentile(len(lag)) or 0) < 75:
            log(f"replication: {len(lag)} batches, so p75 lag has fewer than 10 beyond it")
        if trace:
            traced_lag = [v for b, v in lag.items() if included[b][1] % 2 == 0]
            plain_lag = [v for b, v in lag.items() if included[b][1] % 2 == 1]
            return self.layer_metrics(d, lander, traced_lag, plain_lag, attempted, failed)
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "latency_s": (median(list(lag.values())), "s"),
                "throughput_per_s": (median(catchup), "1/s"),
            },
        }

    # ------------------------------------------------------------ checks
    def check(self) -> int:
        """Freshness probes against the generator's running truth, export
        reconciliation and per-file row counts; returns wrong answers."""
        from . import oracle

        wrong = 0
        for p in self.probes:
            feed, n, last = p["feed"], p["n"], p["last"]
            days: dict[int, int] = {}
            for b in feed.batches[:n]:
                for day, s in b["sign_by_day"].items():
                    days[day] = days.get(day, 0) + s
            lo = last - PROBE_DAYS + 1
            detail = sorted((d, s) for d, s in days.items() if lo <= d <= last and s >= 0)[:10]
            total = sum(s for d, s in days.items() if lo <= d <= last)
            want = oracle.normalize("visits", [(gen.day_of(d), s) for d, s in detail] + [(None, total)])
            if oracle.normalize("visits", p["rows"]) != want:
                wrong += 1
                log(f"stale or wrong probe after {n} batches")
        for e in self.exports:
            ok = sorted(e["rows"]) == [("ch", e["want"]), ("s3", e["want"])]
            files = glob.glob(os.path.join(e["dir"], "*.csv.gz"))
            e["files"] = len(files)
            e["bytes"] = sum(os.path.getsize(f) for f in files)
            lines = 0
            for f in files:
                with gzip.open(f, "rt") as fh:
                    lines += sum(1 for _ in fh) - 1  # header
            if not ok or len(files) != 1 or lines != e["want"]:
                wrong += 1
                log(f"export of day {e['day']} does not reconcile: {e['rows']} {len(files)} files {lines} rows")
        return wrong

    # ------------------------------------------------------------ traced
    def layer_metrics(self, d, lander, traced_lag, plain_lag, attempted, failed) -> dict:
        from .common import files_under

        tr = self.tr
        m = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "session.warm_s": (self.layer["session.warm_s"], "s"),
            "trace.overhead_p50_s": (median(traced_lag) - median(plain_lag), "s"),
        }
        drains = [r for r in self.drains if r.get("traced")]
        for key, name in (
            ("wall", "streaming.drain_s"),
            ("add_batch", "streaming.add_batch_s"),
            ("plan", "streaming.plan_s"),
            ("commit", "streaming.commit_s"),
            ("offsets", "streaming.offsets_s"),
        ):
            m[name] = (median([r[key] for r in drains]), "s")
        m["streaming.startup_s"] = (median([r["wall"] - r["trigger"] for r in drains]), "s")
        m["streaming.rows_in"] = (median([r["rows"] for r in drains]), "count")
        m["streaming.micro_batches"] = (median([r["batches"] for r in drains]), "count")
        m["warehouse.read_s"] = (median(list(tr.per_op("warehouse.read").values())), "s")
        m["warehouse.files_read"] = (
            median([files_under(p["dir"], *p["weeks"]) for p in self.probes]), "count"
        )
        weeks = files = size = 0
        for kind in ("hits", "visits"):
            for wd in glob.glob(os.path.join(d[f"wh_{kind}"], "_week=*")):
                weeks += 1
                for f in glob.glob(os.path.join(wd, "*.parquet")):
                    files += 1
                    size += os.path.getsize(f)
        rows = sum(b["hits_rows"] + b["visits_rows"] for b in self.feed.batches)
        m["warehouse.files_per_week"] = (files / max(1, weeks), "count")
        m["warehouse.bytes_per_row"] = (size / rows, "bytes")
        for part in ("compile", "exec"):
            vals = list(tr.per_op(f"plans.{part}").values())
            m[f"plans.{part}_s"] = (median(vals), "s")
            m[f"plans.{part}_s.visits"] = (median(vals), "s")
        m["plans.script_s"] = (median(list(tr.per_op("plans.script").values()) or [0.0]), "s")
        ex = self.exports
        m["csvgz.files_written"] = (median([e["files"] for e in ex]), "count")
        m["csvgz.bytes_per_row"] = (sum(e["bytes"] for e in ex) / sum(e["want"] for e in ex), "bytes")
        m["csvgz.export_rows_per_s"] = (sum(e["want"] for e in ex) / sum(e["wall"] for e in ex), "rows/s")
        late = [lander.landed[b] - lander.due[b] for b in lander.landed]
        m["gen.lateness_s"] = (median(late), "s")
        m["gen.lateness_max_s"] = (max(late), "s")
        m.update({k: (v, "count") for k, v in tr.spark_per_op().items()})
        return {"attempted": attempted, "failed": failed, "metrics": m}
