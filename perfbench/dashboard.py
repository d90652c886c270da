"""``dashboard``: DataLens viewers waiting on charts, closed loop, 1 client.

Set-up writes a seeded visits sign ledger into the weekly-partitioned
warehouse (sort key + SAMPLE BY key).  Each request reads the table
through ``warehouse.read_table`` + ``prune_weeks``, compiles one chart
with ``plans.chsql.run_sql`` and collects it.  The chart mix is the
verbatim visits chart, the verbatim traffic-sources chart, a
``FROM visits FINAL`` chart, a ``SAMPLE 1/10`` chart and a chart that
names each counter through an ``ANY LEFT JOIN`` on a counter dimension
table and ``JSONExtractString`` of its JSON params; the
``{{interval_from}}/{{interval_to}}`` pair is drawn by seed from a Zipf
distribution over a fixed set of intervals (1 day to 13 weeks) and
shared by the 5 charts of a dashboard view, so both the scanned working
set and how often a query text repeats vary.
"""

from __future__ import annotations

import os
import time
from statistics import median

import duckdb
import numpy as np

from . import gen, oracle
from .common import files_under, log, tail_percentile

N_VISITS = 40_000
N_DAYS = 182  # 26 weekly partitions
WARM_REQUESTS = 15  # three whole dashboard views
TABLE = "metrica_copy.visits_<id трансфера>"

# (first day, last day) offsets from gen.DAY0, in Zipf rank order:
# recent short windows are the popular ones
INTERVALS = [
    (175, 181), (181, 181), (154, 181), (91, 181), (168, 181), (180, 181),
    (140, 181), (0, 6), (63, 153), (100, 120), (30, 30), (0, 90),
]
ZIPF_S = 1.1
KINDS = ("visits", "traffic", "final", "sample", "join")

FINAL_SQL = """
SELECT StartDate AS `ym:s:date`,
       count(1) AS `ym:s:visits`,
       sum(PageViews) AS `ym:s:pageviews`,
       uniqExact(CounterUserIDHash) AS `ym:s:users`
FROM visits FINAL
WHERE `ym:s:date` >= {{interval_from}} AND `ym:s:date` <= {{interval_to}}
GROUP BY `ym:s:date`
ORDER BY `ym:s:date` ASC
"""

SAMPLE_SQL = """
SELECT StartDate AS `ym:s:date`,
       sum(Sign) AS `ym:s:visits`,
       uniqExact(CounterUserIDHash) AS `ym:s:users`
FROM visits SAMPLE 1/10
WHERE `ym:s:date` >= {{interval_from}} AND `ym:s:date` <= {{interval_to}}
GROUP BY `ym:s:date`
ORDER BY `ym:s:date` ASC
"""

JOIN_SQL = """
SELECT JSONExtractString(c.Params, 'name') AS `ym:s:counterName`,
       sum(v.Sign) AS `ym:s:visits`,
       uniqExact(v.CounterUserIDHash) AS `ym:s:users`
FROM visits v ANY LEFT JOIN counters c ON v.CounterID = c.CounterID
WHERE v.StartDate >= {{interval_from}} AND v.StartDate <= {{interval_to}}
GROUP BY `ym:s:counterName`
ORDER BY `ym:s:counterName` ASC
"""


def request_mix(seed: int, n: int) -> list[tuple[str, int]]:
    """Seeded sequence of chart requests, grouped in dashboard views.

    A view picks one interval and requests the 5 chart kinds for it in a
    seeded order: a DataLens dashboard whose charts share one date
    selector.  Views draw intervals by Zipf share with low discrepancy:
    view ``j`` takes the interval furthest behind its share after ``j``
    views, plus up to half a view of seeded jitter.  Every prefix of the
    sequence then holds the Zipf shares to within about one view, and
    every chart kind sees the same intervals, while the order still
    varies with the seed.  Runs of a few dozen requests on different
    seeds stay comparable."""
    rng = np.random.default_rng([seed, 4])
    w = 1.0 / np.arange(1, len(INTERVALS) + 1) ** ZIPF_S
    share = w / w.sum()
    taken = np.zeros(len(INTERVALS))
    out: list[tuple[str, int]] = []
    while len(out) < n:
        iv = int(np.argmax(share * (taken.sum() + 1) - taken + rng.uniform(0, 0.5, len(share))))
        taken[iv] += 1
        out.extend((KINDS[k], iv) for k in rng.permutation(len(KINDS)))
    return out[:n]


def _date(off: int) -> str:
    return gen.day_of(off).isoformat()


class Dashboard:
    def __init__(self, session, tracer, tmp: str, seed: int):
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.plans import chsql
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.queries import driver, metrica
        from yc_data_transfer_clickhouse_from_yandex_metrica_spark.sources import warehouse

        self.chsql, self.metrica, self.warehouse = chsql, metrica, warehouse
        self.sql = {
            "visits": (driver._CHSQL_VISITS_SQL, TABLE),
            "traffic": (driver._CHSQL_TRAFFIC_SQL, TABLE),
            "final": (FINAL_SQL, "visits"),
            "sample": (SAMPLE_SQL, "visits"),
            "join": (JOIN_SQL, "visits"),
        }
        self.meta = {"visits": chsql.table_meta_from_ddl(gen.VISITS_DDL)}
        self.session, self.tr, self.tmp, self.seed = session, tracer, tmp, seed
        self.spark = None
        self.path = None
        self.ledger = None
        self.counters_path = None
        self.counters = None
        self.layer: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Session, ledger and counter table generation, warehouse write
        and WARM_REQUESTS untimed requests; returns its wall time."""
        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("session.start"):
            self.spark = self.session.start()
        tr.spark = self.spark
        self.layer["session.start_s"] = time.perf_counter() - t0
        stage = os.path.join(self.tmp, "gen", "visits.parquet")
        self.ledger = gen.visits_ledger(self.seed, N_VISITS, N_DAYS, stage)
        self.counters_path = gen.counters(self.seed, os.path.join(self.tmp, "gen", "counters.parquet"))
        self.counters = self.spark.read.parquet(self.counters_path)
        self.path = os.path.join(self.tmp, "wh", "visits")
        layout = self.warehouse.TableLayout(
            date_col="StartDate",
            sort_by=["CounterID", "StartDate", "CounterUserIDHash"],
            sample_by="CounterUserIDHash",
        )
        t1 = time.perf_counter()
        with tr.span("warehouse.write"):
            self.warehouse.write_table(
                self.spark.read.parquet(stage), self.path, layout, mode="overwrite", cleanup="truncate"
            )
        self.layer["warehouse.write_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        # the JIT keeps speeding requests up over the first few dozen;
        # warm up on another seed's mix
        for kind, iv in request_mix(self.seed + 1, WARM_REQUESTS):
            self.request(kind, iv)
        self.layer["session.warm_s"] = time.perf_counter() - t2
        return time.perf_counter() - t0

    # ----------------------------------------------------------- request
    def request(self, kind: str, iv: int):
        tr, wh = self.tr, self.warehouse
        f, t = (_date(o) for o in INTERVALS[iv])
        sql, name = self.sql[kind]
        with tr.span("warehouse.read"):
            df = wh.prune_weeks(wh.read_table(self.spark, self.path), f, t)
        if kind == "traffic":
            with tr.span("queries.dotted_nested_view"):
                df = self.metrica.dotted_nested_view(df)
        tables = {name: df}
        if kind == "join":
            tables["counters"] = self.counters
        params = {"interval_from": f"DATE '{f}'", "interval_to": f"DATE '{t}'"}
        with tr.span("plans.compile", kind=kind):
            out = self.chsql.run_sql(self.spark, sql, tables, params, self.meta)
        with tr.span("plans.exec", kind=kind):
            return out.collect()

    # --------------------------------------------------------------- run
    def run(self, seconds: float, trace: bool) -> dict:
        mix = request_mix(self.seed, 100_000)
        lat, kinds, ivs, answers, traced = [], [], [], [], []
        failed = 0
        deadline = time.perf_counter() + seconds
        i = 0
        # a view in flight at the deadline is finished, so every chart
        # kind gets the same number of requests
        while time.perf_counter() < deadline or i % len(KINDS):
            kind, iv = mix[i]
            # traced runs alternate traced and untraced requests, so the
            # tracing overhead is measured on the same warm session
            self.tr.enabled = trace and i % 2 == 0
            self.tr.op = i
            t0 = time.perf_counter()
            try:
                rows = self.request(kind, iv)
            except Exception as ex:  # a failed request is counted, not fatal
                log(f"request {i} ({kind}) failed: {ex!r}")
                rows = None
                failed += 1
            lat.append(time.perf_counter() - t0)
            kinds.append(kind)
            ivs.append(iv)
            answers.append(rows)
            traced.append(self.tr.enabled)
            i += 1
        self.tr.enabled = False
        failed += self.check(kinds, ivs, answers)
        return self.metrics(lat, kinds, ivs, traced, failed, trace)

    def check(self, kinds, ivs, answers) -> int:
        """Compare every answer with its DuckDB oracle; returns the
        number of wrong answers."""
        con = duckdb.connect()
        src = f"read_parquet('{self.ledger['path']}')"
        cache: dict = {}
        wrong = 0
        for kind, iv, rows in zip(kinds, ivs, answers):
            if rows is None:
                continue
            key = (kind, iv)
            if key not in cache:
                f, t = (_date(o) for o in INTERVALS[iv])
                cache[key] = oracle.expected(con, kind, src, f, t, dim=self.counters_path)
            if not oracle.matches(kind, rows, cache[key]):
                wrong += 1
                log(f"wrong answer: {kind} {INTERVALS[iv]}")
        con.close()
        return wrong

    def metrics(self, lat, kinds, ivs, traced, failed, trace) -> dict:
        n = len(lat)
        if trace:
            return self.layer_metrics(lat, kinds, ivs, traced, n, failed)
        if tail_percentile(n) is None:
            log(f"dashboard: only {n} requests, so no percentile has 10 samples beyond it")
        # each chart kind's median, averaged over the kinds: the request
        # mix fixes the kind shares, so this is the mix's typical latency
        # without the sampling noise of a median taken across kinds
        by_kind = [median([x for x, k in zip(lat, kinds) if k == kind]) for kind in KINDS]
        return {
            "attempted": n,
            "failed": failed,
            "metrics": {
                "latency_s": (sum(by_kind) / len(by_kind), "s"),
                "throughput_per_s": (n / sum(lat), "1/s"),
            },
        }

    def layer_metrics(self, lat, kinds, ivs, traced, n, failed) -> dict:
        tr = self.tr
        # traced minus untraced, per chart kind: the kinds differ in cost
        # and need not split evenly between traced and untraced requests
        overhead = []
        for kind in KINDS:
            on = [x for x, t, k in zip(lat, traced, kinds) if t and k == kind]
            off = [x for x, t, k in zip(lat, traced, kinds) if not t and k == kind]
            if on and off:
                overhead.append(median(on) - median(off))
        m = {
            "session.start_s": (self.layer["session.start_s"], "s"),
            "session.warm_s": (self.layer["session.warm_s"], "s"),
            "warehouse.write_s": (self.layer["warehouse.write_s"], "s"),
            "trace.overhead_p50_s": (sum(overhead) / len(overhead), "s"),
        }
        m["warehouse.read_s"] = (median(list(tr.per_op("warehouse.read").values())), "s")
        files = []
        for op, iv in enumerate(ivs):
            if traced[op]:
                files.append(files_under(self.path, *(_date(o) for o in INTERVALS[iv])))
        m["warehouse.files_read"] = (median(files), "count")
        m["queries.nested_view_s"] = (median(list(tr.per_op("queries.dotted_nested_view").values())), "s")
        for part in ("compile", "exec"):
            per = tr.per_op(f"plans.{part}")
            m[f"plans.{part}_s"] = (median(list(per.values())), "s")
            for kind in KINDS:
                vals = [v for op, v in per.items() if kinds[op] == kind]
                if vals:
                    m[f"plans.{part}_s.{kind}"] = (median(vals), "s")
        m.update({k: (v, "count") for k, v in tr.spark_per_op().items()})
        return {"attempted": n, "failed": failed, "metrics": m}
