"""DuckDB oracles for the dashboard charts and the answer comparison.

Each oracle runs over the generator's own parquet files, never over
anything the engine wrote.  Float columns are rounded on both sides the
way the engine's ``queries.driver`` registry rounds compared outputs
(``floor(x * 10^4 + 0.5) / 10^4``, functions.ch.round_to).
"""

from __future__ import annotations

import math

import duckdb

_LIVE = "StartDate BETWEEN DATE '{f}' AND DATE '{t}'"

ORACLES = {
    # «Посещаемость»: sum(Sign) per day, HAVING >= 0, first 10 days,
    # plus the WITH TOTALS row (NULL date)
    "visits": f"""
WITH r AS (SELECT StartDate AS d, Sign FROM {{src}} WHERE {_LIVE})
SELECT * FROM (
  SELECT d, CAST(sum(Sign) AS BIGINT) FROM r GROUP BY d
  HAVING sum(Sign) >= 0 ORDER BY d LIMIT 10)
UNION ALL SELECT NULL, CAST(sum(Sign) AS BIGINT) FROM r
""",
    # «Источники трафика»: last-significant UTM source (Model = 2),
    # sign-weighted ratios, uniqExact capped by visits
    "traffic": f"""
WITH base AS (
  SELECT coalesce(
           TrafficSource[list_position(list_transform(TrafficSource, x -> x.Model), 2)].UTMSource,
           '') AS src,
         Sign, CounterUserIDHash, IsBounce, PageViews, Duration,
         len(list_filter(EPurchase, x -> x.ID <> '')) AS np
  FROM {{src}} WHERE {_LIVE}
)
SELECT src,
       CAST(sum(Sign) AS BIGINT) AS visits,
       CAST(least(count(DISTINCT CounterUserIDHash), sum(Sign)) AS BIGINT) AS users,
       100.0 * (sum(IsBounce * Sign) / sum(Sign)),
       sum(PageViews * Sign) / sum(Sign),
       sum(Duration * Sign) / sum(Sign),
       CAST(sum(np * Sign) AS BIGINT) AS purch
FROM base WHERE src <> ''
GROUP BY src
HAVING visits > 0 OR users > 0 OR purch > 0
ORDER BY visits DESC, src ASC
LIMIT 50
""",
    # FROM visits FINAL: VersionedCollapsingMergeTree collapse on the
    # ORDER BY key -- the max-version rows, kept when their signs net > 0
    "final": f"""
WITH r AS (
  SELECT *, max(VisitVersion) OVER (
           PARTITION BY CounterID, StartDate, CounterUserIDHash, VisitID) AS mv
  FROM {{src}} WHERE {_LIVE}
),
live AS (
  SELECT StartDate, CounterUserIDHash,
         max(PageViews) FILTER (WHERE Sign = 1) AS pv
  FROM r WHERE VisitVersion = mv
  GROUP BY CounterID, StartDate, CounterUserIDHash, VisitID
  HAVING sum(Sign) > 0
)
SELECT StartDate, CAST(count(*) AS BIGINT), CAST(sum(pv) AS BIGINT),
       CAST(count(DISTINCT CounterUserIDHash) AS BIGINT)
FROM live GROUP BY StartDate ORDER BY StartDate
""",
    # SAMPLE 1/10 on the declared SAMPLE BY key: the [0, 10^5) slice of
    # pmod(CounterUserIDHash, 10^6)
    "sample": f"""
SELECT StartDate, CAST(sum(Sign) AS BIGINT),
       CAST(count(DISTINCT CounterUserIDHash) AS BIGINT)
FROM {{src}}
WHERE {_LIVE}
  AND ((CounterUserIDHash % 1000000) + 1000000) % 1000000 < 100000
GROUP BY StartDate ORDER BY StartDate
""",
    # ANY LEFT JOIN on the counter table: the engine keeps, per key, the
    # right row that is smallest by its non-key columns (plans.chjoin);
    # the counter name comes from the JSON params
    "join": f"""
WITH c AS (
  SELECT CounterID, Params FROM read_parquet('{{dim}}')
  QUALIFY row_number() OVER (PARTITION BY CounterID ORDER BY Params ASC NULLS FIRST) = 1
)
SELECT coalesce(json_extract_string(c.Params, '$.name'), '') AS name,
       CAST(sum(v.Sign) AS BIGINT),
       CAST(count(DISTINCT v.CounterUserIDHash) AS BIGINT)
FROM {{src}} v LEFT JOIN c ON v.CounterID = c.CounterID
WHERE v.{_LIVE}
GROUP BY name ORDER BY name
""",
}


def _norm(v):
    if isinstance(v, float):
        return math.floor(v * 10_000.0 + 0.5) / 10_000.0
    return v


def normalize(kind: str, rows) -> list[tuple]:
    out = [tuple(_norm(v) for v in r) for r in rows]
    if kind == "visits":
        # detail rows then the totals row; compare as a set keyed by date
        out.sort(key=lambda r: (r[0] is None, r[0]))
    return out


def expected(
    con: duckdb.DuckDBPyConnection, kind: str, src: str, f: str, t: str, dim: str | None = None
) -> list[tuple]:
    """The oracle's answer over the ledger ``src``; ``dim`` is the
    counter table's parquet file, which only the join chart reads."""
    sql = ORACLES[kind].format(src=src, f=f, t=t, dim=dim)
    return normalize(kind, con.sql(sql).fetchall())


def matches(kind: str, got_rows, want: list[tuple]) -> bool:
    return normalize(kind, [tuple(r) for r in got_rows]) == want
