"""Output checks of the graft benchmark, computed with DuckDB.

Each check returns None when an output is right and a one-line reason
when it is not; run.py counts every reason as a failed call.
"""
import glob
import math
import os

import duckdb

# DuckDB's own reading of the daily pipeline over the generated feed:
# keep-last dedup on (user_id, ts), forward-filled value, daily OHLCV.
BARS_SQL = """
WITH d AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
  FROM read_parquet('{events}') WHERE ts IS NOT NULL),
c AS (
  SELECT user_id, ts,
    last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM d WHERE rn = 1)
SELECT user_id, CAST(ts AS DATE) AS date,
  arg_min(value, ts) AS open, max(value) AS high, min(value) AS low,
  arg_max(value, ts) AS close, count(*) AS volume, avg(value) AS vwap
FROM c GROUP BY ALL"""

# Screener.breakouts with Pipeline.build's defaults (10-bar MA and
# volume SMA, 1.2x volume), counted over the expected bars.
BREAKOUTS_SQL = """
WITH m AS (
  SELECT user_id, date, close, volume,
    CASE WHEN count(close) OVER w = 10 THEN avg(close) OVER w END AS ma,
    CASE WHEN count(volume) OVER w = 10 THEN avg(volume) OVER w END AS vol_sma
  FROM expected_bars
  WINDOW w AS (PARTITION BY user_id ORDER BY date ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
l AS (
  SELECT *, lag(close) OVER (PARTITION BY user_id ORDER BY date) AS pc,
    lag(ma) OVER (PARTITION BY user_id ORDER BY date) AS pm
  FROM m)
SELECT count(*) FROM l WHERE close > ma AND pc <= pm AND volume > 1.2 * vol_sma"""

DAILY_EXPORTS = ("bars", "indicators", "breadth", "health", "movers", "signals", "breakouts")


def connect(work_dir):
    con = duckdb.connect()
    tmp = os.path.join(work_dir, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute("SET temp_directory = '%s'" % tmp)
    con.execute("SET threads = 2")
    return con


def _parquet_rows(con, path):
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return None
    return con.execute("SELECT count(*) FROM read_parquet(?)", [files]).fetchone()[0]


class DailyCheck:
    """Row counts of every export, and the bars against DuckDB's OHLCV."""

    def __init__(self, con, in_dir, truth):
        self.con = con
        ev = truth["events"]
        con.execute("CREATE OR REPLACE TABLE expected_bars AS " +
                    BARS_SQL.format(events=os.path.join(in_dir, "events.parquet")))
        self.rows = {
            "bars": ev["user_days"], "indicators": ev["user_days"],
            "breadth": ev["calendar_days"], "health": 1,
            "movers": 2 * min(5, ev["users"]), "signals": ev["users"],
            "breakouts": con.execute(BREAKOUTS_SQL).fetchone()[0],
        }
        if con.execute("SELECT count(*) FROM expected_bars").fetchone()[0] != ev["user_days"]:
            raise RuntimeError("generated feed disagrees with its truth record")

    def __call__(self, out_dir):
        base = os.path.join(out_dir, "snapshot=bench")
        for name in DAILY_EXPORTS:
            n = _parquet_rows(self.con, os.path.join(base, name))
            if n != self.rows[name]:
                return "%s: %s rows, expected %d" % (name, n, self.rows[name])
        bars = glob.glob(os.path.join(base, "bars", "date=*", "*.parquet"))
        bad = self.con.execute("""
            WITH got AS (SELECT * REPLACE (CAST(date AS DATE) AS date)
                         FROM read_parquet(?, hive_partitioning = true))
            SELECT count(*) FROM expected_bars e FULL JOIN got g USING (user_id, date)
            WHERE g.open IS DISTINCT FROM e.open OR g.high IS DISTINCT FROM e.high
               OR g.low IS DISTINCT FROM e.low OR g.close IS DISTINCT FROM e.close
               OR g.volume IS DISTINCT FROM e.volume
               OR g.vwap IS NULL OR e.vwap IS NULL
               OR abs(g.vwap - e.vwap) > 1e-9 * abs(e.vwap)""", [bars]).fetchone()[0]
        if bad:
            return "bars: %d (user_id, date) rows differ from DuckDB's OHLCV" % bad
        return None


class CurateCheck:
    """The released doc_id set is exactly the planted survivors."""

    def __init__(self, con, truth):
        self.con = con
        self.survivors = truth["documents"]["survivors"]
        con.execute("CREATE OR REPLACE TABLE survivors (doc_id BIGINT)")
        con.executemany("INSERT INTO survivors VALUES (?)", [[i] for i in self.survivors])

    def __call__(self, out_dir):
        files = glob.glob(os.path.join(out_dir, "shard_id=*", "*.json"))
        if not files:
            return "no shards written"
        n, distinct, missing, extra = self.con.execute("""
            WITH got AS (SELECT doc_id FROM read_json(?, format = 'newline_delimited',
                                                      columns = {'doc_id': 'BIGINT'}))
            SELECT (SELECT count(*) FROM got), (SELECT count(DISTINCT doc_id) FROM got),
              (SELECT count(*) FROM survivors WHERE doc_id NOT IN (SELECT doc_id FROM got)),
              (SELECT count(*) FROM got WHERE doc_id NOT IN (SELECT doc_id FROM survivors))
            """, [files]).fetchone()
        if n != len(self.survivors) or distinct != n or missing or extra:
            return ("released %d rows (%d distinct), expected %d survivors: "
                    "%d missing, %d unexpected" % (n, distinct, len(self.survivors), missing, extra))
        return None


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    return sorted(rows, key=lambda r: tuple(str(v) for v in r)), [cols[i] for i in order]


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        na = a is None or (isinstance(a, float) and math.isnan(a))
        nb = b is None or (isinstance(b, float) and math.isnan(b))
        if na or nb:
            return na and nb
        return float(a) == float(b)
    return str(a) == str(b)


def oracle_check(con, in_dir, name, sql, result_dir):
    """A catalogue row's result against its DuckDB oracle SQL: same columns,
    same rows, floats bit-equal after both sides' rounding."""
    for t in ("events", "documents"):
        path = os.path.join(in_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE OR REPLACE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, path))
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "%s: no result written" % name
    try:
        got = con.execute("SELECT * FROM read_parquet(?)", [files])
        got_cols = [d[0] for d in got.description]
        got_rows = got.fetchall()
        want = con.execute(sql)
        want_cols = [d[0] for d in want.description]
        want_rows = want.fetchall()
    except duckdb.Error as e:
        return "%s: %s" % (name, str(e).splitlines()[0])
    got_rows, got_cols = _canon(got_rows, got_cols)
    want_rows, want_cols = _canon(want_rows, want_cols)
    if got_cols != want_cols:
        return "%s: columns %s != %s" % (name, got_cols, want_cols)
    if len(got_rows) != len(want_rows):
        return "%s: %d rows != %d" % (name, len(got_rows), len(want_rows))
    for g, w in zip(got_rows, want_rows):
        for col, a, b in zip(got_cols, g, w):
            if not _same(a, b):
                return "%s: %s %r != %r" % (name, col, a, b)
    return None


def check_calls(workload, in_dir, work_dir, truth, calls, oracle_sql):
    """Attach an ``error`` to every call whose output is wrong; return the
    reasons of the verified catalogue rows that failed their oracle."""
    con = connect(work_dir)
    check = (DailyCheck(con, in_dir, truth) if workload == "daily_snapshot"
             else CurateCheck(con, truth))
    for c in calls:
        if c.get("error") is None and c.get("out"):
            c["error"] = check(c["out"])
    oracle_failures = []
    for name, sql in sorted(oracle_sql.items()):
        err = oracle_check(con, in_dir, name, sql, os.path.join(work_dir, "verify", name))
        if err:
            oracle_failures.append(err)
    con.close()
    return oracle_failures
