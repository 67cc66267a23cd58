"""Output checks. Every expected answer is computed here, from the
generated rows, with DuckDB; nothing is taken from the program.

Each check returns a list of failure strings (empty = passed).
"""
import datetime
import importlib.util
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The envelope fields the checks need, as DriverEventsAdapter defines them
# over a raw row (event_id, user_id, ts, event_type).
ENVELOPE_SQL = """
SELECT DISTINCT 'm' || event_id AS message_id,
  CASE event_type WHEN 'signup' THEN 'identify' WHEN 'view' THEN 'page'
       ELSE 'track' END AS type,
  event_type AS event,
  ts AS "timestamp",
  'a' || user_id AS anonymous_id,
  CASE WHEN event_type IN ('signup', 'purchase') THEN 'u' || user_id END AS user_id,
  'c' || (event_id % 4) AS connection_id
FROM {src}
"""


def table_files(table_dir):
    """Live data files of a warehouse table: hidden and underscore-
    prefixed paths (staging, snapshots, metadata) are not table data."""
    out = []
    for dirpath, dirnames, files in os.walk(table_dir):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return sorted(out)


def _read(files):
    lst = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{lst}], union_by_name = true)"


def warehouse_facts(warehouse, table="events"):
    """Commit count and the live layout of the main table."""
    con = duckdb.connect()
    hist = os.path.join(warehouse, "_history")
    commits = len([f for f in os.listdir(hist) if f.endswith(".json")
                   and not f.startswith(".")]) if os.path.isdir(hist) else 0
    files = table_files(os.path.join(warehouse, table))
    parts = {os.path.dirname(f) for f in files}
    rows = con.sql(f"SELECT COUNT(*) FROM {_read(files)}").fetchone()[0] if files else 0
    return {"commits": commits, "data_files": len(files), "partitions": len(parts),
            "table_bytes": sum(os.path.getsize(f) for f in files), "rows": rows}


# ----------------------------------------------------------------- ingest

def ingest(stream, warehouse):
    """Landed rows of one drain against the generated stream."""
    fails = []
    con = duckdb.connect()
    con.sql(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{stream['events']}')")
    ev = table_files(os.path.join(warehouse, "events"))
    if not ev:
        return ["ingest: no events table landed"], {}
    con.sql(f"CREATE VIEW landed AS SELECT message_id, anonymous_id, user_id FROM {_read(ev)}")
    expected = con.sql("SELECT COUNT(DISTINCT event_id) FROM raw").fetchone()[0]
    n, n_distinct = con.sql("SELECT COUNT(*), COUNT(DISTINCT message_id) FROM landed").fetchone()
    if n != n_distinct:
        fails.append(f"ingest: {n - n_distinct} duplicate message_id rows after the MERGE")
    missing = con.sql("SELECT COUNT(*) FROM (SELECT 'm' || event_id AS m FROM raw "
                      "EXCEPT SELECT message_id FROM landed)").fetchone()[0]
    extra = con.sql("SELECT COUNT(*) FROM (SELECT message_id FROM landed EXCEPT "
                    "SELECT 'm' || event_id FROM raw)").fetchone()[0]
    if missing or extra:
        fails.append(f"ingest: {missing} generated events missing, {extra} unexpected "
                     f"(expected {expected} distinct)")
    # recognition may only ever attach the generator's own identity
    ident = stream["identified_users"] or [-1]
    con.sql(f"CREATE TABLE ident AS SELECT 'a' || unnest({ident}) AS anonymous_id")
    wrong = con.sql("SELECT COUNT(*) FROM landed WHERE user_id IS NOT NULL AND ("
                    "user_id <> 'u' || substr(anonymous_id, 2) OR anonymous_id NOT IN "
                    "(SELECT anonymous_id FROM ident))").fetchone()[0]
    if wrong:
        fails.append(f"ingest: {wrong} rows carry a user_id that is not their own identity")
    recognized = con.sql("SELECT COUNT(*) FROM landed WHERE user_id IS NOT NULL").fetchone()[0]
    identified_events = con.sql("SELECT COUNT(DISTINCT event_id) FROM raw WHERE "
                                "event_type IN ('signup', 'purchase')").fetchone()[0]
    if recognized < identified_events:
        fails.append(f"ingest: {recognized} recognized rows < {identified_events} "
                     "events that carry a user_id themselves")
    # quarantine holds exactly the seeded corrupt lines
    qf = table_files(os.path.join(warehouse, "quarantine"))
    got = sorted(r[0] for r in con.sql(f"SELECT raw_event FROM {_read(qf)}").fetchall()) \
        if qf else []
    want = sorted(c["line"] for c in stream["corrupt"])
    if got != want:
        fails.append(f"ingest: quarantine holds {len(got)} lines, expected the "
                     f"{len(want)} seeded corrupt lines")
    return fails, {"recognized_rows": recognized, "landed_rows": n}


# ---------------------------------------------------------------- console

def console(plan, units):
    """Every read against DuckDB over the rows landed before it."""
    fails = []
    con = duckdb.connect()
    con.sql(f"CREATE VIEW base_raw AS SELECT * FROM read_parquet('{plan['base']}')")
    con.sql(f"CREATE VIEW app_raw AS SELECT * FROM read_parquet('{plan['appends']}')")
    written = -1  # appends landed so far (slice index)
    prof_lo = 0
    con.sql("CREATE TABLE events AS " + ENVELOPE_SQL.format(src="base_raw"))
    for req, u in zip(plan["requests"], units):
        kind = req["kind"]
        if not u["ok"]:
            continue  # already counted as a failed operation
        if kind == "write":
            written = req["slice"]
            con.sql("CREATE OR REPLACE TABLE events AS " + ENVELOPE_SQL.format(
                src=f"(SELECT * FROM base_raw UNION ALL SELECT * EXCLUDE (slice) "
                    f"FROM app_raw WHERE slice <= {written})"))
            continue
        if kind in ("query", "cached", "rollup"):
            sql = req["sql"].replace("date_trunc('DAY', timestamp)",
                                     "date_trunc('day', \"timestamp\")")
            want = [_norm(r) for r in con.sql(sql).fetchall()]
            got = [_norm(r[:-1] if kind != "rollup" else r) for r in u["info"]["rows"]]
            ordered = "ORDER BY" in req["sql"]
            if (got if ordered else sorted(got)) != (want if ordered else sorted(want)):
                fails.append(f"console: request {u['info']['i']} ({kind}) returned "
                             f"{len(got)} rows that differ from the expected {len(want)}")
        elif kind == "profile":
            hi = req["now_us"]
            want = con.sql(
                "SELECT COUNT(DISTINCT user_id) FROM events WHERE user_id IS NOT NULL "
                f"AND epoch_us(\"timestamp\") > {prof_lo} AND epoch_us(\"timestamp\") <= {hi}"
            ).fetchone()[0]
            prof_lo = hi
            if u["info"]["users_rebuilt"] != want:
                fails.append(f"console: profile cycle {u['info']['i']} rebuilt "
                             f"{u['info']['users_rebuilt']} users, expected {want}")
    return fails


EPOCH = datetime.datetime(1970, 1, 1)


def _norm(row):
    """Comparable row: timestamps as epoch microseconds (UTC)."""
    out = []
    for v in row:
        if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
            v = datetime.datetime(v.year, v.month, v.day)
        if isinstance(v, datetime.datetime):
            v = (v.replace(tzinfo=None) - EPOCH) // datetime.timedelta(microseconds=1)
        elif isinstance(v, float) and v.is_integer():
            v = int(v)
        out.append(v)
    return tuple(out)


# -------------------------------------------------------------- operators

def _correctness_rule():
    """check_correctness.py's comparison rule (columns sorted by name,
    rows sorted by value, floats to 1e-9 relative then exact)."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def operators(data_dir, outputs_dir, oracle_file, gates):
    rule = _correctness_rule()
    con = duckdb.connect()
    for t in rule.TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(oracle_file) as f:
        oracle = json.load(f)
    fails = []
    for g in gates:
        if g not in oracle:
            fails.append(f"operators: {g} has no oracle SQL")
            continue
        got = rule.load_spark(os.path.join(outputs_dir, g))
        try:
            want = con.sql(oracle[g]).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"operators: {g} oracle failed: {e}")
            continue
        err = rule.compare(g, got, want)
        if err:
            fails.append(f"operators: {err}")
    return fails
