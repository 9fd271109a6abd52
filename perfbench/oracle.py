"""DuckDB oracle checks, made outside every timed interval.

Each checked result is reduced to a fingerprint: its row count plus an
order-independent row hash (the sum of per-row hashes, mod 2^64). Registry
queries are compared row by row against their own `SparkEntry.oracleSql`
after the canonicalization `tools/compare.py` uses (columns by name, rows
sorted, floats bit-exact). The product run's written output is compared by
fingerprint against the `zori_csv_pipeline` oracle restated over the
generated CSV, with null-rent cleaning, exact-duplicate removal and the
`year` partition column added. Its month-over-month `round` is restated the
way Spark rounds a double — HALF_UP on the value's shortest decimal string —
because DuckDB's double `round` works on the binary value and splits the
few exact ties (e.g. -1.275 %) the other way.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if isinstance(v, int) or (math.isfinite(f) and f.is_integer() and abs(f) < 2 ** 53):
            return int(f) if math.isfinite(f) else f
        return f + 0.0  # folds -0.0 into 0.0
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def _key(row):
    return tuple("\0NULL" if v is None else repr(v) for v in row)


def fingerprint(rows):
    h = 0
    for r in rows:
        h += int.from_bytes(hashlib.blake2b(repr(r).encode(), digest_size=8).digest(), "little")
    return len(rows), h % (1 << 64)


def _canonical(rel):
    cols = [d[0] for d in rel.description]
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=_key)


def _equal(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    return a == b


def _oracle_rows(con, sql, data_dir, cache_dir):
    """Canonical oracle answer, cached by (tables, SQL): the answers of the
    text-dedup and graph oracles take DuckDB tens of seconds each."""
    key = hashlib.sha256(f"{data_dir}\n{sql}".encode()).hexdigest()[:32]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    cols, rows = _canonical(con.execute(sql))
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump([cols, rows], f)
    os.replace(path + ".tmp", path)
    return cols, rows


def check_registry(data_dir, check_dir, sqls, names, cache_dir):
    """name -> {"ok", "rows", "fingerprint", "error"} for each checked query."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {}
    for name in names:
        rec = {"ok": False, "rows": None, "fingerprint": None, "error": None}
        out[name] = rec
        if name not in sqls:
            rec["error"] = "no oracle SQL"
            continue
        try:
            mine_cols, mine = _canonical(
                con.execute(f"SELECT * FROM read_parquet('{check_dir}/{name}/*.parquet')"))
            want_cols, want = _oracle_rows(con, sqls[name], data_dir, cache_dir)
        except Exception as e:  # an unreadable result is a failed check
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            continue
        rec["rows"] = len(mine)
        rec["fingerprint"] = str(fingerprint(mine)[1])
        if mine_cols != want_cols:
            rec["error"] = f"columns {mine_cols} != {want_cols}"
        elif len(mine) != len(want):
            rec["error"] = f"rows {len(mine)} != {len(want)}"
        elif not all(all(_equal(x, y) for x, y in zip(a, b)) for a, b in zip(mine, want)):
            rec["error"] = "row values differ from the oracle"
        else:
            rec["ok"] = True
    con.close()
    return out


_PROCESSED_HASH = """
SELECT count(*) AS n,
       CAST(sum(hash(RegionID, RegionName, StateName, month, median_rent,
                     rent_change_mom + 0.0, state_rent_rank, year)) % 18446744073709551616
            AS UBIGINT) AS h
FROM ({rows})
"""

_ZORI_ORACLE = """
WITH raw AS (
  SELECT * FROM read_csv('{csv}', header=true, all_varchar=true)
),
unp AS (
  SELECT RegionID, RegionName, StateName, month_str, median_rent
  FROM raw UNPIVOT (median_rent FOR month_str IN
    (COLUMNS(* EXCLUDE (RegionID, SizeRank, RegionName, RegionType, StateName))))
),
longf AS (
  SELECT DISTINCT CAST(RegionID AS INTEGER) AS RegionID, RegionName, StateName,
         CAST(strptime(month_str || '-01', '%Y-%m-%d') AS DATE) AS month,
         CAST(median_rent AS DOUBLE) AS median_rent
  FROM unp WHERE median_rent IS NOT NULL
),
lagd AS (
  SELECT *, ((median_rent - lag(median_rent) OVER (PARTITION BY RegionID ORDER BY month))
             / lag(median_rent) OVER (PARTITION BY RegionID ORDER BY month)) * 100 AS mom
  FROM longf
)
SELECT RegionID, RegionName, StateName, month, median_rent,
       CASE WHEN abs(abs(mom * 100) - floor(abs(mom * 100)) - 0.5) < 1e-6
            THEN spark_round2(mom) ELSE round(mom, 2) END AS rent_change_mom,
       CAST(rank() OVER (PARTITION BY StateName, month ORDER BY median_rent DESC) AS INTEGER)
         AS state_rent_rank,
       CAST(year(month) AS INTEGER) AS year
FROM lagd
"""

_PROCESSED = """
SELECT CAST(RegionID AS INTEGER) AS RegionID, CAST(RegionName AS VARCHAR) AS RegionName,
       CAST(StateName AS VARCHAR) AS StateName, CAST(month AS DATE) AS month,
       CAST(median_rent AS DOUBLE) AS median_rent, CAST(rent_change_mom AS DOUBLE) AS rent_change_mom,
       CAST(state_rent_rank AS INTEGER) AS state_rent_rank, CAST(year AS INTEGER) AS year
FROM read_parquet('{out}/**/*.parquet', hive_partitioning=true)
"""


def spark_round2(x):
    """Spark's `round(double, 2)`: HALF_UP on the double's shortest decimal
    string (`BigDecimal.valueOf`), not on its binary value."""
    if x is None or not math.isfinite(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP))


def _hash(sql):
    con = duckdb.connect()
    con.create_function("spark_round2", spark_round2, ["DOUBLE"], "DOUBLE")
    try:
        n, h = con.execute(_PROCESSED_HASH.format(rows=sql)).fetchone()
    finally:
        con.close()
    return {"rows": int(n), "fingerprint": str(h)}


def zori_expected(csv_path):
    """Fingerprint of the processed rows the product run must write."""
    return _hash(_ZORI_ORACLE.format(csv=csv_path))


def processed_actual(out_dir):
    """Fingerprint of the partitioned parquet a product run wrote."""
    return _hash(_PROCESSED.format(out=out_dir))
