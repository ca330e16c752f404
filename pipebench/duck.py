"""The DuckDB recomputation of the panel window features that the
benchmark checks the program's output against."""
import duckdb

TOL = 1e-9

_W = "PARTITION BY ticker ORDER BY era"


def _rank(v):
    """Average-tie rank among non-null values of the era, divided by the
    era's non-null count (the RankTransformer contract)."""
    o = f"PARTITION BY era ORDER BY {v} ASC NULLS FIRST"
    return (f"CASE WHEN {v} IS NOT NULL THEN (count({v}) OVER ({o} RANGE "
            f"BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (count({v}) "
            f"OVER ({o} RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) "
            f"/ 2.0) / count({v}) OVER (PARTITION BY era) END")


def features_sql(panel):
    fr = [f"f{i}_rank" for i in range(1, 5)]
    dev = lambda p: " + ".join(f"pow(({c} - m) / s, {p})" for c in fr)
    return f"""
    WITH lr AS (
      SELECT *, ln(price) - lag(ln(price)) OVER ({_W}) AS price_logreturn
      FROM '{panel}'),
    rk AS (
      SELECT *, {_rank('price_logreturn')} AS price_logreturn_rank,
        {', '.join(f"{_rank(f'f{i}')} AS f{i}_rank" for i in range(1, 5))}
      FROM lr),
    gs AS (
      SELECT *, ({' + '.join(fr)}) / 4.0 AS m FROM rk),
    gs2 AS (
      SELECT *, sqrt(({' + '.join(f'pow({c} - m, 2)' for c in fr)}) / 3.0)
        AS s FROM gs)
    SELECT rid, price_logreturn, price_logreturn_rank,
      {', '.join(fr)},
      lag(price_logreturn_rank, 2) OVER ({_W}) AS price_logreturn_rank_lag2,
      lag(price_logreturn_rank, 1) OVER ({_W}) AS price_logreturn_rank_lag1,
      CASE WHEN count(price_logreturn_rank) OVER ({_W} ROWS BETWEEN 4
        PRECEDING AND CURRENT ROW) = 5 THEN avg(price_logreturn_rank) OVER
        ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) END
        AS price_logreturn_rank_ma5,
      m AS f_groupstats_mean, s AS f_groupstats_std,
      ({dev(3)}) * (4.0 / (3.0 * 2.0)) AS f_groupstats_skew,
      ({dev(4)}) * ((4.0 * 5.0) / (3.0 * 2.0 * 1.0))
        - (3.0 * 3.0 * 3.0) / (2.0 * 1.0) AS f_groupstats_kurt,
      greatest({', '.join(fr)}) - least({', '.join(fr)})
        AS f_groupstats_range,
      s / m AS f_groupstats_cv
    FROM gs2"""


def check_features(panel, features):
    """Every feature column of the program's output equals the DuckDB
    recomputation within 1e-9 relative (nulls in the same places)."""
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute(f"CREATE TABLE oracle AS {features_sql(panel)}")
    cols = [r[0] for r in con.execute("DESCRIBE oracle").fetchall()
            if r[0] != "rid"]
    got = {r[0] for r in con.execute(
        f"DESCRIBE SELECT * FROM '{features}/*.parquet'").fetchall()}
    missing = [c for c in cols if c not in got]
    if missing:
        return False, f"features output lacks {missing}"
    bad = " OR ".join(
        f"NOT ((o.{c} IS NULL AND g.{c} IS NULL) OR abs(o.{c} - g.{c}) <= "
        f"{TOL} * greatest(1.0, abs(o.{c}), abs(g.{c})))" for c in cols)
    n_o, n_g, n_join = con.execute(
        f"SELECT (SELECT count(*) FROM oracle), "
        f"(SELECT count(*) FROM '{features}/*.parquet'), "
        f"(SELECT count(*) FROM oracle o JOIN '{features}/*.parquet' g "
        f"USING (rid))").fetchone()
    mism = con.execute(
        f"SELECT count(*), min(rid) FROM oracle o JOIN "
        f"'{features}/*.parquet' g USING (rid) WHERE {bad}").fetchone()
    ok = n_o == n_g == n_join and mism[0] == 0
    return ok, (f"{n_g} rows vs {n_o} recomputed, {n_join} matched, "
                f"{mism[0]} differ (first rid {mism[1]})")
