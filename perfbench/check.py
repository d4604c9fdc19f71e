"""Output checks that need an independent engine: DuckDB re-evaluates what
the Spark run produced, from the files the run left in its work dir.
Each check function takes the run record and returns [(name, ok)].
"""
import glob
import hashlib
import json
import math
import os
import sys

import duckdb

# The six OFF queries (graft.analytics.OffQueries) in DuckDB SQL, over
# views named after the gold tables; select lists in the DataFrame order.
OFF_SQL = {
    "q1": """SELECT b.brand_name,
        CAST(COUNT(DISTINCT CASE WHEN f.nutriscore_grade IN ('A', 'B') THEN f.product_sk END) AS DOUBLE)
          / CAST(COUNT(DISTINCT f.product_sk) AS DOUBLE) AS proportion_ab,
        COUNT(DISTINCT f.product_sk) AS nb_products
      FROM fact f JOIN dim_product p USING (product_sk)
      JOIN dim_brand b ON p.brand_sk = b.brand_sk
      WHERE f.nutriscore_grade IS NOT NULL
      GROUP BY b.brand_name HAVING COUNT(DISTINCT f.product_sk) >= 10
      ORDER BY proportion_ab DESC, b.brand_name LIMIT 10""",
    "q2": """SELECT c.parent_category_sk AS category_lvl1, c.category_name AS category_lvl2,
        f.nutriscore_grade, COUNT(*) AS nb_products
      FROM fact f JOIN dim_product p USING (product_sk)
      JOIN dim_category c ON p.primary_category_sk = c.category_sk
      WHERE f.nutriscore_grade IS NOT NULL GROUP BY 1, 2, 3""",
    "q3": """SELECT country, category_name, AVG(sugars_100g) AS avg_sugars_100g
      FROM (SELECT UNNEST(p.countries_multi_name) AS country, c.category_name, f.sugars_100g
            FROM fact f JOIN dim_product p USING (product_sk)
            JOIN dim_category c ON p.primary_category_sk = c.category_sk
            WHERE f.sugars_100g IS NOT NULL)
      GROUP BY 1, 2""",
    "q4": """SELECT b.brand_name, AVG(CAST(
          CAST(f.energy_kcal_100g IS NOT NULL AS INT) + CAST(f.fat_100g IS NOT NULL AS INT)
        + CAST(f.saturated_fat_100g IS NOT NULL AS INT) + CAST(f.sugars_100g IS NOT NULL AS INT)
        + CAST(f.salt_100g IS NOT NULL AS INT) + CAST(f.proteins_100g IS NOT NULL AS INT)
        + CAST(f.fiber_100g IS NOT NULL AS INT) + CAST(f.sodium_100g IS NOT NULL AS INT)
        AS DOUBLE) / 8.0) AS completeness_rate
      FROM fact f JOIN dim_product p USING (product_sk)
      JOIN dim_brand b ON p.brand_sk = b.brand_sk
      GROUP BY b.brand_name""",
    "q5": """SELECT p.code, p.product_name, b.brand_name, f.salt_100g, f.sugars_100g
      FROM fact f JOIN dim_product p USING (product_sk)
      JOIN dim_brand b ON p.brand_sk = b.brand_sk
      WHERE f.salt_100g > 25 OR f.sugars_100g > 80""",
    "q6": """SELECT t.year, t.iso_week, AVG(f.completeness_score) AS avg_completeness
      FROM fact f JOIN dim_time t ON f.time_sk = t.time_sk GROUP BY 1, 2""",
}


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # averages of doubles: the two engines sum in different orders
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def _rows_match(got, want):
    """Order-independent compare. Every OFF query's non-float columns are a
    unique key, so rows pair up by sorting on them."""
    def key(r):
        return tuple("" if v is None else str(v) for v in r if not isinstance(v, float))
    if len(got) != len(want):
        return False
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(sorted(got, key=key), sorted(want, key=key)))


def _parquet(con, view, path):
    con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet('{path}/*.parquet')")


def _off_checks(con, results_path):
    with open(results_path) as f:
        results = json.load(f)
    out = []
    for q, sql in OFF_SQL.items():
        want = [list(r) for r in con.execute(sql).fetchall()]
        out.append((f"{q} matches DuckDB", _rows_match(results[q]["rows"], want)))
    return out


def etl_onefile(rec):
    facts = rec["facts"]
    con = duckdb.connect()
    for t in ("dim_product", "dim_brand", "dim_category", "dim_time"):
        _parquet(con, t, os.path.join(facts["gold_dir"], t))
    _parquet(con, "fact", os.path.join(facts["gold_dir"], "fact_nutrition_snapshot"))
    _parquet(con, "silver", facts["silver_dir"])
    silver, fact, product, distinct, lo, hi = con.execute("""SELECT
        (SELECT COUNT(*) FROM silver), (SELECT COUNT(*) FROM fact), COUNT(*),
        COUNT(DISTINCT product_sk), MIN(product_sk), MAX(product_sk) FROM dim_product""").fetchone()
    return [("silver rows == generator's expectation", silver == facts["expected_silver_rows"]),
            ("fact rows == product rows == silver rows", fact == product == silver),
            ("product_sk dense and unique", distinct == product and lo == 1 and hi == product),
            ] + _off_checks(con, facts["results"])


def _files(con, view, files):
    con.execute(f"CREATE OR REPLACE VIEW {view} AS SELECT * FROM read_parquet({files!r})")


def gold_serve(rec):
    facts = rec["facts"]
    con = duckdb.connect()
    for t, files in facts["dim_files"].items():
        _files(con, t, files)
    # base ⊕ deltas: replay every batch in order, replacing rows by key
    _files(con, "base", facts["base_files"])
    con.execute("CREATE TABLE want AS SELECT * FROM base")
    batches = sorted(glob.glob(os.path.join(facts["batch_dir"], "b*")))
    for b in batches:
        _parquet(con, "batch", b)
        con.execute("DELETE FROM want WHERE product_sk IN (SELECT product_sk FROM batch)")
        con.execute("INSERT INTO want SELECT * FROM batch")
    _files(con, "fact", facts["final_files"])
    diff = con.execute("""SELECT (SELECT COUNT(*) FROM (SELECT * FROM fact EXCEPT ALL SELECT * FROM want))
                                + (SELECT COUNT(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM fact)),
                                (SELECT COUNT(*) FROM fact), (SELECT COUNT(DISTINCT product_sk) FROM fact)""").fetchone()
    out = [(f"final fact == base + {len(batches)} batches", diff[0] == 0),
           ("fact keeps one row per product", diff[1] == diff[2] == facts["products"]),
           (f"{len(batches)} batches applied", len(batches) == facts["batches"])]
    return out + _off_checks(con, facts["results"])


def _canon(df):
    """tools/xcheck.py's canonical rows: columns by name, exact float repr."""
    import numpy as np
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(v))
            elif isinstance(v, np.integer):
                vals.append(str(int(v)))
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return rows


ORACLE_RECORD = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected", "battery_sf0.01.json")


def _sha(text):
    return hashlib.sha256(text.encode()).hexdigest()


def _tables(data_dir):
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def battery_hot(rec):
    """Each result against its DuckDB oracle. The battery's tables are fixed
    (the seed only orders the queries), so the oracles' canonical rows were
    evaluated once and recorded by sha256 in ORACLE_RECORD; an oracle whose
    SQL no longer matches the record is evaluated live."""
    import pandas as pd
    facts = rec["facts"]
    with open(os.path.join(facts["out_dir"], "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(ORACLE_RECORD) as f:
        recorded = json.load(f)
    con = None
    out = []
    for name, sql in sorted(oracles.items()):
        spark_df = pd.concat([pd.read_parquet(p) for p in
                              glob.glob(os.path.join(facts["out_dir"], name, "*.parquet"))],
                             ignore_index=True)
        got = _sha("\n".join(_canon(spark_df)))
        r = recorded.get(name)
        if r is None or r["sql_sha256"] != _sha(sql):
            con = con or _tables(facts["data_dir"])
            r = {"sha256": _sha("\n".join(_canon(con.execute(sql).df())))}
        out.append((f"{name} matches the DuckDB oracle", got == r["sha256"]))
    return out


def record_battery(oracle_sql, data_dir):
    """Evaluates every oracle in DuckDB and writes ORACLE_RECORD."""
    with open(oracle_sql) as f:
        oracles = json.load(f)
    con = _tables(data_dir)
    rec = {}
    for name, sql in sorted(oracles.items()):
        rows = _canon(con.execute(sql).df())
        rec[name] = {"sql_sha256": _sha(sql), "rows": len(rows), "sha256": _sha("\n".join(rows))}
    os.makedirs(os.path.dirname(ORACLE_RECORD), exist_ok=True)
    with open(ORACLE_RECORD, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")


def verdict(workload, record, out):
    """Runs `workload`'s checks on the run record at `record` and writes
    {check name: passed} to `out`, whole or not at all."""
    with open(record) as f:
        rec = json.load(f)
    result = dict(globals()[workload](rec))
    with open(out + ".tmp", "w") as f:
        json.dump(result, f)
    os.rename(out + ".tmp", out)


if __name__ == "__main__":
    # python3 perfbench/check.py verdict <workload> <result.json> <out.json>:
    #   the checks of one run, in a process of their own (run.py)
    # python3 perfbench/check.py record <oracle_sql.json> <data dir>:
    #   re-records the battery oracles (oracle_sql.json is left by a
    #   battery_hot run)
    mode, args = sys.argv[1], sys.argv[2:]
    {"verdict": verdict, "record": record_battery}[mode](*args)
    sys.stdout.flush()
    sys.stderr.flush()
    # the verdict is on disk: leave without running the native libraries'
    # exit-time teardown
    os._exit(0)
