"""Correctness checks, run by DuckDB after the benchmark JVM has exited.

Each check recomputes the expected answer independently of Spark and
returns a list of problems (empty when the outputs are right).
"""
import os

LI_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
           "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
           "l_shipdate"]


def _digest(con, relation: str, cols) -> tuple:
    """Order-independent digest: row count and the sum of row hashes."""
    row = ", ".join(f"CAST({c} AS VARCHAR)" for c in cols)
    return tuple(con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})::HUGEINT), 0) FROM {relation}").fetchone())


def _parquet(path: str) -> str:
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def check_etl(con, data_dir: str, outputs: dict) -> list:
    """The loaded table against the flight pipeline's DuckDB oracle
    (the repo's q40 oracle SQL over the same lineitem)."""
    con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, 'lineitem.parquet')}')")
    oracle = outputs["etl_oracle_sql"]
    con.execute(f"CREATE OR REPLACE TEMP TABLE etl_oracle AS {oracle}")
    cols = [r[0] for r in con.execute("DESCRIBE etl_oracle").fetchall()]
    want = _digest(con, "etl_oracle", cols)
    got = _digest(con, f"(SELECT {', '.join(cols)} FROM {_parquet(outputs['etl_table'])})", cols)
    if got != want:
        return [f"etl_refresh: loaded table digest {got} != oracle {want}"]
    if got[0] != outputs["etl_rows"]:
        return [f"etl_refresh: oracle has {got[0]} rows, load reported {outputs['etl_rows']}"]
    return []


def _state_sql(epochs: int) -> str:
    """The replica after `epochs` epochs, replayed from the feed log:
    the newest action per key wins (later epoch, then higher commit
    version, then an upsert over its same-version delete)."""
    keys = "l_orderkey, l_linenumber"
    cols = ", ".join(LI_COLS)
    return f"""
    (WITH last AS (
       SELECT * FROM (
         SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY epoch DESC,
                  commit_version DESC, CASE change_type WHEN 'upsert' THEN 0 ELSE 1 END) AS rn
         FROM feed WHERE epoch < {epochs}) WHERE rn = 1)
     SELECT {cols} FROM li ANTI JOIN last USING ({keys})
     UNION ALL
     SELECT {cols} FROM last WHERE change_type = 'upsert')"""


def check_cdc(con, outputs: dict) -> tuple:
    """Every fresh read and the final replica against a replay of the
    seeded feed log over the raw lineitem. Returns (problems, bad reads)."""
    problems, bad = [], 0
    cache = {}
    for r in outputs["cdc_reads"]:
        n = r["epochs"]
        if n not in cache:
            cache[n] = list(con.execute(
                f"SELECT count(*), sum(l_quantity::BIGINT), sum(l_orderkey), sum(l_linenumber) "
                f"FROM {_state_sql(n)}").fetchone())
        if [int(x) for x in r["agg"]] != [int(x) for x in cache[n]]:
            bad += 1
            problems.append(f"cdc_replicate: read after {n} epochs {r['agg']} != replay {cache[n]}")
    want = _digest(con, _state_sql(outputs["cdc_epochs"]), LI_COLS)
    got = _digest(con, _parquet(outputs["cdc_replica"]), LI_COLS)
    if got != want:
        problems.append(f"cdc_replicate: replica digest {got} != replay {want}")
    return problems, bad
