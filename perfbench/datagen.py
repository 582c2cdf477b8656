"""Seeded inputs for the benchmark, written with DuckDB.

`lineitem.parquet` has the schema of the TPC-H-style `lineitem` fixture
the flight pipeline synthesises its six sources from; `warm/` holds a
copy with 1/8 of the orders for warm-up refreshes. `feed/epoch=<e>/`
holds the CDC feed log: per epoch about 1% of the orders, each order
either deleted, updated (a delete and an upsert at the same commit
version) or copied into a new order (inserts). The same seed gives the
same files.
"""
import os

ORDER_SPAN = 10_000_000  # inserted orders get keys above every original key


def lineitem_sql(seed: int, orders: int) -> str:
    parts, supps = max(1000, orders * 2 // 15), max(100, orders // 150)

    def h(k: int) -> str:
        return f"hash(ok, ln, {seed}, {k})"

    return f"""
    SELECT ok AS l_orderkey,
           ({h(2)} % {parts})::BIGINT AS l_partkey,
           ({h(3)} % {supps})::BIGINT AS l_suppkey,
           ln::INTEGER AS l_linenumber,
           (1 + {h(4)} % 50)::DOUBLE AS l_quantity,
           round(900 + ({h(5)} % 10410000) / 100.0, 2)::DOUBLE AS l_extendedprice,
           (({h(6)} % 11) / 100.0)::DOUBLE AS l_discount,
           (({h(7)} % 9) / 100.0)::DOUBLE AS l_tax,
           ['A', 'N', 'R'][1 + ({h(8)} % 3)::INTEGER] AS l_returnflag,
           ['O', 'F'][1 + ({h(9)} % 2)::INTEGER] AS l_linestatus,
           TIMESTAMP '1995-01-02' + to_days(({h(10)} % 2498)::INTEGER) AS l_shipdate
    FROM (SELECT range AS ok, 1 + (hash(range, {seed}, 1) % 7)::INTEGER AS nl
          FROM range({orders})) o,
         (SELECT range::INTEGER AS ln FROM range(1, 8)) l
    WHERE ln <= nl
    ORDER BY l_orderkey, l_linenumber"""


def feed_sql(seed: int, epochs: int) -> str:
    """Feed rows of every epoch, over a table `li` holding the lineitem."""
    return f"""
    WITH chosen AS (
      SELECT e.range AS epoch, o.ok,
             (hash(e.range, o.ok, {seed}, 21) % 3)::INTEGER AS act,
             (e.range * 4 + hash(e.range, o.ok, {seed}, 22) % 4)::BIGINT AS cv
      FROM range({epochs}) e, (SELECT DISTINCT l_orderkey AS ok FROM li) o
      WHERE hash(e.range, o.ok, {seed}, 20) % 100 = 0),
    rows AS (SELECT c.epoch, c.act, c.cv, li.* FROM chosen c JOIN li ON li.l_orderkey = c.ok)
    SELECT epoch, * EXCLUDE (epoch, act, cv), 'delete' AS change_type, cv AS commit_version
      FROM rows WHERE act IN (0, 1)
    UNION ALL
    SELECT epoch, * EXCLUDE (epoch, act, cv)
             REPLACE (((l_quantity::BIGINT + epoch) % 50 + 1)::DOUBLE AS l_quantity,
                      round(l_extendedprice * 1.01, 2)::DOUBLE AS l_extendedprice),
           'upsert', cv
      FROM rows WHERE act = 1
    UNION ALL
    SELECT epoch, * EXCLUDE (epoch, act, cv)
             REPLACE (l_orderkey + (epoch + 1) * {ORDER_SPAN} AS l_orderkey),
           'upsert', cv
      FROM rows WHERE act = 2
    ORDER BY epoch, l_orderkey, l_linenumber, change_type"""


def generate(con, out_dir: str, seed: int, orders: int, epochs: int) -> dict:
    """Write the inputs under `out_dir` (no feed log when `epochs` is 0);
    returns their sizes."""
    os.makedirs(out_dir, exist_ok=True)
    li = os.path.join(out_dir, "lineitem.parquet")
    con.execute(f"CREATE OR REPLACE TABLE li AS {lineitem_sql(seed, orders)}")
    con.execute(f"COPY li TO '{li}' (FORMAT PARQUET)")
    # a small copy for the flight pipeline's warm-up refreshes
    os.makedirs(os.path.join(out_dir, "warm"), exist_ok=True)
    con.execute(f"COPY ({lineitem_sql(seed, orders // 8)}) TO "
                f"'{os.path.join(out_dir, 'warm', 'lineitem.parquet')}' (FORMAT PARQUET)")
    rows = con.execute("SELECT count(*) FROM li").fetchone()[0]
    sizes = {"orders": orders, "lineitem_rows": rows, "lineitem_bytes": os.path.getsize(li),
             "equivalent_tpch_sf": rows / 6_000_000}
    if epochs == 0:
        return sizes
    feed = os.path.join(out_dir, "feed")
    con.execute(f"CREATE OR REPLACE TABLE feed AS {feed_sql(seed, epochs)}")
    con.execute(f"COPY feed TO '{feed}' (FORMAT PARQUET, PARTITION_BY (epoch))")
    counts = con.execute("SELECT epoch, count(*) FROM feed GROUP BY epoch ORDER BY epoch").fetchall()
    with open(os.path.join(out_dir, "feed_rows.txt"), "w") as f:
        f.writelines(f"{e} {n}\n" for e, n in counts)
    return {**sizes, "feed_epochs": len(counts),
            "feed_rows_per_epoch_mean": sum(n for _, n in counts) / max(1, len(counts))}
