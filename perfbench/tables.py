"""Seeded star-schema tables for analytics_mix, with the schemas and domains
of the repo's fixture (FIXTURES.md). Every value is a hash of (seed, row id,
column), so a seed always gives the same rows; money is whole cents, so sums
are exact on every engine. Each table is written with DuckDB as
<out>/<table>.parquet/part-0.parquet.

    python3 perfbench/tables.py --seed 1 --sf 0.02 --out <dir>
"""
import argparse
import os

import duckdb

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = ["spark", "join", "hash", "table", "scan", "merge", "window", "batch",
         "stream", "shuffle", "sort", "plan", "query", "index", "cache", "graph", "rank",
         "token", "vector", "filter", "group", "reduce", "map", "key", "value", "row",
         "column", "page", "block", "file", "node"]


def rows(sf):
    return {"region": 5, "nation": 25, "customer": int(150000 * sf),
            "supplier": int(10000 * sf), "part": int(200000 * sf),
            "orders": int(1500000 * sf), "lineitem": int(6000000 * sf),
            "events": int(1000000 * sf), "documents": int(50000 * sf),
            "embeddings": int(20000 * sf)}


def lst(xs):
    return "[" + ",".join("'%s'" % x for x in xs) + "]"


def queries(seed, n):
    def u(salt, m, key="id"):
        """Uniform integer in [0, m)."""
        return "(hash(%d, %s, %d) %% %d)::BIGINT" % (seed, key, salt, m)

    def pick(salt, xs, key="id"):
        return "%s[%s + 1]" % (lst(xs), u(salt, len(xs), key))

    def cents(salt, lo, hi, key="id"):
        return "((%s + %d) / 100.0)::DOUBLE" % (u(salt, hi - lo + 1, key), lo)

    def day(days):
        """Midnight `days` after 1995-01-01, as a timestamp."""
        return "(DATE '1995-01-01' + (%s)::INTEGER)::TIMESTAMP" % days

    order_day = lambda key: u(61, 2404, key)  # shared by orders and lineitem
    ok = "(id // 4 + 1)"
    return {
        "region": "select id::INTEGER r_regionkey, %s[id + 1] r_name" % lst(REGIONS),
        "nation": "select id::INTEGER n_nationkey, 'NATION_' || id n_name, "
                  "(id % 5)::INTEGER n_regionkey",
        "customer": "select (id + 1)::BIGINT c_custkey, printf('Customer#%%09d', id + 1) c_name, "
                    "%s::INTEGER c_nationkey, %s c_acctbal, %s c_mktsegment"
                    % (u(1, 25), cents(2, -99999, 999999), pick(3, SEGMENTS)),
        "supplier": "select (id + 1)::BIGINT s_suppkey, printf('Supplier#%%09d', id + 1) s_name, "
                    "%s::INTEGER s_nationkey, %s s_acctbal" % (u(11, 25), cents(12, -99999, 999999)),
        "part": "select (id + 1)::BIGINT p_partkey, 'part ' || (id + 1) p_name, "
                "'Brand#' || (%s + 1) p_brand, %s p_type, (%s + 1)::INTEGER p_size, %s p_retailprice"
                % (u(21, 25), pick(22, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
                   u(23, 50), cents(24, 90000, 209900)),
        "orders": "select (id + 1)::BIGINT o_orderkey, (%s + 1)::BIGINT o_custkey, %s o_orderstatus, "
                  "%s o_totalprice, %s o_orderdate, %s o_orderpriority"
                  % (u(31, n["customer"]), pick(32, ["F", "O", "P"]), cents(33, 101400, 49997900),
                     day(order_day("(id + 1)")),
                     pick(34, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])),
        "lineitem": "select %s::BIGINT l_orderkey, (%s + 1)::BIGINT l_partkey, "
                    "(%s + 1)::BIGINT l_suppkey, (id %% 4 + 1)::INTEGER l_linenumber, "
                    "(%s + 1)::DOUBLE l_quantity, %s l_extendedprice, (%s / 100.0)::DOUBLE l_discount, "
                    "(%s / 100.0)::DOUBLE l_tax, %s l_returnflag, %s l_linestatus, %s l_shipdate"
                    % (ok, u(41, n["part"]), u(42, n["supplier"]), u(43, 50),
                       cents(44, 90200, 10499800), u(45, 11), u(46, 9), pick(47, ["A", "N", "R"]),
                       pick(48, ["F", "O"]), day("%s + %s + 1" % (order_day(ok), u(49, 121)))),
        "events": "select id::BIGINT event_id, TIMESTAMP '2024-01-01 00:00:00' + to_seconds(%s) ts, "
                  "%s AS user_id, %s AS event_type, %s AS value, '{\"k\": ' || %s || '}' AS props"
                  % (u(51, 30 * 86400), u(52, 150),
                     pick(53, ["click", "error", "purchase", "signup", "view"]),
                     cents(54, 1, 49000), u(55, 50)),
        "documents": "select doc_id, text, lang, source, length(text)::BIGINT n_chars from ("
                     "select id::BIGINT doc_id, array_to_string(list_transform(range(1, %s + 9), "
                     "i -> %s[(hash(%d, id, i) %% 31)::BIGINT + 1]), ' ') AS text, %s AS lang, "
                     "'src' || %s AS source" % (u(71, 70), lst(VOCAB), seed,
                                             pick(72, ["de", "en", "es", "fr", "zh"]), u(73, 20)),
        "embeddings": "select id::BIGINT vec_id, list_transform(range(1, 65), "
                      "i -> (((hash(%d, id, i) %% 20001)::BIGINT - 10000) / 10000.0)::FLOAT) embedding, "
                      "%s::INTEGER AS label" % (seed, u(81, 10)),
    }


def write(seed, sf, out):
    n = rows(sf)
    con = duckdb.connect()
    con.execute("set threads to 1")  # one row order for every run
    for t, sel in queries(seed, n).items():
        d = os.path.join(out, t + ".parquet")
        os.makedirs(d, exist_ok=True)
        sql = sel + " from range(%d) t(id)" % n[t] + (")" if t == "documents" else "")
        con.execute("copy (%s) to '%s' (format parquet)" % (sql, os.path.join(d, "part-0.parquet")))
    con.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.seed, a.sf, a.out)
