"""DuckDB oracle for analytics_mix: the same fourteen entries in DuckDB's
dialect, over the parquet tables the run generated, hashed with the repo's
canonical rendering (verification/t2_canon.py, which graft.verify.Canon
matches)."""
import os
import sys

REV = ("round(cast(sum(cast(l.l_extendedprice as decimal(18,4))"
       "*cast(1-l.l_discount as decimal(18,4))) as double),4)")

SQL = {
    "q_agg_tpch1": """select l_returnflag, l_linestatus,
        round(cast(sum(cast(l_quantity as decimal(18,4))) as double),4) sq,
        round(cast(sum(cast(l_extendedprice as decimal(18,4))) as double),4) sp,
        round(cast(sum(cast(l_extendedprice as decimal(18,4))*cast(1-l_discount as decimal(18,4))) as double),4) net,
        count(*) c
        from lineitem where l_shipdate <= timestamp '{cutoff} 00:00:00'
        group by l_returnflag, l_linestatus order by l_returnflag, l_linestatus""",
    "q_join3_topk": """select o.o_orderkey, %s rev
        from customer c join orders o on c.c_custkey=o.o_custkey
        join lineitem l on l.l_orderkey=o.o_orderkey
        where c.c_mktsegment='{segment}'
        group by o.o_orderkey order by rev desc, o.o_orderkey limit 10""" % REV,
    "q_join5": """select n.n_name, %s rev
        from region r join nation n on n.n_regionkey=r.r_regionkey
        join customer c on c.c_nationkey=n.n_nationkey
        join orders o on o.o_custkey=c.c_custkey
        join lineitem l on l.l_orderkey=o.o_orderkey
        where r.r_name='{region}'
        group by n.n_name order by rev desc, n.n_name""" % REV,
    "q_wordcount": """select w, count(*) c from (select unnest(string_split(text,' ')) w from documents) t
        group by w order by c desc, w limit 20""",
    "q_cosine_topk": """select g.vec_id, round(list_cosine_similarity(p.embedding::DOUBLE[], g.embedding::DOUBLE[]),6) sim
        from embeddings g join embeddings p on p.vec_id=0
        order by sim desc, g.vec_id limit 10""",
    "q_window_run": """select o_orderkey, o_custkey,
        round(sum(o_totalprice) over (partition by o_custkey order by o_orderdate, o_orderkey rows between unbounded preceding and current row),2) run,
        row_number() over (partition by o_custkey order by o_orderdate, o_orderkey) rn
        from orders order by o_custkey, rn limit 100""",
    "q_tumble": """select date_trunc('hour', ts) w, event_type, count(*) c,
        round(cast(sum(cast(value as decimal(18,4))) as double),4) v
        from events group by date_trunc('hour', ts), event_type order by w, event_type""",
    "q_distinct": """select count(distinct o_custkey) a, count(distinct o_orderpriority) b,
        count(distinct o_orderstatus) c from orders""",
    "q_rollup": """select l_returnflag f, l_linestatus s, count(*) c from lineitem
        group by rollup(l_returnflag, l_linestatus) order by f nulls first, s nulls first""",
    "q_sort_limit": """select l_orderkey, l_linenumber, l_extendedprice from lineitem
        order by l_extendedprice desc, l_orderkey, l_linenumber limit 50""",
    "q_json": """select cast(json_extract(props,'$.k') as integer) k, count(*) c,
        round(cast(sum(cast(value as decimal(18,4))) as double),4) v
        from events group by cast(json_extract(props,'$.k') as integer) order by k limit 20""",
    "q_dedup": """select count(*) dup_groups from (
        select md5(substr(text,1,16)) h from documents group by md5(substr(text,1,16)) having count(*) > 1) t""",
    "mr_wordcount": """select w, count(*) c from (select unnest(string_split(text,' ')) w from documents) t
        group by w order by c desc, w""",
    "mr_supplier_revenue": """select l_suppkey,
        sum(cast(round(l_extendedprice*100) as bigint) * cast(100 - round(l_discount*100) as bigint)) rev
        from lineitem where l_shipdate <= timestamp '{cutoff} 00:00:00'
        group by l_suppkey order by l_suppkey""",
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_module(root):
    sys.path.insert(0, os.path.join(root, "verification"))
    import t2_canon  # noqa: E402  (the repo's canonical rendering)
    return t2_canon


def expected_hashes(root, data_dir, executions):
    """Return {(entry, params-key): (hash, rows)} for each distinct execution."""
    import duckdb
    canon = canon_module(root)
    con = duckdb.connect()
    con.execute("set threads to 2")
    for t in TABLES:
        con.execute("create view %s as select * from read_parquet('%s/%s.parquet/*.parquet')"
                    % (t, data_dir, t))
    out = {}
    for e in executions:
        key = (e["entry"], tuple(sorted(e["params"].items())))
        if key in out:
            continue
        sql = SQL[e["entry"]]
        for k, v in e["params"].items():
            sql = sql.replace("{%s}" % k, v)
        rows = con.execute(sql).fetchall()
        h, _ = canon.canon_rows(rows)
        out[key] = (h, len(rows))
    con.close()
    return out


def mismatches(root, data_dir, executions, corrupt=False):
    """Executions whose engine hash differs from DuckDB's. `corrupt` alters
    every expected hash, to show that the check catches a wrong value."""
    exp = expected_hashes(root, data_dir, executions)
    bad = []
    for e in executions:
        h, n = exp[(e["entry"], tuple(sorted(e["params"].items())))]
        if corrupt:
            h = "0" * len(h)
        if e["hash"] != h or e["rows"] != n:
            bad.append({"entry": e["entry"], "params": e["params"],
                        "got": e["hash"], "want": h})
    return bad
