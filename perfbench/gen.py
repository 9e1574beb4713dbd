"""Seeded generator of the TESTDATA.md tables (the star
schema, events, documents, embeddings) as parquet, written with DuckDB.

Every value is a pure hash of (seed, salt, key), so the same seed gives the
same files and another seed changes values but not row counts or shapes.
Row counts follow TESTDATA.md's ratios: 150k·sf customers, 10k·sf
suppliers, 200k·sf parts, 1.5M·sf orders with 1–7 lines each, 1M·sf
events, 50k·sf documents and embeddings."""
import duckdb

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "window", "order", "data",
         "column", "join", "small", "line", "customer", "query", "filter",
         "group", "big", "vector", "the", "a", "sort", "stream"]


def write_tables(out, seed, sf, tables=None):
    """Writes `<out>/<table>.parquet` for each requested table."""
    n = {"customer": max(1, int(150000 * sf)), "supplier": max(1, int(10000 * sf)),
         "part": max(1, int(200000 * sf)), "orders": max(1, int(1500000 * sf)),
         "events": max(1, int(1000000 * sf)), "documents": max(1, int(50000 * sf))}
    s = int(seed)

    def h(salt, k):
        return f"hash({s}, '{salt}', {k})"

    def ui(salt, k, m):
        return f"cast({h(salt, k)} % {m} as bigint)"

    def u(salt, k):
        return f"(({h(salt, k)} % 1000000) / 1000000.0)"

    def pick(salt, k, vs):
        arr = "[" + ", ".join(f"'{v}'" for v in vs) + "]"
        return f"{arr}[{ui(salt, k, len(vs))} + 1]"

    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    sql = {
        "region": "select * from (values (0, 'AFRICA'), (1, 'AMERICA'), "
                  "(2, 'ASIA'), (3, 'EUROPE'), (4, 'MIDDLE EAST')) "
                  "t(r_regionkey, r_name)",
        "nation": "select cast(i as integer) as n_nationkey, "
                  "'NATION_' || i as n_name, cast(i % 5 as integer) as n_regionkey "
                  "from range(25) t(i)",
        "customer": f"""select i as c_custkey, printf('Customer#%09d', i) as c_name,
            cast({ui('cnat', 'i', 25)} as integer) as c_nationkey,
            round({u('cbal', 'i')} * 11000.0 - 1000.0, 2) as c_acctbal,
            {pick('cseg', 'i', ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} as c_mktsegment
            from range({n['customer']}) t(i)""",
        "supplier": f"""select i as s_suppkey, printf('Supplier#%09d', i) as s_name,
            cast({ui('snat', 'i', 25)} as integer) as s_nationkey,
            round({u('sbal', 'i')} * 11000.0 - 1000.0, 2) as s_acctbal
            from range({n['supplier']}) t(i)""",
        "part": f"""select i as p_partkey,
            {pick('padj', 'i', ['small', 'large', 'red', 'blue', 'green', 'shiny', 'rusty', 'plain'])}
              || ' ' || {pick('pnoun', 'i', ['ring', 'widget', 'bolt', 'gear', 'wheel', 'spring', 'plate', 'tube'])} as p_name,
            'Brand#' || ({ui('pbrand', 'i', 25)} + 1) as p_brand,
            {pick('ptype', 'i', ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} as p_type,
            cast({ui('psize', 'i', 50)} + 1 as integer) as p_size,
            round(900.0 + {u('pprice', 'i')} * 100.0, 2) as p_retailprice
            from range({n['part']}) t(i)""",
        "orders": f"""select i as o_orderkey,
            cast({ui('ocust', 'i', n['customer'])} as bigint) as o_custkey,
            {pick('ostat', 'i', ['F', 'O', 'P'])} as o_orderstatus,
            round(1000.0 + {u('oprice', 'i')} * 499000.0, 2) as o_totalprice,
            timestamp '1995-01-01' + to_days(cast({ui('odate', 'i', 2404)} as integer)) as o_orderdate,
            {pick('oprio', 'i', ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} as o_orderpriority
            from range({n['orders']}) t(i)""",
        "lineitem": f"""select o as l_orderkey,
            cast({ui('lpart', 'g', n['part'])} as bigint) as l_partkey,
            cast({ui('lsupp', 'g', n['supplier'])} as bigint) as l_suppkey,
            cast(l + 1 as integer) as l_linenumber,
            cast({ui('lqty', 'g', 50)} + 1 as double) as l_quantity,
            round(cast({ui('lqty', 'g', 50)} + 1 as double) * (900.0 + {u('lunit', 'g')} * 1200.0), 2) as l_extendedprice,
            cast({ui('ldisc', 'g', 11)} as double) / 100.0 as l_discount,
            cast({ui('ltax', 'g', 9)} as double) / 100.0 as l_tax,
            {pick('lret', 'g', ['A', 'N', 'R'])} as l_returnflag,
            {pick('lls', 'g', ['F', 'O'])} as l_linestatus,
            timestamp '1995-01-01' + to_days(cast({ui('odate', 'o', 2404)} + {ui('lship', 'g', 120)} + 1 as integer)) as l_shipdate
            from (select g, g // 7 as o, g % 7 as l from range({n['orders'] * 7}) t(g))
            where l < {ui('nl', 'o', 7)} + 1""",
        "events": f"""select i as event_id,
            timestamp '2024-01-01' + to_microseconds(cast((i * (31536000.0 / {n['events']})
              + {u('ejit', 'i')} * 10.0) * 1000000 as bigint)) as ts,
            cast({ui('euser', 'i', max(10, int(150 * max(sf, 0.001))))} as bigint) as user_id,
            {pick('etype', 'i', ['view', 'click', 'purchase', 'signup', 'error'])} as event_type,
            round({u('eval', 'i')} * 490.0 + 0.01, 2) as value,
            printf('{{"k": %d}}', {ui('eprop', 'i', 100)}) as props
            from range({n['events']}) t(i)""",
        # Every 10th document echoes its anchor's words: the duplicate
        # clusters the dedup operators need.
        "documents": f"""select doc_id, text, lang, source, cast(length(text) as bigint) as n_chars
            from (select i as doc_id,
              array_to_string(list_transform(
                range(0, 10 + cast({ui('dlen', 'a', 90)} as integer)),
                j -> {vocab}[cast(hash({s}, 'dw', a, j) % {len(VOCAB)} as bigint) + 1]), ' ') as text,
              {pick('dlang', 'i', ['en', 'es', 'fr', 'de', 'zh'])} as lang,
              'src' || {ui('dsrc', 'i', 20)} as source
              from (select i, case when i % 10 = 9 then i - 9 else i end as a
                    from range({n['documents']}) t(i)))""",
        "embeddings": f"""select i as vec_id,
            list_transform(range(0, 64), j -> cast(cast(hash({s}, 'emb', a, j) % 2000 as double) / 1000.0 - 1.0 as float)) as embedding,
            cast({ui('elab', 'i', 10)} as integer) as label
            from (select i, case when i % 10 = 9 then i - 9 else i end as a
                  from range({n['documents']}) t(i))""",
    }
    con = duckdb.connect()
    con.execute("set TimeZone = 'UTC'")
    con.execute("set threads = 2")
    for t in tables or sql:
        con.execute(f"copy ({sql[t]}) to '{out}/{t}.parquet' (format parquet)")
    con.close()
