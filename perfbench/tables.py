"""Seeded input tables for the ops_suite workload, written with DuckDB.

TPC-H-ish star schema plus the events / documents / embeddings tables the
operator queries read, at scale factor `sf`, in the layout
`graft.core.Tables` reads: `<dir>/<table>.parquet/part-0.parquet`. Every
value is a hash of (seed, row key, stream), so a seed always gives the same
tables. Timestamps are naive (Spark reads them as TIMESTAMP_NTZ), the shape
of the engine's reference testdata.
"""
import os
import shutil

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "filter", "fast", "group",
         "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
         "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window"]


def _lit(values):
    return "[" + ", ".join("'%s'" % v for v in values) + "]"


def table_sql(seed, sf):
    """(name, SELECT) for every table."""
    def rows(per_sf, least=1):
        return max(least, round(per_sf * sf))

    n_customer, n_supplier, n_part = rows(150000), rows(10000), rows(200000)
    n_orders, n_events, n_users = rows(1500000), rows(1000000), rows(15000)
    n_documents, n_embeddings = rows(50000, 500), rows(20000, 500)

    def u(stream, key="i"):
        return "(hash(%d, %s, %d) / 18446744073709551616.0)" % (seed, key, stream)

    def below(n, stream, key="i"):
        return "CAST(floor(%s * %d) AS BIGINT)" % (u(stream, key), n)

    def pick(values, stream):
        return "(%s)[%s + 1]" % (_lit(values), below(len(values), stream))

    def money(lo, hi, stream):
        return "round(%r + %s * %r, 2)" % (lo, u(stream), hi - lo)

    def day(start, days, stream):
        return "CAST(DATE '%s' + CAST(%s AS INTEGER) AS TIMESTAMP)" % (start, below(days, stream))

    def text(key):
        ntok = "8 + %s" % below(93, 11, key)
        return ("array_to_string(list_transform(range(%s), j -> %s[CAST(hash(%d, %s, j) %% %d AS BIGINT) + 1]), ' ')"
                % (ntok, _lit(VOCAB), seed, key, len(VOCAB)))

    span_us = 30 * 24 * 3600 * 1000000
    gauss = ("list_transform(range(64), d -> sqrt(-2 * ln(1 - hash(%d, i, 100 + 2 * d) / 18446744073709551616.0))"
             " * cos(2 * pi() * hash(%d, i, 101 + 2 * d) / 18446744073709551616.0))" % (seed, seed))
    return [
        ("region", "SELECT CAST(i AS INTEGER) AS r_regionkey, %s[i + 1] AS r_name FROM range(5) t(i)"
         % _lit(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])),
        ("nation", "SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name, "
                   "CAST(i % 5 AS INTEGER) AS n_regionkey FROM range(25) t(i)"),
        ("customer", "SELECT i AS c_custkey, printf('Customer#%%09d', i) AS c_name, "
                     "CAST(%s AS INTEGER) AS c_nationkey, %s AS c_acctbal, %s AS c_mktsegment "
                     "FROM range(%d) t(i)"
         % (below(25, 1), money(-999.99, 9999.99, 2),
            pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], 3), n_customer)),
        ("supplier", "SELECT i AS s_suppkey, printf('Supplier#%%09d', i) AS s_name, "
                     "CAST(%s AS INTEGER) AS s_nationkey, %s AS s_acctbal FROM range(%d) t(i)"
         % (below(25, 1), money(-999.99, 9999.99, 2), n_supplier)),
        ("part", "SELECT i AS p_partkey, %s || ' ' || %s AS p_name, 'Brand#' || (%s + 1) AS p_brand, "
                 "%s AS p_type, CAST(%s + 1 AS INTEGER) AS p_size, "
                 "round(900.0 + (i %% 1000) / 10.0, 2) AS p_retailprice FROM range(%d) t(i)"
         % (pick(["blue", "cold", "hot", "large", "new", "old", "red", "small"], 1),
            pick(["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"], 2),
            below(25, 3), pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], 4),
            below(50, 5), n_part)),
        ("orders", "SELECT i AS o_orderkey, %s AS o_custkey, %s AS o_orderstatus, "
                   "%s AS o_totalprice, %s AS o_orderdate, %s AS o_orderpriority FROM range(%d) t(i)"
         % (below(n_customer, 1), pick(["F", "O", "P"], 2), money(1000.0, 500000.0, 3),
            day("1995-01-01", 2404, 4),
            pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], 5), n_orders)),
        # 1..7 lines per order (4 on average), each keyed by orderkey * 8 + line.
        ("lineitem", "SELECT l_orderkey, %s AS l_partkey, %s AS l_suppkey, l_linenumber, "
                     "CAST(%s + 1 AS DOUBLE) AS l_quantity, %s AS l_extendedprice, "
                     "%s / 100.0 AS l_discount, %s / 100.0 AS l_tax, %s AS l_returnflag, "
                     "%s AS l_linestatus, %s AS l_shipdate FROM ("
                     "SELECT o AS l_orderkey, CAST(k AS INTEGER) AS l_linenumber, o * 8 + k AS i "
                     "FROM (SELECT i AS o, unnest(range(1, %s + 2)) AS k FROM range(%d) t(i)))"
         % (below(n_part, 2), below(n_supplier, 3), below(50, 4), money(900.0, 105000.0, 5),
            below(11, 6), below(9, 7), pick(["A", "N", "R"], 8), pick(["F", "O"], 9),
            day("1995-01-02", 2498, 10), below(7, 1), n_orders)),
        # Non-decreasing ts along event_id over January 2024, as in a log.
        ("events", "SELECT i AS event_id, make_timestamp(1704067200000000 + "
                   "CAST(floor((i + %s) * %r) AS BIGINT)) AS ts, %s AS user_id, %s AS event_type, "
                   "%s AS value, '{\"k\": ' || %s || '}' AS props FROM range(%d) t(i)"
         % (u(1), span_us / n_events, below(n_users, 2),
            pick(["click", "error", "purchase", "signup", "view"], 3), money(0.01, 500.0, 4),
            below(100, 5), n_events)),
        # ~5% near-duplicates: an earlier document's text plus one token.
        ("documents", "SELECT i AS doc_id, txt AS text, %s AS lang, 'src' || %s AS source, "
                      "CAST(length(txt) AS BIGINT) AS n_chars FROM ("
                      "SELECT i, CASE WHEN src <> i THEN %s || ' dup' ELSE %s END AS txt FROM ("
                      "SELECT i, CASE WHEN %s < 0.05 AND i > 0 THEN i - 1 - %s ELSE i END AS src "
                      "FROM range(%d) t(i)))"
         % (pick(["en", "en", "en", "de", "es", "fr", "zh"], 3), below(20, 4), text("src"),
            text("i"), u(1), "CAST(floor(%s * least(i, 10)) AS BIGINT)" % u(2), n_documents)),
        # Unit-norm 64-d gaussian vectors with a 10-way label.
        ("embeddings", "SELECT i AS vec_id, list_transform(v, x -> CAST(x / sqrt(list_sum("
                       "list_transform(v, y -> y * y))) AS FLOAT)) AS embedding, "
                       "CAST(%s AS INTEGER) AS label FROM (SELECT i, %s AS v FROM range(%d) t(i))"
         % (below(10, 1), gauss, n_embeddings)),
    ]


def generate(data_dir, seed, sf):
    """Writes the tables once per (seed, sf); returns their directory."""
    import duckdb
    out = os.path.join(data_dir, "ops-s%d-sf%s" % (seed, sf))
    done = os.path.join(out, "_SUCCESS")
    if os.path.isfile(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    con = duckdb.connect()
    for name, sql in table_sql(seed, sf):
        os.makedirs(os.path.join(out, name + ".parquet"))
        con.execute("COPY (%s) TO '%s' (FORMAT parquet)"
                    % (sql, os.path.join(out, name + ".parquet", "part-0.parquet")))
    open(done, "w").close()
    return out
