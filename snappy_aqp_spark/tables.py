"""Static schemas of the driver's test tables (TESTDATA.md contract).

Used by the oracle emitters, which must produce SQL strings without a live
session. Column order matters only for SELECT lists, not comparisons.
"""

from __future__ import annotations

TABLE_COLUMNS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey", "r_name"),
    "nation": ("n_nationkey", "n_name", "n_regionkey"),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"),
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}
# the built-in schema names: sessions add the tables they register to
# TABLE_COLUMNS, so membership there does not mean built-in
BUILTIN_TABLES = frozenset(TABLE_COLUMNS)

# conservative |value| upper bounds per numeric column (power-of-two), used
# to pick reproducible-mode quantization scales for SQL-front-end queries
# (explicit specs carry their own max_abs). Exceeding a bound only costs
# lattice precision headroom, never correctness.
DEFAULT_COL_BOUNDS: dict[str, float] = {
    "l_extendedprice": 2.0 ** 17, "l_quantity": 2.0 ** 6,
    "l_discount": 1.0, "l_tax": 1.0,
    "o_totalprice": 2.0 ** 19, "c_acctbal": 2.0 ** 14,
    "s_acctbal": 2.0 ** 14, "p_retailprice": 2.0 ** 11,
    "p_size": 2.0 ** 6, "value": 2.0 ** 9, "n_chars": 2.0 ** 11,
}

# unique integer key columns per table (for the deterministic PRNG)
TABLE_KEYS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey", "l_linenumber"),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
