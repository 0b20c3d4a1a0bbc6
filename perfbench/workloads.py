"""Seeded statement generators, one per workload.

Every statement a run sends comes from here, drawn from the run's
seed; the server receives nothing else. Keys are drawn from the whole
key range, so texts rarely repeat within or across runs.
"""
import random
from dataclasses import dataclass

from flightsql import pb_ld

ORDERS, CUSTOMERS, PARTS, DOCS, VECS = 150000, 15000, 20000, 5000, 2000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TABLE_NAMES = ["customer", "documents", "embeddings", "events", "lineitem",
               "nation", "orders", "part", "region", "supplier"]


@dataclass(frozen=True)
class Statement:
    name: str            # template name, used to list failures
    kind: str            # direct | twostep | prepared | metadata
    sql: str             # SQL text, or the metadata command name
    param: int = 0       # the bound $1 of a prepared statement
    body: bytes = b""    # the metadata command's protobuf body
    expect: tuple = ()   # metadata / non-DuckDB statements: expected rows

    @property
    def key(self):
        return (self.kind, self.sql, self.param, self.body)


def _like(name, pattern):
    return name.startswith(pattern[:-1]) if pattern.endswith("%") else name == pattern


# (weight, name, kind, builder(rng) -> (sql, param)). Point and short
# range lookups dominate; the rest are the reference's smoke texts,
# small dimension joins, DuckDB-dialect forms, the ADBC two-step,
# prepared statements and catalog metadata commands.
def _o(r):
    return r.randrange(ORDERS)


def _c(r):
    return r.randrange(CUSTOMERS)


INTERACTIVE = [
    (10, "orders_point", "direct", lambda r: (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
        f"o_orderpriority FROM orders WHERE o_orderkey = {_o(r)}", 0)),
    (8, "customer_point", "direct", lambda r: (
        f"SELECT * FROM customer WHERE c_custkey = {_c(r)}", 0)),
    (5, "lineitem_order", "direct", lambda r: (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_shipdate "
        f"FROM lineitem WHERE l_orderkey = {_o(r)}", 0)),
    (6, "orders_range", "direct", lambda r: (
        (lambda k: "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
         f"WHERE o_orderkey BETWEEN {k} AND {k + 25}")(_o(r)), 0)),
    (5, "customer_segment_range", "direct", lambda r: (
        (lambda k: "SELECT c_custkey, c_name, c_acctbal FROM customer "
         f"WHERE c_custkey BETWEEN {k} AND {k + 40} "
         f"AND c_mktsegment = '{r.choice(SEGMENTS)}'")(_c(r)), 0)),
    (3, "lineitem_range_agg", "direct", lambda r: (
        (lambda k: "SELECT l_orderkey, count(*) AS n, sum(l_quantity) AS qty "
         f"FROM lineitem WHERE l_orderkey BETWEEN {k} AND {k + 5} "
         "GROUP BY l_orderkey")(_o(r)), 0)),
    (4, "customer_nation_join", "direct", lambda r: (
        "SELECT c.c_name, n.n_name, r.r_name FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "JOIN region r ON n.n_regionkey = r.r_regionkey "
        f"WHERE c.c_custkey = {_c(r)}", 0)),
    (4, "order_customer_join", "direct", lambda r: (
        "SELECT o.o_orderkey, c.c_name, o.o_totalprice FROM orders o "
        f"JOIN customer c ON o.o_custkey = c.c_custkey WHERE o.o_orderkey = {_o(r)}", 0)),
    (3, "region_supplier_count", "direct", lambda r: (
        "SELECT n_name, count(*) AS suppliers FROM supplier "
        "JOIN nation ON s_nationkey = n_nationkey "
        f"WHERE n_regionkey = {r.randrange(5)} GROUP BY n_name", 0)),
    (3, "duckdb_strftime", "direct", lambda r: (
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS d "
        f"FROM orders WHERE o_orderkey = {_o(r)}", 0)),
    (3, "duckdb_ilike", "direct", lambda r: (
        "SELECT c_custkey, c_name ILIKE 'customer#%' AS m FROM customer "
        f"WHERE c_custkey = {_c(r)}", 0)),
    (2, "smoke_select1", "direct", lambda r: ("SELECT 1 AS a", 0)),
    (1, "smoke_extensions", "direct", lambda r: (
        "SELECT extension_name FROM duckdb_extensions() WHERE installed", 0)),
    (6, "twostep_orders_point", "twostep", lambda r: (
        f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey = {_o(r)}", 0)),
    (4, "twostep_customer_point", "twostep", lambda r: (
        f"SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey = {_c(r)}", 0)),
    (6, "prepared_orders_point", "prepared", lambda r: (
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey = $1",
        _o(r))),
    (4, "prepared_customer_point", "prepared", lambda r: (
        "SELECT c_name, c_acctbal FROM customer WHERE c_custkey = $1", _c(r))),
    (2, "metadata_get_tables", "metadata", None),
    (1, "metadata_db_schemas", "metadata", None),
    (1, "metadata_table_types", "metadata", None),
]

METADATA_PATTERNS = ["ord%", "line%", "cust%", "part", "nat%", "reg%", "emb%", "doc%"]


def _statement(template, rng):
    _, name, kind, build = template
    if name == "metadata_get_tables":
        pattern = rng.choice(METADATA_PATTERNS)
        return Statement(name, kind, "CommandGetTables", body=pb_ld(3, pattern),
                         expect=tuple(t for t in TABLE_NAMES if _like(t, pattern)))
    if name == "metadata_db_schemas":
        return Statement(name, kind, "CommandGetDbSchemas")
    if name == "metadata_table_types":
        return Statement(name, kind, "CommandGetTableTypes")
    sql, param = build(rng)
    return Statement(name, kind, sql, param)


def _schedule(templates):
    """The template sequence every run sends: one slot per unit of
    weight, in an order fixed by a constant (not the run's seed), so
    runs differ only in keys and a run's mix does not depend on luck."""
    slots = [t for t in templates for _ in range(t[0])]
    random.Random("perfbench-schedule").shuffle(slots)
    return slots


def interactive(rng, n, client=0, clients=1):
    """n statements of the short mix; each client starts at its own
    offset in the shared schedule."""
    slots = _schedule(INTERACTIVE)
    off = client * len(slots) // clients
    return [_statement(slots[(off + j) % len(slots)], rng) for j in range(n)]


# Large results: fixed-size key ranges, so every seed moves about the
# same rows and bytes (the same exactly where keys are dense). Each
# result is 0.45 to 1.6 MB of Arrow and exceeds the transport window;
# a run completes well over 100, so p90 has ten samples beyond it.
# The template count is odd: with an even count the median falls on
# the boundary between two templates' latencies and jumps between
# them from run to run. Three send the text as the ticket, four go
# through ADBC's GetFlightInfo-then-DoGet.
EXPORT = [
    ("lineitem_star_range", "direct", lambda r: (lambda k: (
        "SELECT * FROM lineitem "
        f"WHERE l_orderkey BETWEEN {k} AND {k + 4999}"))(r.randrange(ORDERS - 5000))),
    ("lineitem_projected", "twostep", lambda r: (lambda k: (
        "SELECT l_orderkey, l_partkey, l_extendedprice, l_discount FROM lineitem "
        f"WHERE l_orderkey BETWEEN {k} AND {k + 11999}"))(r.randrange(ORDERS - 12000))),
    ("orders_star", "twostep", lambda r: (lambda k: (
        f"SELECT * FROM orders WHERE o_orderkey BETWEEN {k} AND {k + 29999}"))(
            r.randrange(ORDERS - 30000))),
    ("orders_projected", "direct", lambda r: (lambda k: (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
        f"WHERE o_orderkey BETWEEN {k} AND {k + 59999}"))(r.randrange(ORDERS - 60000))),
    ("documents_star", "direct", lambda r: (lambda k: (
        f"SELECT * FROM documents WHERE doc_id BETWEEN {k} AND {k + 3999}"))(
            r.randrange(DOCS - 4000))),
    ("embeddings_star", "twostep", lambda r: (lambda k: (
        f"SELECT * FROM embeddings WHERE vec_id BETWEEN {k} AND {k + 1599}"))(
            r.randrange(VECS - 1600))),
    ("part_star", "twostep", lambda r: (lambda k: (
        f"SELECT * FROM part WHERE p_partkey BETWEEN {k} AND {k + 15999}"))(
            r.randrange(PARTS - 16000))),
]


def export(rng, n, client=0, clients=1):
    """n large-result statements, cycling through the templates in a
    fixed order."""
    return [Statement(name, kind, build(rng))
            for name, kind, build in (EXPORT[j % len(EXPORT)] for j in range(n))]


GENERATORS = {"interactive": interactive, "export": export}


def warm(workload, rng, clients):
    """Untimed warm-up streams: every template at least once, spread
    over the clients."""
    if workload == "interactive":
        stmts = [_statement(t, rng) for t in INTERACTIVE * 2]
    else:
        stmts = export(rng, 2 * len(EXPORT))
    return [stmts[c::clients] for c in range(clients)]


def streams(workload, seed, clients, per_client):
    """One independent statement stream per client, all from the seed."""
    gen = GENERATORS[workload]
    return [gen(random.Random(f"{seed}/{workload}/{c}"), per_client, c, clients)
            for c in range(clients)]


def pipeline_sample(seed, families, per_family):
    """Operator queries for the traced run: per_family names drawn from
    each family, in a seeded order."""
    r = random.Random(f"{seed}/pipeline")
    names = []
    for fam in sorted(families):
        names.extend(r.sample(sorted(families[fam]), min(per_family, len(families[fam]))))
    r.shuffle(names)
    return names
