#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the engine's ten input tables (the TESTDATA star schema plus
events, documents and embeddings) as one parquet file each (pyarrow
writer, one file per table, like the engine's test data), in row groups
of at most ROW_GROUP rows. The test data's single row group per table
puts every row of a table in one of the scan's splits, and whether the
sort's range sampling then re-reads the table depends on the file's
size, so the work of a pass would change with the seed.

Every value is a pure function of (row id, seed, column salt): the same
seed and factor give byte-identical inputs, and any row can be generated
without the others. The scheme follows the engine's `ScaleGen` test
generator (uniform TPC-H-ish columns, ~5.1% near-duplicate documents,
unit-norm 64-dim embeddings with ~1% near-copies, exponential event
values), with the hash drawn from DuckDB and salted by the seed.

Row counts follow the test data's own scaling: at factor f, lineitem has
6,000,000·f rows, orders 1,500,000·f, events 1,000,000·f, customer
150,000·f, part 200,000·f and supplier 10,000·f, so factor 0.01 and 0.1
have the shape of the `sf0.01` and `sf0.1` test sets (graph degree,
join fan-out, events per user).

Usage: python3 perfbench/gen.py --seed 42 --factor 0.1 [--out DIR]
Output is cached under perfbench/.data/ keyed by (seed, factor); a
cached set is reused, not regenerated.
"""
import argparse
import os
import shutil
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
ROW_GROUP = 50_000


def row_counts(factor):
    def n(rows):
        return max(1, round(rows * factor))
    return {
        "region": 5, "nation": 25,
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000),
        "events": n(1_000_000), "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def sql_list(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def table_sql(name, seed, c):
    """The SELECT that generates `name`; `id` is the row id."""
    def h(salt, key="id"):
        return f"hash({key}, {seed}::BIGINT, {salt}::BIGINT)"

    def ui(salt, n, key="id"):
        return f"({h(salt, key)} % {n})::BIGINT"

    def u(salt, key="id"):
        return f"(({h(salt, key)} % 1000000)::DOUBLE / 1e6)"

    def pick(salt, vals):
        return f"{sql_list(vals)}[1 + {ui(salt, len(vals))}]"

    rng = lambda n: f"FROM range({n}) t(id)"
    if name == "region":
        names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        return (f"SELECT id::INTEGER AS r_regionkey, "
                f"{sql_list(names)}[1 + id] AS r_name {rng(5)}")
    if name == "nation":
        return ("SELECT id::INTEGER AS n_nationkey, 'NATION_' || id AS n_name, "
                f"(id % 5)::INTEGER AS n_regionkey {rng(25)}")
    if name == "customer":
        return (f"SELECT id AS c_custkey, 'Customer#' || lpad(id::VARCHAR, 9, '0') AS c_name, "
                f"{ui(1, 25)}::INTEGER AS c_nationkey, "
                f"round(-999.99 + {u(2)} * 10999.98, 2) AS c_acctbal, "
                f"{pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment "
                f"{rng(c['customer'])}")
    if name == "supplier":
        return (f"SELECT id AS s_suppkey, 'Supplier#' || lpad(id::VARCHAR, 9, '0') AS s_name, "
                f"{ui(5, 25)}::INTEGER AS s_nationkey, "
                f"round(-999.99 + {u(6)} * 10999.98, 2) AS s_acctbal {rng(c['supplier'])}")
    if name == "part":
        return (f"SELECT id AS p_partkey, {pick(7, PART_ADJ)} || ' ' || {pick(8, PART_NOUN)} AS p_name, "
                f"'Brand#' || (1 + {ui(9, 25)}) AS p_brand, "
                f"{pick(10, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'])} AS p_type, "
                f"(1 + {ui(11, 50)})::INTEGER AS p_size, "
                f"900.0 + (id % 1000) / 10.0 AS p_retailprice {rng(c['part'])}")
    if name == "orders":
        return (f"SELECT id AS o_orderkey, {ui(31, c['customer'])} AS o_custkey, "
                f"{pick(32, ['O', 'P', 'F'])} AS o_orderstatus, "
                f"round(1000.0 + {u(33)} * 499000.0, 2) AS o_totalprice, "
                f"(DATE '1995-01-01' + {ui(34, 2400)}::INTEGER)::TIMESTAMP AS o_orderdate, "
                f"{pick(35, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority "
                f"{rng(c['orders'])}")
    if name == "lineitem":
        return (f"SELECT {ui(11, c['orders'])} AS l_orderkey, {ui(12, c['part'])} AS l_partkey, "
                f"{ui(13, c['supplier'])} AS l_suppkey, (1 + {ui(14, 7)})::INTEGER AS l_linenumber, "
                f"(1 + {ui(15, 50)})::DOUBLE AS l_quantity, "
                f"round(900.0 + {u(16)} * 104100.0, 2) AS l_extendedprice, "
                f"{ui(17, 11)}::DOUBLE / 100.0 AS l_discount, {ui(18, 9)}::DOUBLE / 100.0 AS l_tax, "
                f"{pick(19, ['A', 'N', 'R'])} AS l_returnflag, {pick(20, ['F', 'O'])} AS l_linestatus, "
                f"(DATE '1995-01-02' + {ui(21, 2499)}::INTEGER)::TIMESTAMP AS l_shipdate "
                f"{rng(c['lineitem'])}")
    if name == "events":
        return (f"SELECT id AS event_id, "
                f"TIMESTAMP '2024-01-01' + to_microseconds({ui(41, 30 * 86400 * 1000000)}) AS ts, "
                f"{ui(42, c['users'])} AS user_id, "
                f"{pick(43, ['view', 'click', 'purchase', 'signup', 'error'])} AS event_type, "
                f"round(-50.0 * ln(1.0 - {u(44)}), 2) AS value, "
                f"'{{\"k\": ' || {ui(45, 100)} || '}}' AS props {rng(c['events'])}")
    if name == "documents":
        # 10-100 vocabulary words per document; ~5.1% of documents repeat
        # an earlier document's text + " dup"
        return (f"WITH base AS (SELECT id, string_agg({sql_list(VOCAB)}"
                f"[1 + (hash(id, {seed}::BIGINT, 100 + s) % {len(VOCAB)})::BIGINT], ' ' ORDER BY s) AS btext "
                f"FROM range({c['documents']}) t(id), range(100) w(s) WHERE s < 10 + {ui(60, 91)} GROUP BY id), "
                f"src AS (SELECT id, btext, id > 0 AND {u(61)} < 0.051 AS is_dup, "
                f"CASE WHEN id > 0 AND {u(61)} < 0.051 THEN ({h(62)} % greatest(id, 1))::BIGINT "
                f"ELSE id END AS src FROM base) "
                f"SELECT s.id AS doc_id, CASE WHEN s.is_dup THEN b.btext || ' dup' ELSE s.btext END AS text, "
                f"CASE WHEN {u(63, 's.id')} < 0.412 THEN 'en' WHEN {u(63, 's.id')} < 0.559 THEN 'de' "
                f"WHEN {u(63, 's.id')} < 0.706 THEN 'zh' WHEN {u(63, 's.id')} < 0.853 THEN 'fr' "
                f"ELSE 'es' END AS lang, 'src' || (s.id % 20) AS source, "
                f"length(text)::BIGINT AS n_chars "
                f"FROM src s JOIN base b ON b.id = s.src ORDER BY s.id")
    if name == "embeddings":
        # ~1% near-copies of the previous vector, perturbed ±0.02 per dim
        return (f"WITH v AS (SELECT id, CASE WHEN id > 0 AND {u(71)} < 0.01 THEN id - 1 ELSE id END AS vsrc "
                f"{rng(c['embeddings'])}), "
                f"r AS (SELECT id, list_transform(range(64), i -> "
                f"(hash(vsrc, {seed}::BIGINT, 3000 + i) % 2000001)::DOUBLE / 1e6 - 1.0 + "
                f"CASE WHEN vsrc <> id THEN ((hash(id, {seed}::BIGINT, 4000 + i) % 2001)::DOUBLE / 1e3 - 1.0) * 0.02 "
                f"ELSE 0.0 END) AS raw FROM v) "
                f"SELECT id AS vec_id, list_transform(raw, x -> (x / sqrt(list_sum(list_transform(raw, y -> y * y))))::FLOAT) "
                f"AS embedding, {ui(72, 10)}::INTEGER AS label FROM r ORDER BY id")
    raise ValueError(name)


def data_dir(seed, factor):
    return os.path.join(HERE, ".data", f"f{factor:g}-s{seed}")


def generate(seed, factor, out=None, log=sys.stderr):
    """Generate (or reuse) the inputs; returns (dir, {table: rows})."""
    if factor <= 0:
        raise ValueError("factor must be positive")
    out = out or data_dir(seed, factor)
    done = os.path.join(out, "_DONE")
    c = row_counts(factor)
    if os.path.exists(done):
        return out, {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
                     for t in TABLES}
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.monotonic()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    rows = {}
    for t in TABLES:
        tbl = con.sql(table_sql(t, seed, c)).arrow()
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"), row_group_size=ROW_GROUP)
        rows[t] = tbl.num_rows
    con.close()
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"[gen] seed={seed} factor={factor:g} generated in {time.monotonic() - t0:.2f} s "
          f"(outside every metric): " + ", ".join(f"{t}={n}" for t, n in rows.items()), file=log)
    return out, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--factor", type=float, default=0.1)
    ap.add_argument("--out")
    a = ap.parse_args()
    out, rows = generate(a.seed, a.factor, a.out, log=sys.stdout)
    print(out)
    for t in TABLES:
        print(f"{t}\t{rows[t]}")


if __name__ == "__main__":
    main()
