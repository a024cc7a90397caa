"""Seeded input staging for the warehouse benchmark, written with DuckDB.

The inputs are copies of the repository's deterministic test tables kept
under perfbench/data, so a run needs nothing outside its checkout:

- data/sf0.01: the seven TPC-H-shaped warehouse sources (region, nation,
  customer, supplier, part, orders, lineitem; 15 000 orders and 60 000
  lineitem rows) and the curation corpus (500 documents, 500 embedding
  vectors);
- data/sf0.001: the same tables at a tenth of the warehouse size, for the
  short smoke mode.

Row content never changes. The run seed decides the rest: which part file
each row lands in, which orders are warehouse history and which arrive
during the run, and in which chunk each arriving order comes. Seeds vary
layout and arrival order; the amount of work moves only with the seeded
split of the orders into history and arrivals, about half each.
"""
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

WAREHOUSE = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
CORPUS = ["documents", "embeddings"]
# Files per staged table (the two tiny ones get one).
PART_FILES = 4

# Source directory per input size.
SOURCES = {"full": "sf0.01", "smoke": "sf0.001"}

KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "lineitem": "hash(l_orderkey, l_linenumber, l_partkey, l_suppkey)",
    "documents": "doc_id", "embeddings": "vec_id",
}


def _write(con, name, where, seed, out_dir, files=PART_FILES):
    """Write table `name` (rows matching `where`) as `files` part files.
    The seed picks each row's file; inside a file rows are sorted, so
    compression and the size of cached frames do not depend on the seed."""
    key = KEYS[name]
    os.makedirs(out_dir, exist_ok=True)
    for i in range(files):
        con.execute(f"""COPY (SELECT * EXCLUDE (_slot) FROM (
              SELECT *, hash({key}, {seed}) % {files} AS _slot FROM {name} WHERE {where})
            WHERE _slot = {i} ORDER BY ALL)
            TO '{out_dir}/part-{i:05d}.parquet' (FORMAT parquet)""")


def stage(workload, seed, size, run_dir, chunks):
    """Write the inputs of `workload` under `run_dir`; returns the row count
    of each staged table."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    stage_dir = os.path.join(run_dir, "stage")
    tables = WAREHOUSE + (CORPUS if workload == "star_query_mix" else [])
    rows = {}
    for t in tables:
        src = os.path.join(DATA, SOURCES[size], f"{t}.parquet")
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{src}')")
        rows[t] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
    for t in tables:
        files = 1 if t in ("region", "nation") else PART_FILES
        where = "true"
        if workload == "star_query_mix" and t == "orders":
            # half the orders are history, loaded into the warehouse; the
            # other half arrive during the run in seeded chunks of equal size
            where = f"hash(o_orderkey, {seed}) % 2 = 1"
        _write(con, t, where, seed, os.path.join(stage_dir, f"{t}.parquet"), files)
    if workload == "star_query_mix":
        con.execute(f"""CREATE TABLE arrivals AS SELECT *,
            (row_number() OVER (ORDER BY hash(o_orderkey, {seed + 1}), o_orderkey) - 1)
              % {chunks} AS chunk
            FROM orders WHERE hash(o_orderkey, {seed}) % 2 = 0""")
        for k in range(chunks):
            out = os.path.join(run_dir, "chunks", f"chunk={k}")
            os.makedirs(out)
            con.execute(f"""COPY (SELECT * EXCLUDE (chunk) FROM arrivals WHERE chunk = {k}
                ORDER BY o_orderkey) TO '{out}/part-00000.parquet' (FORMAT parquet)""")
        # the incremental stream reads its static side, lineitem, from the
        # directory the order chunks arrive in
        _write(con, "lineitem", "true", seed,
               os.path.join(run_dir, "arrivals", "lineitem.parquet"))
    con.close()
    return rows
