"""The three workloads: their inputs and YAML configs, the plan the JVM
driver runs, the rows one cycle processes, and the output checks.

Each check runs after the timed loop and returns a list of failure
messages; every failure counts as one failed operation.
"""

import os
import statistics

import duckdb

import gen

WORKLOADS = ("batch_etl", "incremental_commits", "dedup_corpus")
MAINTENANCE_EVERY = 2   # rounds between delete compaction + version vacuum
# Least warm-up time per workload (besides at least 3 cycles): the dedup
# passes keep speeding up as the JIT compiles the interpreted expressions,
# and only settle after about 20 s.
WARMUP_SECONDS = {"batch_etl": 12, "incremental_commits": 12, "dedup_corpus": 24}


def _write(path, text):
    with open(path, "w") as fh:
        fh.write(text)


# --- batch_etl --------------------------------------------------------------

REVENUE_SQL = """
  SELECT n.n_name, c.c_mktsegment, year(o.o_orderdate) AS o_year,
         count(*) AS n_lines, sum(l.l_quantity) AS quantity,
         sum(l.l_extendedprice_cents * (100 - l.l_discount_pct)) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  WHERE l.l_shipdate >= DATE '1993-01-01'
  GROUP BY n.n_name, c.c_mktsegment, year(o.o_orderdate)"""

BY_YEAR_COLS = ("l_orderkey, l_linenumber, l_quantity, l_extendedprice_cents, "
                "l_returnflag, year(l_shipdate) AS ship_year")
BY_YEAR_SQL = f"SELECT {BY_YEAR_COLS} FROM lineitem WHERE l_returnflag <> 'R'"
OVERWRITE_YEARS = (1995, 1996)
OVERWRITE_SQL = (f"SELECT {BY_YEAR_COLS} FROM lineitem "
                 f"WHERE year(l_shipdate) IN {OVERWRITE_YEARS}")


def _inputs(in_dir, names):
    return "".join(f"  - {{name: {n}, source: file, location: {in_dir}/{n}, format: parquet}}\n"
                   for n in names)


def _batch_configs(in_dir, cfg):
    def job(name, tables, sql, output):
        _write(os.path.join(cfg, f"{name}.yaml"),
               f"job: {{name: {name}, type: spark-sql}}\n"
               f"input_tables:\n{_inputs(in_dir, tables)}"
               f"sql: |\n  {sql.strip()}\n"
               f"output_table: {output}\n")
    job("revenue", ["lineitem", "orders", "customer", "nation"], REVENUE_SQL,
        "{name: revenue, target: file, location: '{root}/out/revenue', refresh: full, coalesce: 1}")
    part = ("{name: lineitem_by_year, target: file, location: '{root}/out/lineitem_by_year', "
            "refresh: full, partition_keys: ship_year}")
    job("lineitem_by_year", ["lineitem"], BY_YEAR_SQL, part)
    job("overwrite_years", ["lineitem"], OVERWRITE_SQL, part)


def _check_batch(ws, in_dir):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{in_dir}/{t}/*.parquet')")
    out = os.path.join(ws, "main", "out")
    failures = []
    want = con.execute(REVENUE_SQL + " ORDER BY 1, 2, 3").fetchall()
    got = con.execute(
        "SELECT n_name, c_mktsegment, o_year, n_lines, quantity, revenue "
        f"FROM read_parquet('{out}/revenue/*.parquet') ORDER BY 1, 2, 3").fetchall()
    if [tuple(int(x) if isinstance(x, int) else x for x in r) for r in got] != want:
        failures.append(f"revenue: {len(got)} rows differ from DuckDB's {len(want)}")
    years = ", ".join(str(y) for y in OVERWRITE_YEARS)
    con.execute(
        "CREATE VIEW want AS SELECT l_orderkey, l_linenumber, l_quantity, "
        "l_extendedprice_cents, l_returnflag, CAST(year(l_shipdate) AS BIGINT) AS ship_year "
        f"FROM lineitem WHERE l_returnflag <> 'R' AND year(l_shipdate) NOT IN ({years}) "
        "UNION ALL SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice_cents, "
        "l_returnflag, CAST(year(l_shipdate) AS BIGINT) "
        f"FROM lineitem WHERE year(l_shipdate) IN ({years})")
    con.execute(
        "CREATE VIEW got AS SELECT l_orderkey, l_linenumber, l_quantity, "
        "l_extendedprice_cents, l_returnflag, CAST(ship_year AS BIGINT) AS ship_year "
        f"FROM read_parquet('{out}/lineitem_by_year/*/*.parquet', hive_partitioning = 1)")
    extra, missing = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)), "
        "(SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))").fetchone()
    if extra or missing:
        failures.append(f"lineitem_by_year: {extra} unexpected rows, {missing} missing rows")
    con.close()
    return failures


# --- incremental_commits ----------------------------------------------------

VERSIONED_SCHEMA = "k BIGINT, v BIGINT, b INT"


def _incremental_configs(in_dir, cfg):
    table = "'{root}/table'"
    _write(os.path.join(cfg, "base_load.yaml"), f"""\
job: {{name: base_load, type: spark-sql}}
input_tables:
  - {{name: base, source: file, location: {in_dir}/base, format: parquet}}
sql: SELECT k, v, b FROM base
output_table: {{name: t, target: file, location: {table}, refresh: full, versioned: true,
  stats_columns: k, range_partition_keys: k, repartition: 16}}
""")
    _write(os.path.join(cfg, "merge.yaml"), f"""\
job: {{name: merge_arrivals, type: spark-sql, bookmark_path: '{{root}}/bookmarks.json'}}
input_tables:
  - {{name: t, source: file, location: {table}, versioned: true}}
  - {{name: arrivals, source: file, location: '{{root}}/landing', format: parquet,
      incremental_source: true}}
sql: |
  MERGE INTO t USING arrivals s ON t.k = s.k
  WHEN MATCHED THEN UPDATE SET *
  WHEN NOT MATCHED THEN INSERT *
""")
    _write(os.path.join(cfg, "drain.yaml"), f"""\
job: {{name: drain_arrivals, type: spark-sql, streaming: available_now,
  checkpoint_location: '{{root}}/checkpoint'}}
input_tables:
  - {{name: arrivals, source: file, location: '{{root}}/landing', format: parquet,
      schema: '{VERSIONED_SCHEMA}'}}
sql: SELECT k, v, b FROM arrivals
output_table: {{name: arrivals_log, target: file, location: '{{root}}/arrivals_log',
  refresh: incremental, versioned: true}}
""")
    _write(os.path.join(cfg, "delete.yaml"), f"""\
job: {{name: delete_range, type: maintenance}}
maintenance: {{action: delete, location: {table}, format: parquet,
  where: 'k >= {{del_lo}} AND k < {{del_hi}} AND k % 4 = 0'}}
""")
    _write(os.path.join(cfg, "compact_deletes.yaml"), f"""\
job: {{name: compact_deletes, type: maintenance}}
maintenance: {{action: compact_deletes, location: {table}, format: parquet,
  min_deleted_fraction: 0.02}}
""")
    _write(os.path.join(cfg, "version_vacuum.yaml"), f"""\
job: {{name: version_vacuum, type: maintenance}}
maintenance: {{action: version_vacuum, location: {table}, format: parquet, keep_last: 3}}
""")


class TableModel:
    """Sequential model of the versioned table: the committed state after
    every version, as (row count, key sum, value sum, per-bucket sums)."""

    def __init__(self, base):
        self.rows = dict(zip(base.column("k").to_pylist(), base.column("v").to_pylist()))
        self.states = {1: self.state()}

    def state(self):
        buckets = {}
        for k, v in self.rows.items():
            n, s = buckets.get(k % gen.BUCKETS, (0, 0))
            buckets[k % gen.BUCKETS] = (n + 1, s + v)
        return {"checksum": [len(self.rows), sum(self.rows), sum(self.rows.values())],
                "buckets": sorted([b, s, n] for b, (n, s) in buckets.items())}

    def merge(self, arrival):
        self.rows.update(zip(arrival.column("k").to_pylist(), arrival.column("v").to_pylist()))

    def delete(self, lo, hi):
        for k in range(lo - lo % 4 + (4 if lo % 4 else 0), hi, 4):
            self.rows.pop(k, None)


def run_ops(result):
    """Every operation of a run in order: warm-ups, then the loop."""
    return result["warmup_ops"] + result["ops"]


def _check_incremental(seed, result):
    base, arrivals, deletes = gen.versioned_inputs(seed)
    model = TableModel(base)
    failures = []
    stream = [0, 0, 0]
    for op in run_ops(result):
        name, r, info = op["name"], op["round"], op["info"]
        if not op["ok"]:
            continue
        if name == "engine.run:merge":
            a = arrivals[r]
            model.merge(a)
            stream = [stream[0] + a.num_rows, stream[1] + sum(a.column("k").to_pylist()),
                      stream[2] + sum(a.column("v").to_pylist())]
            model.states[info["version"]] = model.state()
        elif name == "engine.run:delete":
            model.delete(*deletes[r])
            model.states[info["version"]] = model.state()
        elif name.startswith("engine.run:"):
            # the drain writes another table; compaction and vacuum keep the rows
            model.states.setdefault(info["version"], model.state())
        elif name.startswith("read:"):
            want = model.states.get(info["version"])
            if want is None:
                failures.append(f"{name} round {r}: read v{info['version']} is no model version")
            elif name == "read:aggregate":
                if info["buckets"] != want["buckets"]:
                    failures.append(f"{name} round {r}: v{info['version']} bucket sums differ")
            elif info["checksum"] != want["checksum"]:
                failures.append(f"{name} round {r}: v{info['version']} {info['checksum']} "
                                f"!= model {want['checksum']}")
    fin = result["finish"]
    if fin["final_checksum"] != model.state()["checksum"]:
        failures.append(f"final table {fin['final_checksum']} != model {model.state()['checksum']}")
    if fin["stream_checksum"] != stream:
        failures.append(f"drained log {fin['stream_checksum']} != landed arrivals {stream}")
    return failures


def space_amp(workload, result):
    """Bytes on disk under the written tables over the bytes of their live
    rows written once, compactly. The versioned table's amplification saws
    between vacuums, so there it is the median over the loop's rounds, each
    round's live bytes being its live rows times the compact bytes per row
    at the end."""
    fin = result["finish"]
    if workload != "incremental_commits":
        return fin["disk_bytes"] / fin["live_bytes"]
    per_row = fin["live_bytes"] / fin["final_checksum"][0]
    rows = {o["round"]: o["info"]["checksum"][0] for o in run_ops(result)
            if o["name"] == "read:latest" and o["ok"]}
    loop_rounds = {o["round"] for o in result["ops"]}
    amps = [b / (rows[r] * per_row) for r, b in fin["table_bytes"]
            if r in loop_rounds and r in rows]
    return statistics.median(amps)


# --- dedup_corpus -----------------------------------------------------------

def expected_keepers(table, families):
    ids = table.column("doc_id").to_pylist()
    quality = dict(zip(ids, table.column("quality").to_pylist()))
    rows = set()
    in_family = set()
    for fam in families:
        in_family.update(fam)
        keeper = max(fam, key=lambda d: (quality[d], -d))
        rows.add((fam[0], keeper, len(fam)))
    for d in ids:
        if d not in in_family:
            rows.add((d, d, 1))
    return rows


def _check_dedup(seed, ws, result):
    table, families = gen.corpus_table(seed)
    want = expected_keepers(table, families)
    out = os.path.join(ws, "out")
    failures, hashes = [], set()
    con = duckdb.connect()
    for p in sorted(os.listdir(out)):
        got = con.execute("SELECT cluster_id, keeper_id, cluster_size "
                          f"FROM read_parquet('{out}/{p}/*.parquet')").fetchall()
        hashes.add(hash(frozenset(got)))
        if len(got) != len(set(got)) or set(got) != want:
            bad = len(set(got) ^ want)
            failures.append(f"{p}: {bad} clusters differ from the planted families")
    con.close()
    if len(hashes) > 1:
        failures.append(f"pass outputs differ across passes ({len(hashes)} distinct hashes)")
    return failures


# --- shared -----------------------------------------------------------------

def prepare(workload, seed, ws):
    """Generate inputs and configs; return (plan fields, rows per cycle,
    input sizes)."""
    in_dir = os.path.join(ws, "inputs")
    cfg = os.path.join(ws, "configs")
    os.makedirs(cfg, exist_ok=True)
    plan = {"warmup_seconds": WARMUP_SECONDS[workload]}
    if workload == "batch_etl":
        sizes = gen.write_star(seed, in_dir)
        _batch_configs(in_dir, cfg)
        # rows scanned per cycle: the join reads all four tables, the
        # partitioned sink and the overwrite read lineitem each
        rows = sum(sizes.values()) + 2 * sizes["lineitem"]
        return plan, rows, sizes
    if workload == "incremental_commits":
        sizes, deletes = gen.write_versioned(seed, in_dir)
        _incremental_configs(in_dir, cfg)
        plan.update(arrivals_dir=os.path.join(in_dir, "arrivals"),
                    maintenance_every=MAINTENANCE_EVERY, deletes=deletes)
        return plan, sizes["arrival"], sizes
    if workload == "dedup_corpus":
        sizes = gen.write_corpus(seed, in_dir)
        plan.update(corpus_dir=os.path.join(in_dir, "corpus"), max_bucket=gen.MAX_BUCKET)
        return plan, sizes["docs"], sizes
    raise ValueError(f"unknown workload {workload}")


def check(workload, seed, ws, result):
    if workload == "batch_etl":
        return _check_batch(ws, os.path.join(ws, "inputs"))
    if workload == "incremental_commits":
        return _check_incremental(seed, result)
    return _check_dedup(seed, ws, result)
