"""Output checks made outside Spark, with DuckDB over the same parquet.

Each check reads what the benchmark materialized (results/<name>.jsonl,
written by the JVM from the collected rows after the timed phase) and compares it, in the
canonical form of `stats.canonical`, with a DuckDB computation over the
generated inputs, or checks a property the method must have. Nothing
is stored: every expected answer is recomputed on every run.
"""
import glob
import json
import os

import duckdb

import stats

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_PRIO = "(event_id * 2654435761) % 1099511627776"
_CENTS = "CAST(round(value * 100) AS BIGINT)"
_PAIRS = """WITH p AS (SELECT a.vec_id, a.embedding AS x, b.embedding AS y
  FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1),
e AS (SELECT vec_id, CAST(unnest(x) AS DOUBLE) AS xi, CAST(unnest(y) AS DOUBLE) AS yi FROM p)"""
_Q = "CAST(round({} * 1e4) AS BIGINT)"
_BKS = f"""WITH s AS (SELECT event_type, {_PRIO} AS prio, {_CENTS} AS c FROM events),
b AS (SELECT event_type, c FROM (SELECT *, row_number() OVER
  (PARTITION BY event_type ORDER BY prio, c) AS rn FROM s) WHERE rn <= 256),
r AS (SELECT event_type, c, row_number() OVER (PARTITION BY event_type ORDER BY c) - 1 AS i,
  count(*) OVER (PARTITION BY event_type) AS n FROM b)
SELECT event_type, c AS v FROM r WHERE i = (n - 1) * 500 // 1000"""

# DuckDB counterpart of each query in NativeFunctions (Curation.scala)
FUNCTIONS = {
    "tsql_isnull": "SELECT doc_id, coalesce(CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END, 'none') AS v FROM documents",
    "hamming64": "SELECT doc_id, bit_count(xor(doc_id * 2654435761, n_chars * 40503)) AS v FROM documents",
    "bridged_dot": _PAIRS + " SELECT vec_id, CAST(sum(CAST(round(xi * yi * 1e8) AS BIGINT)) AS BIGINT) AS v FROM e GROUP BY vec_id",
    "quantize1e4": "SELECT vec_id, array_to_string(list_transform(embedding, x -> "
                   + _Q.format("CAST(x AS DOUBLE)") + "), ',') AS v FROM embeddings",
    "dot64": _PAIRS + " SELECT vec_id, CAST(sum(" + _Q.format("xi") + " * " + _Q.format("yi")
             + ") AS BIGINT) AS v FROM e GROUP BY vec_id",
    "sqdist64": _PAIRS + " SELECT vec_id, CAST(sum((" + _Q.format("xi") + " - " + _Q.format("yi")
                + ") * (" + _Q.format("xi") + " - " + _Q.format("yi") + ")) AS BIGINT) AS v FROM e GROUP BY vec_id",
    "simhash64": """SELECT doc_id, CAST(sum(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS v
FROM (SELECT doc_id, j, sum(CASE WHEN substr(md5(w), j + 1, 1) >= '8' THEN 1 ELSE -1 END) AS vote
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), range(16) t(j)
  GROUP BY doc_id, j) GROUP BY doc_id""",
    "nfc_normalize": "SELECT doc_id, nfc_normalize(text) AS v FROM documents",
    "damerau_lev": """SELECT a.doc_id, damerau_levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS v
FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1""",
    "kmv_distinct": "SELECT lang, count(DISTINCT n_chars) AS v FROM documents GROUP BY lang",
    "kmv_state": "SELECT lang, source, 4 + 8 * count(DISTINCT n_chars) AS v FROM documents GROUP BY lang, source",
    "kmv_merge": "SELECT lang, count(DISTINCT n_chars) AS v FROM documents GROUP BY lang",
    "freq_topk": """SELECT lang, string_agg(source || ':' || n, ' ' ORDER BY n DESC, source) AS v
FROM (SELECT lang, source, count(*) AS n, row_number() OVER
  (PARTITION BY lang ORDER BY count(*) DESC, source) AS rn FROM documents GROUP BY lang, source)
WHERE rn <= 3 GROUP BY lang""",
    "bks_quantile": _BKS,
    "bks_state": "SELECT event_type, 4 + 16 * least(count(*), 256) AS v FROM events GROUP BY event_type",
    "bks_quantile_merge": _BKS,
    "bloom_agg": "SELECT count(*) AS v FROM documents",
    "bloom_contains": "SELECT 1 AS v",
}

ETL = {
    "etl_revenue": """SELECT o.o_orderpriority, CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS month,
  count(*) AS n_lines,
  CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
    * (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey GROUP BY ALL""",
    "etl_jdbc": """SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders,
  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM orders WHERE o_orderkey % 10 = 0 GROUP BY ALL""",
    "etl_snapshot": """SELECT id, ver, upper(event_type) AS kind, value * 2 AS amount, ts
FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY ver DESC) AS rn
  FROM read_parquet('{landing}/*.parquet')) WHERE rn = 1""",
}


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    return [d[0] for d in cur.description], cur.fetchall()


def read_result(path):
    """(columns, rows) of a result the JVM wrote as JSON lines."""
    with open(path) as f:
        cols = json.loads(f.readline())
        return cols, [json.loads(line) for line in f if line.strip()]


def _compare(con, name, got_file, sql):
    got_cols, got = read_result(got_file)
    want_cols, want = _rows(con, sql)
    if name == "etl_jdbc":  # Derby may return identifiers upper-cased
        got_cols = [c.lower() for c in got_cols]
    return stats.compare(name, got_cols, got, want_cols, want)


def check_shards(con, shard_dir):
    """The `_shards.json` manifest describes exactly the written files."""
    with open(os.path.join(shard_dir, "_shards.json")) as f:
        manifest = {int(e["shard"]): int(e["n_rows"]) for e in json.load(f)}
    found = {}
    for d in glob.glob(os.path.join(shard_dir, "shard=*")):
        k = int(os.path.basename(d).split("=", 1)[1])
        found[k] = con.execute(f"SELECT count(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
    if manifest != found:
        return f"shards: manifest {manifest} != files {found}"
    if sum(found.values()) == 0:
        return "shards: no rows written"
    return None


def check(workload, data_dir, out_dir, work_dir):
    """Return the list of failed checks (empty when all pass)."""
    con = connect(data_dir)
    problems = []
    results = os.path.join(out_dir, "results")
    if workload == "catalog":
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            oracle = json.load(f)
        for name, sql in sorted(oracle.items()):
            d = os.path.join(results, f"{name}.jsonl")
            if not os.path.exists(d):
                problems.append(f"{name}: no materialized result")
                continue
            p = _compare(con, name, d, sql)
            if p:
                problems.append(p)
        for name, sql in sorted(FUNCTIONS.items()):
            d = os.path.join(results, f"fn_{name}.jsonl")
            if not os.path.exists(d):
                problems.append(f"function {name}: no materialized result")
                continue
            p = _compare(con, f"function {name}", d, sql)
            if p:
                problems.append(p)
    if workload == "etl_scheduled":
        landing = os.path.join(work_dir, "etl", "landing")
        for name, sql in ETL.items():
            p = _compare(con, name, os.path.join(results, f"{name}.jsonl"),
                         sql.format(landing=landing))
            if p:
                problems.append(p)
        p = check_shards(con, os.path.join(work_dir, "etl", "out", "shards"))
        if p:
            problems.append(p)
    con.close()
    return problems
