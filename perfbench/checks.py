"""Output checks, made apart from the program: each returns a list of
problems (empty when the outputs are correct)."""
import glob
import json
import os
from collections import deque

import duckdb
import pyarrow.parquet as pq

import hashes

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _rows(path, cols):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    out = []
    for f in files:
        t = pq.read_table(f, columns=cols).to_pylist()
        out += [tuple(r[c] for c in cols) for r in t]
    return out


def _bfs(edges):
    adj = {}
    for child, parent in edges:
        adj.setdefault(child, set()).add(parent)
    out = set()
    for start in adj:
        seen, q = {start: 0}, deque([start])
        while q:
            n = q.popleft()
            for p in adj.get(n, ()):
                if p not in seen:
                    seen[p] = seen[n] + 1
                    out.add((start, p, seen[p]))
                    q.append(p)
    return out


def lineage(corpus, work):
    bad = []
    expected = json.load(open(os.path.join(corpus, "expected.json")))
    table_edges = set()
    for sid, exp in sorted(expected.items()):
        exp = {tuple(e) for e in exp}
        table_edges |= {(e[0], f"{e[2]}.{e[3]}") for e in exp if e[0] and f"{e[2]}.{e[3]}" != e[0]}
        dump = json.load(open(os.path.join(work, "lineage", f"{sid}.json")))
        got = {tuple(e) for e in dump["edges"]}
        if got != exp:
            bad.append(f"lineage {sid}: edges differ from the generator's: "
                       f"missing {sorted(exp - got)[:3]} extra {sorted(got - exp)[:3]}")
        store = os.path.join(work, "store", sid)
        src = _rows(os.path.join(store, "sql_source"), ["id", "source_locator"])
        if src != [(hashes.source_id(sid), sid)]:
            bad.append(f"lineage {sid}: sql_source {src} != id of {sid!r}")
            continue
        sid_id = src[0][0]
        rel = _rows(os.path.join(store, "select_item_rel"),
                    ["sql_source_id", "target", "out_column", "parent_schema", "parent_table",
                     "parent_column", "usage_context", "id"])
        if {r[1:7] for r in rel} != got or len(rel) != len(got):
            bad.append(f"lineage {sid}: stored edges differ from the in-memory result")
        items = _rows(os.path.join(store, "select_item"),
                      ["sql_source_id", "target", "name", "definition", "usage_context",
                       "ds_type", "id"])
        if {r[1:6] for r in items} != {tuple(i) for i in dump["items"]}:
            bad.append(f"lineage {sid}: stored items differ from the in-memory result")
        ds = _rows(os.path.join(store, "dataset"),
                   ["sql_source_id", "defined_name", "type", "map_to_schema", "map_to_table", "id"])
        for r in rel:
            if r[0] != sid_id or r[7] != hashes.content_id(sid_id, *r[1:7]):
                bad.append(f"lineage {sid}: edge id {r[7]} is not the hash of its content")
                break
        for r in items:
            if r[0] != sid_id or r[6] != hashes.content_id(sid_id, *r[1:6]):
                bad.append(f"lineage {sid}: item id {r[6]} is not the hash of its content")
                break
        for r in ds:
            if r[0] != sid_id or r[5] != hashes.content_id(sid_id, *r[1:5]):
                bad.append(f"lineage {sid}: dataset id {r[5]} is not the hash of its content")
                break
    digests = {}
    for line in open(os.path.join(work, "store_digests.jsonl")):
        if line.strip():
            d = json.loads(line)
            digests.setdefault(d["script"], set()).add(d["sha256"])
    changed = sorted(s for s, v in digests.items() if len(v) != 1)
    if changed:
        bad.append(f"lineage: the store of {changed[:3]} differs between passes")
    closure = {tuple(r) for r in json.load(open(os.path.join(work, "closure.json")))}
    if closure != _bfs(table_edges):
        bad.append("lineage: Closure.close distances differ from the BFS")
    return bad


def _compare(con, got_dir, oracle, name):
    cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM '{got_dir}/*.parquet'").fetchall()]
    exp_cols = [r[0] for r in con.execute("DESCRIBE " + oracle).fetchall()]
    if sorted(cols) != sorted(exp_cols):
        return [f"query {name}: columns {sorted(cols)} != oracle {sorted(exp_cols)}"]
    sel = ", ".join(f'"{c}"' for c in sorted(cols))
    con.execute(f"CREATE OR REPLACE TEMP VIEW got AS SELECT {sel} FROM '{got_dir}/*.parquet'")
    con.execute(f"CREATE OR REPLACE TEMP VIEW exp AS SELECT {sel} FROM ({oracle}) o")
    n_got = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_exp = con.execute("SELECT count(*) FROM exp").fetchone()[0]
    if n_got != n_exp:
        return [f"query {name}: {n_got} rows, oracle {n_exp}"]
    extra = con.execute("SELECT * FROM got EXCEPT ALL SELECT * FROM exp LIMIT 2").fetchall()
    missing = con.execute("SELECT * FROM exp EXCEPT ALL SELECT * FROM got LIMIT 2").fetchall()
    if extra or missing:
        return [f"query {name}: rows differ from the oracle: {extra} / {missing}"]
    return []


def queries(data, work, reads, writes):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    oracles = json.load(open(os.path.join(work, "oracle_sql.json")))
    bad = []
    for q in reads:
        bad += _compare(con, os.path.join(work, "verify", q), oracles[q], q)
    for q in writes:
        bad += _compare(con, os.path.join(work, "out", q), oracles[q], q + " (written)")
    return bad


DIGEST = """SELECT count(*), sum(l_orderkey), sum(l_partkey), sum(l_suppkey), sum(l_linenumber),
  sum(round(l_quantity)::BIGINT), sum(round(l_extendedprice * 100)::BIGINT),
  sum(round(l_discount * 100)::BIGINT), sum(round(l_tax * 100)::BIGINT),
  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END),
  sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END),
  sum((epoch_us(l_shipdate) // 86400000000)::BIGINT), sum(l_bucket) FROM {src}"""


def manifest(data, work, max_key, split_key, upsert_every, key_range, bucket, delete, buckets):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE l AS SELECT *, l_orderkey % {buckets} AS l_bucket "
                f"FROM '{data}/lineitem.parquet' WHERE l_orderkey < {max_key}")
    con.execute(f"CREATE TABLE v1 AS SELECT * FROM l WHERE l_orderkey < {split_key}")
    con.execute(f"CREATE TABLE u AS SELECT * REPLACE (l_quantity + 1 AS l_quantity, "
                f"l_extendedprice + 1 AS l_extendedprice) FROM l WHERE l_orderkey % {upsert_every} = 0")
    con.execute(f"CREATE TABLE s3 AS SELECT * FROM l WHERE NOT ({delete})")
    con.execute("CREATE TABLE s4 AS SELECT * FROM s3 WHERE (l_orderkey, l_linenumber) NOT IN "
                "(SELECT (l_orderkey, l_linenumber) FROM u) UNION ALL SELECT * FROM u")

    def digest(src, where=""):
        r = con.execute(DIGEST.format(src=src) + (f" WHERE {where}" if where else "")).fetchone()
        return ",".join("0" if v is None else str(int(v)) for v in r)

    def count(sql):
        return con.execute(sql).fetchone()[0]

    superseded = count("SELECT count(*) FROM s3 WHERE (l_orderkey, l_linenumber) IN "
                       "(SELECT (l_orderkey, l_linenumber) FROM u)")
    expected = {
        "append_1": "ok", "append_2": "ok",
        "scan_full": digest("l"), "scan_key_range": digest("l", key_range),
        "delete": str(count(f"SELECT count(*) FROM l WHERE {delete}")),
        "scan_key_range_after_delete": digest("s3", key_range),
        "upsert": f"{superseded},{count('SELECT count(*) FROM u')}",
        "scan_bucket_after_upsert": digest("s4", bucket),
        "scan_time_travel_v1": digest("v1"),
        "expire": "3",
        "state_after_append_1": digest("v1"), "state_after_append_2": digest("l"),
        "state_after_delete": digest("s3"), "state_after_upsert": digest("s4"),
        "state_after_compact": digest("s4"), "state_after_expire": digest("s4"),
    }
    bad, compact = [], set()
    for line in open(os.path.join(work, "manifest_results.jsonl")):
        if not line.strip():
            continue
        r = json.loads(line)
        if r["op"] == "compact":
            compact.add(r["result"])
            continue
        if r["result"] != expected[r["op"]]:
            bad.append(f"manifest pass {r['pass']} {r['op']}: {r['result']} != {expected[r['op']]}")
    # compaction's (files before, files after) depends on the write layout:
    # it must be the same every pass and leave fewer files than it found
    before_after = [tuple(map(int, c.split(","))) for c in compact]
    if len(before_after) != 1 or not before_after[0][1] < before_after[0][0]:
        bad.append(f"manifest compact results {sorted(compact)}")
    return bad
