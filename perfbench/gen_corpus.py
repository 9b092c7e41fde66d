#!/usr/bin/env python3
"""Seeded corpus of lineage scripts, with the column edges each must yield.

Builds Hive/Spark-SQL scripts from the constructs of the ten ported
reference cases: joins with ON, WHERE, CTEs, UNION ALL, LATERAL VIEW
explode, multi-table INSERT, CTAS chains and unknown functions, at varying
width (output columns) and depth (chained CTEs and tables).  Source tables
are the generated parquet tables, which the program resolves on demand
through its parquet-footer metastore.

Beside the scripts it writes the edges each script must yield, derived from
the SQL it built, with the reference's semantics:
  - one SELECT edge from each output column to its source columns;
  - the columns of WHERE and JOIN predicates fanned out to every output
    column of the statement;
  - UNION ALL merged by position;
  - for CTAS and INSERT, the immediate parent table (a table created
    earlier in the script is a parent, not the tables it came from).
The program receives only the scripts.

Usage: python3 perfbench/gen_corpus.py <seed> <out_dir> [n_scripts]
"""
import json
import os
import random
import sys

# (db, table) -> [(column, kind)]; kind: n numeric, s string, t timestamp, a array
BASE = {
    ("tpch", "lineitem"): [("l_orderkey", "n"), ("l_partkey", "n"), ("l_suppkey", "n"),
                           ("l_linenumber", "n"), ("l_quantity", "n"), ("l_extendedprice", "n"),
                           ("l_discount", "n"), ("l_tax", "n"), ("l_returnflag", "s"),
                           ("l_linestatus", "s"), ("l_shipdate", "t")],
    ("tpch", "orders"): [("o_orderkey", "n"), ("o_custkey", "n"), ("o_orderstatus", "s"),
                         ("o_totalprice", "n"), ("o_orderdate", "t"), ("o_orderpriority", "s")],
    ("tpch", "customer"): [("c_custkey", "n"), ("c_name", "s"), ("c_nationkey", "n"),
                           ("c_acctbal", "n"), ("c_mktsegment", "s")],
    ("tpch", "part"): [("p_partkey", "n"), ("p_name", "s"), ("p_brand", "s"), ("p_type", "s"),
                       ("p_size", "n"), ("p_retailprice", "n")],
    ("tpch", "supplier"): [("s_suppkey", "n"), ("s_name", "s"), ("s_nationkey", "n"),
                           ("s_acctbal", "n")],
    ("tpch", "nation"): [("n_nationkey", "n"), ("n_name", "s"), ("n_regionkey", "n")],
    ("web", "events"): [("event_id", "n"), ("ts", "t"), ("user_id", "n"), ("event_type", "s"),
                        ("value", "n"), ("props", "s")],
    ("web", "documents"): [("doc_id", "n"), ("text", "s"), ("lang", "s"), ("source", "s"),
                           ("n_chars", "n")],
}
# join graph: (table, column) pairs that join
JOINS = [
    (("tpch", "lineitem"), "l_orderkey", ("tpch", "orders"), "o_orderkey"),
    (("tpch", "lineitem"), "l_partkey", ("tpch", "part"), "p_partkey"),
    (("tpch", "lineitem"), "l_suppkey", ("tpch", "supplier"), "s_suppkey"),
    (("tpch", "orders"), "o_custkey", ("tpch", "customer"), "c_custkey"),
    (("tpch", "customer"), "c_nationkey", ("tpch", "nation"), "n_nationkey"),
    (("tpch", "supplier"), "s_nationkey", ("tpch", "nation"), "n_nationkey"),
    (("web", "events"), "user_id", ("tpch", "customer"), "c_custkey"),
    (("web", "documents"), "doc_id", ("web", "events"), "event_id"),
]
UNKNOWN_FUNCS = ["etl_mask", "norm_key", "dq_clean", "geo_bucket", "hash_pii"]
DATABASES = ["tpch", "web", "mart"]


class Rel:
    """A relation in scope: alias and its columns' kinds and origins."""

    def __init__(self, sql, alias, cols):
        self.sql, self.alias, self.cols = sql, alias, cols  # cols: name -> (kind, origins)


def base_rel(key, alias):
    db, t = key
    return Rel(f"{db}.{t}", alias, {c: (k, frozenset([(db, t, c)])) for c, k in BASE[key]})


class Gen:
    def __init__(self, rng, script_id):
        self.r = rng
        self.sid = script_id
        self.ntab = 0

    def pick(self, xs):
        return xs[self.r.randrange(len(xs))]

    def new_table(self):
        self.ntab += 1
        return f"mart.s{self.sid}_t{self.ntab}"

    # -- FROM clauses ----------------------------------------------------
    def join_chain(self, n):
        """1..n base tables joined along the join graph.
        Returns (from_sql, rels, join_origins)."""
        start = self.pick([j[0] for j in JOINS])
        used = [start]
        rels = [base_rel(start, "a")]
        sql = f"{rels[0].sql} {rels[0].alias}"
        join_origins = set()
        for i in range(1, n):
            cands = [(l, lc, rr, rc) for (l, lc, rr, rc) in JOINS if l in used and rr not in used] + \
                    [(rr, rc, l, lc) for (l, lc, rr, rc) in JOINS if rr in used and l not in used]
            if not cands:
                break
            have, hc, new, nc = self.pick(cands)
            alias = "abcdefg"[i]
            rel = base_rel(new, alias)
            hrel = rels[used.index(have)]
            cond = f"{hrel.alias}.{hc} = {alias}.{nc}"
            join_origins |= hrel.cols[hc][1] | rel.cols[nc][1]
            extra = [c for c, (k, _) in rel.cols.items() if k == "n" and c != nc]
            if extra and self.r.random() < 0.3:
                c = self.pick(extra)
                cond += f" AND {alias}.{c} >= 0"
                join_origins |= rel.cols[c][1]
            kind = self.pick(["JOIN", "JOIN", "LEFT JOIN"])
            sql += f"\n  {kind} {rel.sql} {alias} ON {cond}"
            used.append(new)
            rels.append(rel)
        return sql, rels, join_origins

    # -- expressions -----------------------------------------------------
    def columns(self, rels, kinds="nst"):
        return [(r, c) for r in rels for c, (k, _) in r.cols.items() if k in kinds]

    def projection(self, rels, width):
        """`width` select items over rels: [(sql, name, kind, origins)]."""
        out, names = [], set()
        cols = self.columns(rels)
        while len(out) < width:
            r, c = self.pick(cols)
            kind, org = r.cols[c]
            roll = self.r.random()
            name = None
            if roll < 0.4:
                sql, name = f"{r.alias}.{c}", c
            elif roll < 0.55 and kind == "n" and self.columns(rels, "n"):
                r2, c2 = self.pick(self.columns(rels, "n"))
                sql, org = f"{r.alias}.{c} + {r2.alias}.{c2}", org | r2.cols[c2][1]
            elif roll < 0.7 and kind == "s" and self.columns(rels, "s"):
                r2, c2 = self.pick(self.columns(rels, "s"))
                sql, org = f"concat({r.alias}.{c}, '-', {r2.alias}.{c2})", org | r2.cols[c2][1]
            elif roll < 0.85:
                fn = self.pick(UNKNOWN_FUNCS)
                r2, c2 = self.pick(cols)
                sql, org, kind = f"{fn}({r.alias}.{c}, {r2.alias}.{c2})", org | r2.cols[c2][1], "s"
            else:
                sql, kind = f"CAST({r.alias}.{c} AS STRING)", "s"
            if name is None:
                name = f"x{len(out)}_{c}"
            if name in names:
                continue
            names.add(name)
            out.append((sql if name == c and sql.endswith("." + c) else f"{sql} AS {name}",
                        name, kind, org, sql))
        return out

    def predicate(self, rels):
        r, c = self.pick(self.columns(rels, "ns") or self.columns(rels))
        kind, org = r.cols[c]
        if kind == "t":
            sql = f"{r.alias}.{c} IS NOT NULL"
        elif kind == "n":
            sql = self.pick([f"{r.alias}.{c} > {self.r.randrange(1, 50)}",
                             f"{r.alias}.{c} BETWEEN 1 AND {self.r.randrange(5, 500)}",
                             f"{r.alias}.{c} IS NOT NULL"])
        else:
            sql = self.pick([f"{r.alias}.{c} IS NOT NULL", f"{r.alias}.{c} <> 'zz'",
                             f"{r.alias}.{c} LIKE '%a%'"])
        return sql, set(org)

    # -- statements --------------------------------------------------------
    @staticmethod
    def edges(target, outputs, preds):
        e = set()
        for name, _, org in outputs:
            for (d, t, c) in org:
                e.add((target, name, d, t, c, "SELECT"))
        for name, _, _ in outputs:
            for (d, t, c) in preds[0]:
                e.add((target, name, d, t, c, "WHERE"))
            for (d, t, c) in preds[1]:
                e.add((target, name, d, t, c, "JOIN"))
        return e

    def block(self, target, rels_from=None):
        """One SELECT with its edges under `target`."""
        ch = rels_from if rels_from is not None else self.join_chain(self.r.randrange(1, 4))
        _, rels, jo = ch
        proj = self.projection(rels, self.r.randrange(2, 9))
        where_o = set()
        where = ""
        if self.r.random() < 0.8:
            p1, o1 = self.predicate(rels)
            where, where_o = f"\nWHERE {p1}", set(o1)
            if self.r.random() < 0.4:
                p2, o2 = self.predicate(rels)
                where, where_o = where + f" AND {p2}", where_o | o2
        sql = "SELECT " + ",\n       ".join(p[0] for p in proj) + f"\nFROM {ch[0]}{where}"
        outs = [(p[1], p[2], p[3]) for p in proj]
        return sql, outs, self.edges(target, outs, (where_o, jo))

    def s_query(self):
        sql, _, e = self.block("")
        return [(sql + ";", e)]

    def s_union(self):
        width = self.r.randrange(2, 6)
        parts, outs_all = [], []
        where_all, join_all = set(), set()
        for _ in range(2):
            ch = self.join_chain(self.r.randrange(1, 3))
            _, rels, jo = ch
            proj = self.projection(rels, width)
            where_o, where = set(), ""
            if self.r.random() < 0.6:
                p1, o1 = self.predicate(rels)
                where, where_o = f"\nWHERE {p1}", set(o1)
            # branches are cast to STRING so their types always merge
            parts.append("SELECT " + ",\n       ".join(
                f"CAST({p[4]} AS STRING) AS u{i}" for i, p in enumerate(proj)) + f"\nFROM {ch[0]}{where}")
            outs_all.append(proj)
            where_all |= where_o
            join_all |= jo
        merged = [(f"u{i}", "s", frozenset().union(*[o[i][3] for o in outs_all]))
                  for i in range(width)]
        return [("\nUNION ALL\n".join(parts) + ";", self.edges("", merged, (where_all, join_all)))]

    def s_lateral(self):
        label = self.r.randrange(0, 10)
        emb = frozenset([("web", "embeddings", "embedding")])
        outs = [("vec_id", "n", frozenset([("web", "embeddings", "vec_id")])),
                ("comp", "n", emb)]
        fn = self.pick(UNKNOWN_FUNCS)
        outs.append(("tagged", "s", frozenset([("web", "embeddings", "label")]) | emb))
        sql = (f"SELECT e.vec_id, comp, {fn}(e.label, comp) AS tagged\n"
               f"FROM web.embeddings e\nLATERAL VIEW explode(e.embedding) x AS comp\n"
               f"WHERE e.label = {label};")
        return [(sql, self.edges("", outs, ({("web", "embeddings", "label")}, set())))]

    def cte_source(self):
        """A base table for a CTE definition, and a statement over it that
        comes first: the runner resolves a table through the metastore only
        outside CTE definitions."""
        key = self.pick(list(BASE))
        rel = base_rel(key, "a")
        sql, _, e = self.block("", rels_from=(f"{rel.sql} a", [rel], set()))
        return key, [(sql + ";", e)]

    def s_cte(self):
        """WITH c1 AS (...), c2 AS (SELECT .. FROM c1) SELECT .. FROM c2.
        Definitions hold no predicates: the predicates sit in the outer
        SELECT."""
        key, pre = self.cte_source()
        rel = base_rel(key, "a")
        proj = self.projection([rel], self.r.randrange(3, 8))
        c1 = "c1 AS (\n  SELECT " + ", ".join(p[0] for p in proj) + f"\n  FROM {rel.sql} a)"
        cur = Rel("c1", "c1", {p[1]: (p[2], p[3]) for p in proj})
        proj = self.projection([cur], self.r.randrange(2, len(cur.cols) + 1))
        c2 = "c2 AS (\n  SELECT " + ", ".join(p[0] for p in proj) + "\n  FROM c1 c1)"
        cur = Rel("c2", "c2", {p[1]: (p[2], p[3]) for p in proj})
        defs = [c1, c2]
        sql, outs, where_o = self.outer_select(cur)
        return pre + [("WITH " + ",\n".join(defs) + "\n" + sql + ";",
                       self.edges("", outs, (where_o, set())))]

    def outer_select(self, cur):
        proj = self.projection([cur], self.r.randrange(1, len(cur.cols) + 1))
        where_o, where = set(), ""
        if self.r.random() < 0.7:
            p1, o1 = self.predicate([cur])
            where, where_o = f"\nWHERE {p1}", set(o1)
        sql = "SELECT " + ", ".join(p[0] for p in proj) + f"\nFROM {cur.sql} {cur.alias}{where}"
        return sql, [(p[1], p[2], p[3]) for p in proj], where_o

    def s_ctas_chain(self, depth):
        stmts, e_all = [], set()
        tgt = self.new_table()
        sql, outs, e = self.block(tgt)
        stmts.append(f"CREATE TABLE {tgt} AS\n{sql};")
        e_all |= e
        prev, prev_outs = tgt, outs
        for _ in range(depth - 1):
            tgt = self.new_table()
            d, t = prev.split(".")
            rel = Rel(prev, "p", {n: (k, frozenset([(d, t, n)])) for n, k, _ in prev_outs})
            if self.r.random() < 0.5:
                ch = (f"{prev} p", [rel], set())
            else:
                # join the parent table back to a base table on a numeric key
                key = self.pick([n for n, (k, _) in rel.cols.items() if k == "n"] or [None])
                if key is None:
                    ch = (f"{prev} p", [rel], set())
                else:
                    b = base_rel(("tpch", "nation"), "n")
                    ch = (f"{prev} p\n  JOIN tpch.nation n ON p.{key} = n.n_nationkey",
                          [rel, b], set(rel.cols[key][1] | b.cols["n_nationkey"][1]))
            sql, outs, e = self.block(tgt, rels_from=ch)
            stmts.append(f"CREATE TABLE {tgt} AS\n{sql};")
            e_all |= e
            prev, prev_outs = tgt, outs
        return [("\n".join(stmts), e_all)]

    def s_multi_insert(self):
        key, pre = self.cte_source()
        rel = base_rel(key, "a")
        proj = self.projection([rel], self.r.randrange(3, 8))
        base = Rel("base_sel", "base_sel", {p[1]: (p[2], p[3]) for p in proj})
        stmts, e_all, inserts = [], set(), []
        for kw in ["INSERT OVERWRITE TABLE", "INSERT INTO TABLE"]:
            tgt = self.new_table()
            outs_p = self.projection([base], self.r.randrange(1, len(base.cols) + 1))
            cols = ", ".join(f"{p[1]} {'STRING' if p[2] == 's' else 'DOUBLE'}" for p in outs_p)
            stmts.append((f"CREATE TABLE {tgt} ({cols});", set()))
            p1, o1 = self.predicate([base])
            inserts.append(f"{kw} {tgt}\nSELECT " + ", ".join(p[0] for p in outs_p) + f"\nWHERE {p1}")
            e_all |= self.edges(tgt, [(p[1], p[2], p[3]) for p in outs_p], (set(o1), set()))
        cte = "WITH base_sel AS (\n  SELECT " + ", ".join(p[0] for p in proj) + f"\n  FROM {rel.sql} a)"
        return pre + stmts + [(cte + "\nFROM base_sel\n" + "\n".join(inserts) + ";", e_all)]

    def script(self):
        """Script i follows pattern i % 4, so every corpus has the same mix
        of statement kinds whatever the seed."""
        pattern = [
            lambda: self.s_ctas_chain(2),
            lambda: self.s_multi_insert(),
            lambda: self.s_ctas_chain(1) + self.s_cte(),
            lambda: self.s_union() + self.s_lateral(),
        ][self.sid % 4]
        parts, edges = [], set()
        for sql, e in pattern():
            parts.append(sql)
            edges |= e
        return "\n\n".join(parts) + "\n", edges


def generate(seed, out, n_scripts=24):
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "scripts"), exist_ok=True)
    expected = {}
    for i in range(n_scripts):
        sid = f"{i:03d}"
        sql, edges = Gen(rng, i).script()
        with open(os.path.join(out, "scripts", f"{sid}.sql"), "w") as f:
            f.write(sql)
        expected[sid] = sorted(edges)
    with open(os.path.join(out, "databases.txt"), "w") as f:
        f.write("\n".join(DATABASES) + "\n")
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f)


if __name__ == "__main__":
    generate(int(sys.argv[1]), sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else 24)
