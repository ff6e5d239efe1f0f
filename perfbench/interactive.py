"""``interactive``: littletable-style Table calls in a closed loop.

One client issues a seeded, Zipf-keyed mix of calls over persisted
tables and waits for each answer before the next call. Every answer is
kept and checked afterwards against DuckDB reading the same parquet
(and, for the mutable table, against a DuckDB copy that replays the
same mutations).
"""

from __future__ import annotations

import math
import time

import duckdb
from pyspark.sql import functions as F

from gen import VOCAB
from littletable_spark import Table

LAYER = {
    "lookup_cached": "table",
    "lookup_uncached": "table",
    "where_len": "table",
    "where_iter": "table",
    "orderby_head": "table",
    "update": "table",
    "upsert": "table",
    "insert_many": "table",
    "join": "operators.joins",
    "groupby": "operators.grouping",
    "pivot": "operators.grouping",
    "stats": "operators.stats",
    "search": "operators.search",
    "markdown": "exporters",
}


def generate(gen, seed: int, out: str) -> dict:
    return gen.interactive(seed, out, passes=200)


def layer_extras(inputs: dict, result: dict) -> dict:
    return {}


def setup(spark, d: str) -> tuple[dict, dict]:
    """Import, persist and index the tables; returns (tables, timings)."""
    t0 = time.perf_counter()
    tabs = {}
    for name in ("orders", "customer", "lineitem", "documents"):
        t = Table.parquet_import(spark, f"{d}/{name}.parquet", name).persist()
        len(t)
        tabs[name] = t
    tabs["customer"].create_index("c_custkey", unique=True, cache=True)
    tabs["customer"].by.c_custkey[0]  # fills the driver hot map
    tabs["orders"].create_index("o_orderkey", unique=True)
    t1 = time.perf_counter()
    tabs["documents"].create_search_index("text")
    # the index materializes on first use; build it here, not in a timed call
    tabs["documents"].search.text(VOCAB[0], as_table=False)
    t2 = time.perf_counter()
    return tabs, {"table.import_persist_s": t1 - t0, "operators.search.index_build_s": t2 - t1}


def call(spark, tabs: dict, inventory: str, c: dict, op) -> object:
    """Issue one call; returns the answer as plain Python values."""
    kind = c["kind"]
    o, cu = tabs["orders"], tabs["customer"]
    if kind == "lookup_cached":
        with op.phase("construct"):
            r = cu.by.c_custkey[c["key"]]
        with op.phase("exec"):
            ans = (r.c_custkey, r.c_name, r.c_nationkey, r.c_acctbal, r.c_mktsegment)
        op.rows_out = 1
    elif kind == "lookup_uncached":
        with op.phase("construct"):
            r = o.by.o_orderkey[c["key"]]
        with op.phase("exec"):
            ans = (r.o_orderkey, r.o_custkey, r.o_orderstatus, r.o_totalprice)
        op.rows_out = 1
    elif kind == "where_len":
        with op.phase("construct"):
            t = o.where(o_orderstatus=c["status"], o_totalprice=Table.gt(c["min_price"]))
        with op.phase("exec"):
            ans = len(t)
        op.rows_out = 1
    elif kind == "where_iter":
        with op.phase("construct"):
            t = cu.where(c_mktsegment=c["segment"], c_acctbal=Table.in_range(c["lo"], c["hi"]))
        with op.phase("exec"):
            ans = [r.c_custkey for r in t]
        op.rows_out = len(ans)
    elif kind == "orderby_head":
        with op.phase("construct"):
            t = o.where(o_orderpriority=c["priority"])
            t.orderby("o_totalprice desc")
            h = t.head(c["n"])
        with op.phase("exec"):
            ans = [(r.o_orderkey, r.o_totalprice) for r in h]
        op.rows_out = len(ans)
    elif kind == "join":
        with op.phase("construct"):
            j = o.where(o_totalprice=Table.in_range(c["lo"], c["hi"])).join(cu, o_custkey="c_custkey")
        with op.phase("exec"):
            ans = sorted((r.o_orderkey, r.c_name) for r in j)
        op.rows_out = len(ans)
    elif kind == "groupby":
        with op.phase("construct"):
            g = o.where(o_orderstatus=c["status"]).groupby_with_summaries(
                "o_orderpriority", n=F.count(F.lit(1)), total=F.sum("o_totalprice")
            )
        with op.phase("exec"):
            ans = sorted((r.o_orderpriority, r.n, r.total) for r in g)
        op.rows_out = len(ans)
    elif kind == "pivot":
        with op.phase("construct"):
            p = o.where(o_totalprice=Table.gt(c["min_price"])).pivot("o_orderstatus o_orderpriority").as_table()
        with op.phase("exec"):
            ans = sorted((r.o_orderstatus, r.o_orderpriority, r.count) for r in p)
        op.rows_out = len(ans)
    elif kind == "stats":
        with op.phase("construct"):
            s = tabs["lineitem"].where(
                l_returnflag=c["flag"], l_shipdays=Table.in_range(c["lo"], c["hi"])
            ).stats(["l_quantity", "l_extendedprice"])
        with op.phase("exec"):
            ans = sorted((r.name, r.count, r.min, r.max, r.mean) for r in s)
        op.rows_out = len(ans)
    elif kind == "search":
        with op.phase("construct"):
            res = tabs["documents"].search.text(" ".join(c["words"]), limit=c["limit"])
        with op.phase("exec"):
            ans = [(r.doc_id, r.text_search_score) for r in res]
        op.rows_out = len(ans)
    elif kind == "markdown":
        with op.phase("construct"):
            h = cu.where(c_nationkey=c["nation"]).head(c["n"])
        with op.phase("exec"):
            ans = h.as_markdown("c_custkey c_name c_acctbal")
        op.rows_out = c["n"]
    elif kind in ("update", "upsert", "insert_many"):
        # each mutation starts from a fresh copy of the small table, so
        # its cost does not depend on the mutations before it
        with op.phase("construct"):
            inv = Table.parquet_import(spark, inventory, "inventory")
            if kind == "update":
                n = inv.update({"sku": c["sku"]}, qty=c["qty"])
                keys = [c["sku"]]
            else:
                getattr(inv, kind)(c["rows"], **({"key": "sku"} if kind == "upsert" else {}))
                n = len(c["rows"])
                keys = [r["sku"] for r in c["rows"]]
        with op.phase("exec"):
            ans = (n, sorted((r.sku, r.qty, r.price) for r in inv.where(sku=Table.is_in(keys))))
        op.rows_out = len(ans[1])
    else:
        raise ValueError(kind)
    return ans


def run(spark, inputs: dict, seconds: float, rec, trace: bool) -> dict:
    d = inputs["dir"]
    t0 = time.perf_counter()
    tabs, parts = setup(spark, d)
    parts["total_s"] = time.perf_counter() - t0
    passes, answers = [], []
    deadline = None
    with rec.span("interactive"):
        for i, calls in enumerate(inputs["calls"]):
            warm = i > 0
            if warm and deadline is None:
                deadline = time.perf_counter() + seconds
            elif warm and time.perf_counter() >= deadline and (not trace or len(passes) >= 3):
                break
            rec.trace = trace and i % 2 == 1
            t0 = time.perf_counter()
            with rec.span("pass", index=i):
                for j, c in enumerate(calls):
                    with rec.op(c["kind"], LAYER[c["kind"]], warm) as op:
                        ans = call(spark, tabs, f"{d}/inventory.parquet", c, op)
                        answers.append((i, j, ans))
            passes.append({"wall_s": time.perf_counter() - t0, "warm": warm, "traced": rec.trace, "calls": len(calls)})
        else:
            raise RuntimeError("interactive: generated call sequence ran out before the deadline")
    return {"setup": parts, "passes": passes, "answers": answers}


# -- checks ------------------------------------------------------------------


def _mean_tolerance(v: float) -> float:
    """``stats`` rounds a mean above 1 to max(4 - magnitude, 0) places
    (the littletable rule); allow that rounding plus float noise."""
    digits = max(4 - (int(math.log10(abs(v))) + 1), 0) if abs(v) > 1 else 12
    return 0.5 * 10.0**-digits + 1e-9 * abs(v)


def check(inputs: dict, result: dict) -> tuple[int, list[str]]:
    """Compare every answer with DuckDB: (checks attempted, failures)."""
    answers = result["answers"]
    d = inputs["dir"]
    db = duckdb.connect()
    for name in ("orders", "customer", "lineitem", "documents"):
        db.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{name}.parquet')")
    failures = []
    for i, j, ans in answers:
        c = inputs["calls"][i][j]
        if c["kind"] in ("update", "upsert", "insert_many"):
            db.execute(f"CREATE OR REPLACE TABLE inv AS SELECT * FROM read_parquet('{d}/inventory.parquet')")
        try:
            ok = _check_one(db, c, ans)
        except Exception:  # a malformed answer is a wrong answer
            ok = False
        if not ok:
            failures.append(f"interactive pass {i} call {j} {c['kind']}: wrong answer")
    return len(answers), failures


def _check_one(db, c: dict, ans) -> bool:
    kind = c["kind"]
    q = db.execute
    if kind == "lookup_cached":
        exp = q("SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = ?", [c["key"]]).fetchone()
        return tuple(ans) == exp
    if kind == "lookup_uncached":
        exp = q("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = ?", [c["key"]]).fetchone()
        return tuple(ans) == exp
    if kind == "where_len":
        exp = q("SELECT count(*) FROM orders WHERE o_orderstatus = ? AND o_totalprice > ?", [c["status"], c["min_price"]]).fetchone()[0]
        return ans == exp
    if kind == "where_iter":
        exp = [r[0] for r in q(
            "SELECT c_custkey FROM customer WHERE c_mktsegment = ? AND c_acctbal >= ? AND c_acctbal < ? ORDER BY c_custkey",
            [c["segment"], c["lo"], c["hi"]]).fetchall()]
        return ans == exp
    if kind == "orderby_head":
        exp = q("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = ? ORDER BY o_totalprice DESC, o_orderkey LIMIT ?",
                [c["priority"], c["n"]]).fetchall()
        return [tuple(a) for a in ans] == exp
    if kind == "join":
        exp = q("SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey "
                "WHERE o_totalprice >= ? AND o_totalprice < ? ORDER BY 1, 2", [c["lo"], c["hi"]]).fetchall()
        return [tuple(a) for a in ans] == exp
    if kind == "groupby":
        exp = q("SELECT o_orderpriority, count(*), sum(o_totalprice) FROM orders WHERE o_orderstatus = ? GROUP BY 1 ORDER BY 1",
                [c["status"]]).fetchall()
        return len(ans) == len(exp) and all(
            a[0] == e[0] and a[1] == e[1] and abs(a[2] - e[2]) <= 1e-9 * abs(e[2]) for a, e in zip(ans, exp))
    if kind == "pivot":
        exp = q("SELECT o_orderstatus, o_orderpriority, count(*) FROM orders WHERE o_totalprice > ? GROUP BY 1, 2 ORDER BY 1, 2",
                [c["min_price"]]).fetchall()
        return [tuple(a) for a in ans] == exp
    if kind == "stats":
        got = {a[0]: a[1:] for a in ans}
        for col in ("l_quantity", "l_extendedprice"):
            e = q(f"SELECT count({col}), min({col}), max({col}), avg({col}) FROM lineitem "
                  "WHERE l_returnflag = ? AND l_shipdays >= ? AND l_shipdays < ?", [c["flag"], c["lo"], c["hi"]]).fetchone()
            g = got.get(col)
            if g is None or tuple(g[:3]) != e[:3] or abs(g[3] - e[3]) > _mean_tolerance(e[3]):
                return False
        return True
    if kind == "search":
        words = c["words"]
        score = " + ".join(f"(100 * list_contains(w, '{x}')::INT)" for x in words)
        exp = q(f"SELECT doc_id, {score} AS s FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) "
                "WHERE s > 0 ORDER BY s DESC, doc_id LIMIT ?", [c["limit"]]).fetchall()
        return [tuple(a) for a in ans] == exp
    if kind == "markdown":
        exp = q("SELECT c_custkey, c_name FROM customer WHERE c_nationkey = ? ORDER BY c_custkey LIMIT ?",
                [c["nation"], c["n"]]).fetchall()
        lines = [ln for ln in ans.splitlines() if ln.startswith("|")][2:]
        return len(lines) == len(exp) and all(
            f" {k} " in ln and name in ln for ln, (k, name) in zip(lines, exp))
    if kind in ("update", "upsert", "insert_many"):
        n, rows = ans
        if kind == "update":
            exp_n = q("SELECT count(*) FROM inv WHERE sku = ?", [c["sku"]]).fetchone()[0]
            q("UPDATE inv SET qty = ? WHERE sku = ?", [c["qty"], c["sku"]])
            keys = [c["sku"]]
        else:
            exp_n = len(c["rows"])
            for r in c["rows"]:
                if kind == "upsert":
                    q("DELETE FROM inv WHERE sku = ?", [r["sku"]])
                q("INSERT INTO inv VALUES (?, ?, ?)", [r["sku"], r["qty"], r["price"]])
            keys = [r["sku"] for r in c["rows"]]
        exp = q(f"SELECT sku, qty, price FROM inv WHERE sku IN ({','.join(map(str, keys))}) ORDER BY 1, 2, 3").fetchall()
        return n == exp_n and [tuple(r) for r in rows] == exp
    raise ValueError(kind)


def corrupt(result: dict) -> dict:
    """Self-test hook: damage one answer of each answer type."""
    out, seen = [], set()
    for i, j, ans in result["answers"]:
        key = type(ans).__name__
        if key not in seen:
            seen.add(key)
            if isinstance(ans, int):
                ans += 1
            elif isinstance(ans, str):
                ans = ""
            else:
                ans = ans[:-1] if ans else [None]
        out.append((i, j, ans))
    result["answers"] = out
    return result
