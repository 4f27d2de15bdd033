"""Seeded inputs for each workload: parquet base tables and request plans.

Everything a run sends is generated here, up front, from the seed: the
server only ever receives these request lines. The same seed gives the
same files byte for byte.

Tables (served to the server through its `(external …)` catalog, which
knows a fixed set of table names):

- `customer`: (c_custkey, c_nationkey), `cust` rows, 25 nations.
- `orders`: (o_orderkey, o_custkey, o_amount, o_grp). `o_grp` splits the
  rows by use: 0 = the bulk base relation, 1 and 2 = the rows each branch
  adds in `bulk_branch_merge`, 3 = the initial `ord` rows of the write
  workloads.

The operator batch (`BATCH_QUERIES`, run in-process by the traced run
of `point_oltp`) has no server: its tables (`lineitem`, `events`,
`documents`, with the columns its `SparkEntry.queries` rows read) are
read by the queries directly (`batch_tables`).

Plan files hold `kind<TAB>check<TAB>request` lines (see Plan.scala).
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
STAGINGS = 3

SIZES = {
    # cust stays below the engine's 100k LocalThreshold (driver-local
    # relations); big is above it, so it takes the distributed path
    "full": dict(cust=15000, ord0=5000, big=120000, extra=3000,
                 pairs=6000, groups=6000, warm=10,
                 lineitem=15000, events=5000, documents=300),
    "smoke": dict(cust=400, ord0=100, big=2000, extra=50,
                  pairs=300, groups=300, warm=4,
                  lineitem=3000, events=2000, documents=100),
    # smoke, with the bulk base just past the local threshold
    "threshold": dict(cust=400, ord0=100, big=100_500, extra=50,
                      pairs=300, groups=300, warm=4,
                      lineitem=3000, events=2000, documents=100),
}

# `loaded`: after the solo phase, one connection per stream (else the
# solo phase alone, on one connection); `warm`: share of the warm writes;
# `ord0`: share of the initial `ord` rows; `rounds`: request groups per
# stream the traced replay runs. A disk commit costs ~100x a memory one
# and a restart loads every version `ord` ever had, so the disk workload
# warms less, traces fewer rounds and keeps a smaller `ord`.
WORKLOADS = {
    "point_oltp": dict(storage="memory", writers=2, readers=2, big=False, warm=1.0,
                       loaded=True, ord0=1.0, rounds=24),
    "durable_writes": dict(storage="disk", writers=1, readers=1, big=False, warm=0.2,
                           loaded=False, ord0=0.2, rounds=12),
    "bulk_branch_merge": dict(storage="memory", writers=0, readers=0, big=True, warm=1.0,
                              loaded=False, ord0=1.0, rounds=0),
}

# the operator batch: SparkEntry.queries rows, each with the module it
# times; the cheapest row of each module (a pass of the three takes ~8 s
# on 4 cores, most of it fixed per-query cost: four times the rows
# changed it by a few percent; pipeline_tokenize_pack alone took 7 s)
BATCH_QUERIES = [
    ("operators", "graph_kcore"),
    ("streaming", "streaming_window"),
    ("pipeline", "dedup_prefix_pairs"),
]
WORDS = ("batch part spark line column order small sort fast value scan hash slow "
         "group agg filter query big key window row table stream merge data vector "
         "customer join shuffle plan cache index page tree leaf node edge graph").split()
EVENT_TYPES = ("error", "view", "signup", "purchase", "click")

ORD_SCHEMA = "((o_orderkey integer) (o_custkey integer) (o_amount integer))"
FETCH = "(scl (Fetch (cursor {cursor}) (limit 2000)))"


def tuple_attrs(k, c, a):
    return (f"((o_orderkey (Int {k})) (o_custkey (Int {c})) "
            f"(o_amount (Int {a})))")


def grp(g):
    return (f"(Project (o_orderkey o_custkey o_amount) "
            f"(Select (Const ((o_grp (Int {g})))) (Base orders)))")


def line(kind, text, check=""):
    return f"{kind}\t{check}\t{text}\n"


class Inputs:
    """Tables and plans of one workload for one seed."""

    def __init__(self, workload, seed, size="full", delete_first=False):
        self.workload = workload
        self.n = SIZES[size]
        self.w = WORKLOADS[workload]
        # bulk_branch_merge: each branch deletes before it inserts
        self.delete_first = delete_first
        rng = np.random.default_rng(seed)
        n = self.n
        self.nation = rng.integers(0, NATIONS, n["cust"], dtype=np.int64)
        self.cust_keys = np.arange(1, n["cust"] + 1, dtype=np.int64)

        def rows(first_key, count):
            keys = np.arange(first_key, first_key + count, dtype=np.int64)
            return (keys,
                    rng.integers(1, n["cust"] + 1, count, dtype=np.int64),
                    rng.integers(1, 100000, count, dtype=np.int64))

        big = n["big"] if self.w["big"] else 0
        self.base = rows(1, big)
        self.extra = [rows(1 + big + i * n["extra"], n["extra"]) for i in (0, 1)]
        self.ord0 = rows(10_000_001, int(n["ord0"] * self.w["ord0"]))
        # distinct nations whose base rows each branch deletes
        na, nb = rng.choice(NATIONS, 2, replace=False)
        self.del_nations = (int(na), int(nb))
        self.writer_rows = [rows(20_000_001 + w * 1_000_000, n["pairs"])
                            for w in range(max(self.w["writers"], 1))]
        self.read_keys = rng.integers(1, n["cust"] + 1, (2, n["groups"]))
        self.read_nations = rng.integers(0, NATIONS, (2, n["groups"]))
        self.warm_rows = rows(9_000_001, int(n["warm"] * self.w["warm"]))

    # ---- tables ----

    def write_tables(self, dirpath):
        os.makedirs(dirpath, exist_ok=True)
        pq.write_table(pa.table({"c_custkey": self.cust_keys,
                                 "c_nationkey": self.nation}),
                       os.path.join(dirpath, "customer.parquet"))
        parts = [(self.base, 0), (self.extra[0], 1), (self.extra[1], 2),
                 (self.ord0, 3)]
        cols = [np.concatenate([p[0][i] for p in parts]) for i in range(3)]
        g = np.concatenate([np.full(len(rows[0]), gi, dtype=np.int64)
                            for rows, gi in parts])
        pq.write_table(pa.table({"o_orderkey": cols[0], "o_custkey": cols[1],
                                 "o_amount": cols[2], "o_grp": g}),
                       os.path.join(dirpath, "orders.parquet"))

    # ---- plans ----

    def stage_lines(self, k):
        """One staging on a fresh database `pb<k>`."""
        out = [line("stage", f"(CreateDatabase pb{k})"),
               line("stage", "(CreateRelation (name cust) (schema "
                             "((c_custkey integer) (c_nationkey integer))))"),
               line("stage", "(InsertFrom (target cust) (source (Base customer)))")]
        if self.workload == "bulk_branch_merge":
            return out
        # the constraint comes after the initial rows: registering it
        # checks them set-wise, where InsertFrom would check row by row
        out += [line("stage", f"(CreateRelation (name ord) (schema {ORD_SCHEMA}))"),
                line("stage", f"(InsertFrom (target ord) (source {grp(3)}))"),
                line("stage", "(RegisterConstraint (constraint_name fk_cust) "
                              "(relation_name ord) (body (MemberOf (target cust) "
                              "(binding ((c_custkey (Var o_custkey)))))))")]
        if self.w["big"]:
            out += [line("stage", f"(CreateRelation (name big) (schema {ORD_SCHEMA}))"),
                    line("stage", f"(InsertFrom (target big) (source {grp(0)}))")]
        return out

    def bulk_iteration(self):
        na, nb = self.del_nations

        def delete_nation(nat):
            return ("(DeleteWhere (target big) (predicate (Rename ((c_custkey o_custkey)) "
                    f"(Project (c_custkey) (Select (Const ((c_nationkey (Int {nat})))) "
                    "(Base cust))))))")

        def edit(g, nat):
            ins = line("insert_from", f"(InsertFrom (target big) (source {grp(g)}))")
            dele = line("delete_where", delete_nation(nat))
            return [dele, ins] if self.delete_first else [ins, dele]

        return (self.stage_lines(0) + [
            line("stage", f"(CreateRelation (name big) (schema {ORD_SCHEMA}))"),
            line("stage", "(RegisterConstraint (constraint_name fk_cust) (relation_name big) "
                          "(body (MemberOf (target cust) (binding ((c_custkey (Var o_custkey)))))))"),
            line("insert_from", f"(InsertFrom (target big) (source {grp(0)}))"),
            line("branch", "(CreateBranch (name main))"),
            line("branch", "(Checkout main)"),
            line("branch", "(CreateBranch (name feature))"),
            line("branch", "(Checkout feature)")] + edit(1, na) + [
            line("branch", "(Checkout main)")] + edit(2, nb) + [
            line("merge", "(Merge (left main) (right feature) (strategy PreferLeft))"),
        ] + [
            # three drains: the read latency of a run is their median
            line("drain", "(scl (Begin (query (Aggregate (group (o_custkey)) "
                          "(aggs ((count n) (sum o_amount total))) (Base big))) (limit 2000)))",
                 FETCH)] * 3)

    def writer_lines(self, w):
        """Insert a fresh tuple, then delete the writer's oldest live one,
        so `ord` keeps its size."""
        queue = self.writer_queue(w)
        k, c, a = self.writer_rows[w]
        out = []
        for j in range(len(k)):
            out.append(line("ins", f"(InsertTuple (relation ord) (attributes "
                                   f"{tuple_attrs(k[j], c[j], a[j])}))"))
            dk, dc, da = queue[j]
            out.append(line("del", f"(DeleteTuple (relation ord) (attributes "
                                   f"{tuple_attrs(dk, dc, da)}))"))
        return out

    def writer_queue(self, w):
        """Live tuples of writer `w`, oldest first: its share of the
        initial rows, then its own inserts."""
        writers = self.w["writers"]
        k0, c0, a0 = self.ord0
        owned = [(k0[i], c0[i], a0[i]) for i in range(len(k0)) if i % writers == w]
        k, c, a = self.writer_rows[w]
        return owned + list(zip(k, c, a))

    def reader_lines(self, r):
        out = []
        for j in range(self.n["groups"]):
            key = self.read_keys[r][j]
            out.append(line("sel", f"(Select (Const ((c_custkey (Int {key})))) (Base cust))",
                            f"(c_nationkey (Int {self.nation[key - 1]}))"))
            nat = self.read_nations[r][j]
            check = f"(c_nationkey (Int {nat}))"
            out.append(line("begin", "(scl (Begin (query (Select (Const ((c_nationkey "
                                     f"(Int {nat})))) (Base cust))) (limit 8)))", check))
            out.append(line("fetch", "(scl (Fetch (cursor {cursor}) (limit 8)))", check))
            out.append(line("close", "(scl (Close (cursor {cursor})))"))
        return out

    def warm_lines(self):
        if self.workload == "bulk_branch_merge":
            return self.bulk_iteration()
        out = []
        k, c, a = self.warm_rows
        for j in range(len(k)):
            t = tuple_attrs(k[j], c[j], a[j])
            out.append(line("ins", f"(InsertTuple (relation ord) (attributes {t}))"))
            out.append(line("del", f"(DeleteTuple (relation ord) (attributes {t}))"))
        if self.w["readers"]:
            out += self.reader_lines(0)[: 4 * len(k)]
        return out

    def ord_drain(self):
        return [line("drain", "(scl (Begin (query (Project (o_orderkey) (Base ord))) "
                              "(limit 2000)))", FETCH)]

    def write_plans(self, dirpath):
        os.makedirs(dirpath, exist_ok=True)

        def put(name, lines):
            with open(os.path.join(dirpath, name), "w") as f:
                f.writelines(lines)

        for k in range(1, STAGINGS + 1):
            put(f"stage{k}.txt", self.stage_lines(k))
        put("warm.txt", self.warm_lines())
        if self.workload == "bulk_branch_merge":
            put("iter.txt", self.bulk_iteration())
            return
        for w in range(self.w["writers"]):
            put(f"w{w}.txt", self.writer_lines(w))
        for r in range(self.w["readers"]):
            put(f"r{r}.txt", self.reader_lines(r))
        put("final.txt", self.ord_drain())
        put("readback.txt", self.ord_drain())

    # ---- expected results ----

    def expected_ord(self, acked):
        """`ord` keys implied by the acknowledged writes: `acked[w]` is how
        many of writer w's lines (insert, delete, insert, …) were acked."""
        live = set(int(x) for x in self.ord0[0])
        for w, n in enumerate(acked):
            queue = self.writer_queue(w)
            inserted = self.writer_rows[w][0][: (n + 1) // 2]
            live.update(int(x) for x in inserted)
            live.difference_update(int(queue[j][0]) for j in range(n // 2))
        return live

    def bulk_rows(self):
        """Rows one bulk iteration inserts or deletes set-wise."""
        na, nb = self.del_nations

        def in_nation(rows, nations):
            return int(np.isin(self.nation[rows[1] - 1], nations).sum())

        deleted = in_nation(self.base, [na, nb])
        if not self.delete_first:
            deleted += in_nation(self.extra[0], [na]) + in_nation(self.extra[1], [nb])
        return len(self.base[0]) + 2 * self.n["extra"] + deleted

    def expected_aggregate(self, tables_dir):
        """The merged relation's per-customer aggregate, computed from the
        parquet files by DuckDB, independently of the engine."""
        import duckdb
        na, nb = self.del_nations
        d = tables_dir.replace("'", "''")
        # a branch that deletes first keeps all of its own inserted rows
        kept1, kept2 = ("true", "true") if self.delete_first else (
            f"c.c_nationkey <> {na}", f"c.c_nationkey <> {nb}")
        rows = duckdb.sql(f"""
            select o.o_custkey, count(*), sum(o.o_amount)
            from '{d}/orders.parquet' o
            join '{d}/customer.parquet' c on c.c_custkey = o.o_custkey
            where (o.o_grp = 0 and c.c_nationkey not in ({na}, {nb}))
               or (o.o_grp = 1 and {kept1})
               or (o.o_grp = 2 and {kept2})
            group by o.o_custkey""").fetchall()
        return sorted(tuple(int(v) for v in r) for r in rows)


def batch_tables(seed, size="full"):
    """The operator batch's tables for a seed: `lineitem` (a co-order part
    graph), `events` (30 days of a stream) and `documents` (short texts
    over a small vocabulary, a fifth of them near-copies of another)."""
    n = SIZES[size]
    rng = np.random.default_rng(seed)
    li = n["lineitem"]
    # 20 lines an order over li/30 parts: the graph of bulk lines
    # (l_quantity > 45) averages degree ~6, so it has a 3-core
    lineitem = pa.table({
        "l_orderkey": np.sort(rng.integers(1, li // 20 + 1, li, dtype=np.int64)),
        "l_partkey": rng.integers(0, li // 30, li, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64)})
    ev = n["events"]
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ev, dtype=np.int64)) + start_us
    events = pa.table({
        "event_id": np.arange(ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, ev, dtype=np.int64),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, ev)]),
        "value": np.round(rng.integers(0, 50000, ev) / 100.0, 2)})
    nd = n["documents"]
    lengths = rng.integers(8, 60, nd)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, at = [], 0
    for k in lengths:
        texts.append([WORDS[i] for i in words[at:at + k]])
        at += k
    for d in range(1, nd, 5):
        # one word changed: Jaccard well above the 0.5 pair threshold
        copy = list(texts[int(rng.integers(0, d))])
        copy[int(rng.integers(0, len(copy)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        texts[d] = copy
    texts = [" ".join(t) for t in texts]
    documents = pa.table({"doc_id": np.arange(nd, dtype=np.int64), "text": texts})
    return {"lineitem": lineitem, "events": events, "documents": documents}


def write_batch_tables(seed, size, dirpath):
    os.makedirs(dirpath, exist_ok=True)
    for name, t in batch_tables(seed, size).items():
        pq.write_table(t, os.path.join(dirpath, f"{name}.parquet"))
