"""Seeded op sequences for the workloads, with their expectations.

Each workload's sequence is a list of blocks; every block holds a fixed
number of ops of each latency class (the mix), so the class shares are
the same in every run. Constants are Zipf-drawn from a seeded
permutation of the keys, so some repeat.

An op is `(kind, cls, key, text)`: `kind` is `query` or `update`, `cls`
the latency class, `key` the distinct-op key that expectations attach to,
and `text` the SPARQL text or registry query name.
"""
import numpy as np

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
STATUSES = ["F", "O", "P"]


class Zipf:
    """Zipf(a)-distributed draws over `keys`, rank order seeded."""

    def __init__(self, rng, keys, a=1.2):
        self.rng = rng
        self.keys = np.array(keys)[rng.permutation(len(keys))]
        self.a = a

    def draw(self):
        while True:
            r = int(self.rng.zipf(self.a))
            if r <= len(self.keys):
                return int(self.keys[r - 1])


def blocks(rng, mix, n_blocks, make):
    """`n_blocks` blocks of the `{cls: count}` mix, each shuffled."""
    ops = []
    for _ in range(n_blocks):
        block = [cls for cls, n in mix.items() for _ in range(n)]
        for i in rng.permutation(len(block)):
            ops.append(make(block[i], len(ops)))
    return ops


def sequence(pattern, n_blocks, make):
    """`n_blocks` repetitions of a fixed class `pattern`."""
    ops = []
    for _ in range(n_blocks):
        for cls in pattern:
            ops.append(make(cls, len(ops)))
    return ops


# ---------------------------------------------------------------- bgp

# light 70% (p50 inside it), medium 14%, heavy 16% (p90 inside it). The
# two registry queries, run through SparkEntry.queries, stand for the
# registry's layers: q01 a plain relational aggregate, q122 the native
# RangeJoin operator. `closure` is the one iterative op: a property path
# evaluated by the PathOps fixpoint.
REGISTRY = ["q01_pricing_summary", "q122_event_funnel"]
BGP_MIX = {"lookup": 25, "probe": 14, "empty": 6,
           "path3": 2, "nation_orders": 2, REGISTRY[0]: 2, REGISTRY[1]: 2,
           "closure": 1, "star": 4, "triangle": 6}

TRIANGLE = """select ?o ?p ?s where {{ ?o contains ?p . ?o suppliedby ?s .
 ?s supplies ?p . ?o status "{st}" }}"""
TRIANGLE_SQL = """WITH cont AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
 supb AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
 supp AS (SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
 ford AS (SELECT o_orderkey AS ok FROM orders WHERE o_orderstatus = '{st}')
SELECT 'order:' || cont.ok AS o, 'part:' || cont.pk AS p, 'supplier:' || supb.sk AS s
FROM cont JOIN supb ON cont.ok = supb.ok
 JOIN supp ON supp.sk = supb.sk AND supp.pk = cont.pk
 JOIN ford ON ford.ok = cont.ok"""


def bgp_ops(seed, n_cust, n_orders, n_blocks):
    """BGP SELECT templates over the star-schema RDF view, each with the
    DuckDB SQL that computes its answer from the corpus tables, and the
    registry queries (checked against the registry's own oracle SQL)."""
    rng = np.random.default_rng([seed, 1])
    cust = Zipf(rng, range(n_cust))
    order = Zipf(rng, range(n_orders))
    sql = {}

    def make(cls, i):
        if cls in REGISTRY:
            return ("query", cls, cls, "registry:" + cls)
        if cls == "lookup":
            c = cust.draw()
            key = f"lookup:{c}"
            text = f"select ?p ?o where {{ <customer:{c}> ?p ?o }}"
            sql[key] = f"""SELECT 'rdf:type' AS p, 'Customer' AS o FROM customer WHERE c_custkey = {c}
 UNION ALL SELECT 'nationkey', 'nation:' || c_nationkey FROM customer WHERE c_custkey = {c}
 UNION ALL SELECT 'mktsegment', c_mktsegment FROM customer WHERE c_custkey = {c}
 UNION ALL SELECT 'name', c_name FROM customer WHERE c_custkey = {c}"""
        elif cls == "probe":
            c = cust.draw()
            key = f"probe:{c}"
            text = f"select ?o where {{ ?o custkey <customer:{c}> }}"
            sql[key] = ("SELECT 'order:' || o_orderkey AS o FROM orders "
                        f"WHERE o_custkey = {c}")
        elif cls == "empty":
            seg = int(rng.integers(0, 1000))
            key = f"empty:{seg}"
            text = (f'select ?c ?n where {{ ?c mktsegment "NONEXISTENT_{seg}" .'
                    " ?c nationkey ?n }")
            sql[key] = "SELECT '' AS c, '' AS n WHERE false"
        elif cls == "path3":
            c = cust.draw()
            key = f"path3:{c}"
            text = (f"select ?o ?s ?nm where {{ ?o custkey <customer:{c}> ."
                    " ?o suppliedby ?s . ?s nationkey ?n . ?n name ?nm }")
            sql[key] = f"""SELECT DISTINCT 'order:' || o_orderkey AS o,
 'supplier:' || l_suppkey AS s, n_name AS nm
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
 JOIN supplier ON s_suppkey = l_suppkey
 JOIN nation ON n_nationkey = s_nationkey
WHERE o_custkey = {c}"""
        elif cls == "closure":
            k = order.draw()
            key = f"closure:{k}"
            text = f"select ?o2 where {{ <order:{k}> nextorder+ ?o2 }}"
            # nextorder links each order to its customer's next one by
            # (date, key); its closure is every later order of the customer
            sql[key] = f"""SELECT 'order:' || b.o_orderkey AS o2
FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
WHERE a.o_orderkey = {k} AND (b.o_orderdate > a.o_orderdate
 OR (b.o_orderdate = a.o_orderdate AND b.o_orderkey > a.o_orderkey))"""
        elif cls == "nation_orders":
            n, st = int(rng.integers(0, 25)), STATUSES[int(rng.integers(0, 3))]
            key = f"nation_orders:{n}:{st}"
            text = (f"select ?o ?c where {{ ?c nationkey <nation:{n}> ."
                    f' ?o custkey ?c . ?o status "{st}" }}')
            sql[key] = f"""SELECT 'order:' || o_orderkey AS o, 'customer:' || c_custkey AS c
FROM orders JOIN customer ON c_custkey = o_custkey
WHERE c_nationkey = {n} AND o_orderstatus = '{st}'"""
        elif cls == "star":
            r = REGIONS[int(rng.integers(0, 5))]
            key = f"star:{r}"
            text = ('select ?c ?seg ?nm where { ?c rdf:type "Customer" .'
                    " ?c mktsegment ?seg . ?c nationkey ?n . ?n name ?nm ."
                    f' ?n regionkey ?r . ?r name "{r}" }}')
            sql[key] = f"""SELECT 'customer:' || c_custkey AS c, c_mktsegment AS seg, n_name AS nm
FROM customer JOIN nation ON c_nationkey = n_nationkey
 JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{r}'"""
        else:
            st = STATUSES[int(rng.integers(0, 3))]
            key = f"triangle:{st}"
            text = " ".join(TRIANGLE.format(st=st).split())
            sql[key] = TRIANGLE_SQL.format(st=st)
        return ("query", cls, key, text)

    return blocks(rng, BGP_MIX, n_blocks, make), sql


# -------------------------------------------------------------- serve

# a fixed order, so every read sees the same number of delta batches in
# every run; reads: light 67% (p50 inside it), heavy 33% (p90 inside it)
SERVE_PATTERN = ["tags", "tags", "cust_orders", "tag_insert",
                 "tags", "tags", "cust_orders", "status_set",
                 "tags", "tags", "cust_orders", "tag_insert",
                 "tags", "tags", "cust_orders", "tag_delete"]
UPDATES_PER_BLOCK = 4
# TripleStore.CompactDeltaBatches: the write-back compacts every 16 batches
COMPACT_DELTA_BATCHES = 16
RECENT = 8


def nt_bytes(*triples):
    return sum(len(f"<{s}> <{p}> {o} .\n".encode()) for s, p, o in triples)


def serve_ops(seed, orders, n_blocks):
    """Reads and updates for the SPARQL endpoint, with the expected
    answer of every read from a naive model of the base data plus the
    updates sent before it.

    `orders` maps order key -> (customer key, status). Expectations are
    `(columns, rows)` per op index, rows as tuples of strings.
    """
    rng = np.random.default_rng([seed, 3])
    okeys = sorted(orders)
    pick_order = Zipf(rng, okeys)
    status = {k: v[1] for k, v in orders.items()}
    cust_of = {k: v[0] for k, v in orders.items()}
    by_cust = {}
    for k, (c, _) in orders.items():
        by_cust.setdefault(c, []).append(k)
    tags = {}            # order -> [tag, ...] in insertion order
    recent = []          # recently written order keys
    expect = {}

    def target():
        if recent and rng.random() < 0.6:
            return recent[int(rng.integers(0, len(recent)))]
        return pick_order.draw()

    def touched(k):
        recent.append(k)
        del recent[:-RECENT]

    def make(cls, i):
        if cls == "tags":
            k = target()
            expect[i] = (["t"], [(t,) for t in tags.get(k, [])])
            return ("query", cls, f"tags:{k}",
                    f"select ?t where {{ <order:{k}> tag ?t }}")
        if cls == "cust_orders":
            c = cust_of[target()]
            expect[i] = (["o", "st"],
                         [(f"order:{o}", status[o]) for o in by_cust[c]])
            return ("query", cls, f"cust_orders:{c}",
                    "select ?o ?st where { ?o custkey <customer:%d> ."
                    " ?o status ?st }" % c)
        live = [k for k in recent if tags.get(k)]
        if cls == "tag_delete" and live:
            k = live[0]
            t = tags[k].pop(0)
            touched(k)
            return ("update", cls, f"{cls}:{i}|{nt_bytes((f'order:{k}', 'tag', repr_lit(t)))}",
                    f'DELETE DATA {{ <order:{k}> tag "{t}" }}')
        if cls in ("tag_insert", "tag_delete"):
            k = pick_order.draw()
            t = f"t{i}"
            tags.setdefault(k, []).append(t)
            touched(k)
            return ("update", cls, f"{cls}:{i}|{nt_bytes((f'order:{k}', 'tag', repr_lit(t)))}",
                    f'INSERT DATA {{ <order:{k}> tag "{t}" }}')
        # status_set: move the order to the next status
        k = target()
        old = status[k]
        new = STATUSES[(STATUSES.index(old) + 1) % 3]
        status[k] = new
        touched(k)
        changed = nt_bytes((f"order:{k}", "status", repr_lit(old)),
                           (f"order:{k}", "status", repr_lit(new)))
        return ("update", cls, f"{cls}:{i}|{changed}",
                f"DELETE {{ <order:{k}> status ?s }} INSERT {{ <order:{k}> "
                f'status "{new}" }} WHERE {{ <order:{k}> status ?s }}')

    return sequence(SERVE_PATTERN, n_blocks, make), expect


def repr_lit(v):
    return '"' + v + '"'
