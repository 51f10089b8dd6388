"""Seeded question generator with gold answers read off the raw tables.

Questions arrive with their NER mentions already attached, as in the
reference's `qa_with_ner` dataset, so no model runs inside the timing. Gold
node ids come from this module's own joins over the parquet tables, never
from the engine's graph view. Node ids follow the engine's documented id
spacing (Nation 2e9+key, Customer 3e9+key, Part 5e9+key, Order 6e9+key).

Templates cycle in a fixed order, so each template has an equal share and
every prefix of the question list mixes all of them. `qa_online` warms up
on the first question, so every run takes the KNN fallback path:

  fuzzy_part       misspelled Part name -> Orders holding a Part of that
                   name; only the KNN fallback resolves the mention, and the
                   name then anchors every Part that shares it (hub by name)
  order_parts      Order -> its Parts (selective)
  customer_orders  Customer -> its Orders (selective)
  nation_customers Nation -> its Customers (hub)
  customer_part    Customer + Part name -> the Customer's Orders holding a
                   Part of that name (2-path)
"""
import os

import numpy as np
import pyarrow.parquet as pq

NATION_BASE, CUSTOMER_BASE = 2_000_000_000, 3_000_000_000
PART_BASE, ORDER_BASE = 5_000_000_000, 6_000_000_000
TEMPLATES = ["fuzzy_part", "order_parts", "customer_orders",
             "nation_customers", "customer_part"]


def _col(tables, table, column):
    return tables[table].column(column).to_numpy()


def load_tables(data_dir):
    names = ["nation", "customer", "part", "orders", "lineitem", "embeddings"]
    return {t: pq.read_table(os.path.join(data_dir, f"{t}.parquet")) for t in names}


def misspell(name):
    """Swaps the 2nd and 3rd letters of the noun: 'red bolt' -> 'red blot'.
    No generated name has this shape, so the exact lookup always misses."""
    adj, noun = name.split(" ")
    return f"{adj} {noun[0]}{noun[2]}{noun[1]}{noun[3:]}"


class _Index:
    """The joins the templates need, over the raw table columns."""

    def __init__(self, tables):
        self.c_nation = _col(tables, "customer", "c_nationkey")
        self.p_name = _col(tables, "part", "p_name").astype(object)
        self.o_cust = _col(tables, "orders", "o_custkey")
        li_o = _col(tables, "lineitem", "l_orderkey")
        li_p = _col(tables, "lineitem", "l_partkey")
        self.li_o, self.li_p = li_o, li_p
        self.nation_names = _col(tables, "nation", "n_name").astype(object)
        self.cust_names = _col(tables, "customer", "c_name").astype(object)
        self.emb = np.stack(_col(tables, "embeddings", "embedding")).astype(np.float64)
        # lineitem part names, for the name-anchored templates
        self.li_pname = self.p_name[li_p]
        self._by_name = {}

    def order_parts(self, o):
        return np.unique(self.li_p[self.li_o == o]) + PART_BASE

    def customer_orders(self, c):
        return np.flatnonzero(self.o_cust == c) + ORDER_BASE

    def nation_customers(self, n):
        return np.flatnonzero(self.c_nation == n) + CUSTOMER_BASE

    def orders_with_part_name(self, name):
        if name not in self._by_name:
            self._by_name[name] = np.unique(self.li_o[self.li_pname == name]) + ORDER_BASE
        return self._by_name[name]

    def customer_orders_with_part_name(self, c, name):
        mine = self.customer_orders(c)
        return np.intersect1d(mine, self.orders_with_part_name(name))


def generate(tables, n, seed, templates=TEMPLATES):
    """`n` questions from `seed`, cycling through `templates`; the same
    inputs give identical output."""
    ix = _Index(tables)
    rng = np.random.default_rng([seed, 7919])
    n_ord, n_emb = len(ix.o_cust), len(ix.emb)
    out = []
    for i in range(n):
        template = templates[i % len(templates)]
        fallback = {}
        if template == "order_parts":
            o = int(rng.integers(0, n_ord))
            name = str(o)
            mentions, entities = [("Order", name)], [name]
            gold = ix.order_parts(o)
            text = f"Which parts does order {name} contain?"
        elif template == "customer_orders":
            c = int(ix.o_cust[rng.integers(0, n_ord)])  # a customer with orders
            name = ix.cust_names[c]
            mentions, entities = [("Customer", name)], [name]
            gold = ix.customer_orders(c)
            text = f"Which orders did {name} place?"
        elif template == "nation_customers":
            nk = int(rng.integers(0, len(ix.nation_names)))
            name = ix.nation_names[nk]
            mentions, entities = [("Nation", name)], [name]
            gold = ix.nation_customers(nk)
            text = f"Which customers come from {name}?"
        elif template == "fuzzy_part":
            p = int(rng.integers(0, n_emb))  # a part that has an embedding
            name = ix.p_name[p]
            typo = misspell(name)
            mentions, entities = [("Part", typo)], [name]
            fallback = {typo: p}
            gold = ix.orders_with_part_name(name)
            text = f"Which orders contain a {typo}?"
        else:  # customer_part
            li = int(rng.integers(0, len(ix.li_o)))
            c = int(ix.o_cust[ix.li_o[li]])
            pname = ix.li_pname[li]
            cname = ix.cust_names[c]
            mentions = [("Customer", cname), ("Part", pname)]
            entities = [cname, pname]
            gold = ix.customer_orders_with_part_name(c, pname)
            text = f"Which orders of {cname} contain a {pname}?"
        q_emb = rng.standard_normal(ix.emb.shape[1])
        out.append({
            "id": i, "template": template, "question": text,
            "mentions": [{"label": l, "mention": m} for l, m in mentions],
            "entities": entities,
            "gold": sorted(int(g) for g in gold),
            "fallback": {m: [float(x) for x in ix.emb[p]] for m, p in fallback.items()},
            "fallback_name": {m: ix.p_name[p] for m, p in fallback.items()},
            "q_emb": [round(float(x), 6) for x in q_emb / np.linalg.norm(q_emb)],
        })
    return out


def template_shares(questions):
    counts = {t: 0 for t in TEMPLATES}
    for q in questions:
        counts[q["template"]] += 1
    return {t: round(c / max(1, len(questions)), 4) for t, c in counts.items()}
