"""Seeded table generator: a numpy port of tools/gen_sf1_real.scala.

Same schemas (TESTDATA.md) and the same shapes: Zipf-mixture key skew on
orders, lineitem and events; a Zipf-vocabulary text corpus whose near-dup
template clusters have Zipf sizes; Gaussian-mixture embeddings with
near-dup children. Every draw is a 64-bit hash of (seed, salt, ids), with
the salts of the Scala generator, so a seed fully determines the tables.
Row counts are the sf1 counts times `scale` (facts) or `doc_scale`
(documents, embeddings).

Each table is one parquet file `<out>/<table>.parquet`; the same arguments
give byte-identical files. `<out>/_properties.json` records the measured
sharing properties of what was written.

Usage: python3 perfbench/gen.py OUT SEED SCALE DOC_SCALE [TABLE ...]
"""
import json
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = ["region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings"]


def _mix(x):
    """splitmix64 finalizer on uint64 arrays (wrapping arithmetic)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class Draws:
    def __init__(self, seed):
        self.seed = np.uint64(seed & 0xFFFFFFFFFFFFFFFF)

    def h(self, salt, *xs):
        """64-bit hash of (seed, salt, xs...) per row."""
        with np.errstate(over="ignore"):
            acc = _mix(np.full(np.shape(xs[0]), self.seed, dtype=np.uint64)
                       ^ np.uint64(salt * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF))
            for x in xs:
                acc = _mix(acc ^ np.asarray(x).astype(np.int64).view(np.uint64))
        return acc

    def u(self, salt, *xs):
        """Uniform in (0, 1]: 40 bits of the hash, never exactly 0."""
        return ((self.h(salt, *xs) & np.uint64((1 << 40) - 1)).astype(np.float64) + 1.0) \
            / float(1 << 40)

    def mod(self, salt, m, *xs):
        return (self.h(salt, *xs) % np.uint64(m)).astype(np.int64)

    def zipf(self, salt, n, *xs):
        """Zipf(1) rank in [0, n): floor(n^u) - 1."""
        r = np.floor(np.power(float(n), self.u(salt, *xs))).astype(np.int64) - 1
        return np.minimum(r, n - 1)

    def skew_key(self, salt, n, p_zipf, *xs):
        """A hot Zipf head (probability p_zipf) on a uniform body."""
        hot = self.u(salt + 7919, *xs) < p_zipf
        return np.where(hot, self.zipf(salt, n, *xs),
                        np.floor(self.u(salt, *xs) * n).astype(np.int64))

    def pick(self, salt, vs, *xs):
        i = np.floor(self.u(salt, *xs) * len(vs)).astype(np.int64)
        return np.asarray(vs, dtype=object)[np.minimum(i, len(vs) - 1)]


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
           "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
           "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
           "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
           "UNITED STATES"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["large", "hot", "blue", "dark", "small", "pale", "spicy", "smooth",
        "shiny", "rusty", "fresh", "clean", "quick", "round", "flat", "light"]
NOUNS = ["ring", "bolt", "wire", "plate", "gear", "valve", "lens", "frame",
         "brick", "panel", "screw", "wheel", "tube", "cable", "spring", "joint"]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

_SYL_A = ["ta", "re", "mo", "ka", "li", "su", "ven", "dor", "pel", "nix"]
_SYL_B = ["ran", "bel", "tos", "mir", "dun", "qua", "lor", "fex", "gam", "hiz"]


def _filler(prefix):
    return [prefix + a + b for a in _SYL_A for b in _SYL_B]


V = 112  # common Zipf vocabulary domain of every language
VOCABS = {
    "en": (["the", "and", "of", "to", "is", "with", "for", "that", "a", "in",
            "it", "on", "as", "was", "at", "by", "be", "or", "an",
            "data", "spark", "query", "table", "batch", "column", "sort", "hash",
            "scan", "line", "order", "group", "value", "fast", "slow", "small",
            "large"] + _filler(""))[:V],
    "fr": (["le", "la", "les", "et", "de", "un", "une", "est", "du", "en",
            "pour", "avec", "dans", "sur", "par", "que", "qui", "pas"]
           + _filler("é"))[:V],
    "de": (["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von",
            "zu", "auf", "für", "nicht", "auch", "sich", "dem", "den"]
           + _filler("ü"))[:V],
    "zh": (["的", "是", "了", "在", "和", "有", "我", "他", "这", "中", "大",
            "来", "上", "国", "个", "到", "说", "们", "为", "子"] + _filler("中"))[:V],
}

DAY_US = 86400 * 1_000_000
ORDER_EPOCH_US = 788918400 * 1_000_000   # 1995-01-01 UTC
EVENT_EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01 UTC
ORDER_DAYS = 2404                        # [1995-01-01, 2001-08-01)
EVENT_WINDOW_S = 30 * 86400 - 60


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _str(xs):
    return pa.array(list(xs), type=pa.string())


def generate(out, seed, scale, doc_scale, tables):
    d = Draws(seed)

    def n(base, s=scale):
        return max(1, int(round(base * s)))

    n_cust, n_supp, n_part = n(150000), n(10000), n(200000)
    n_ord, n_ev, n_users = n(1500000), n(1000000), n(15000)
    n_doc, n_vec, n_tmpl = n(50000, doc_scale), n(20000, doc_scale), n(2000, doc_scale)
    props = {"seed": seed, "scale": scale, "doc_scale": doc_scale}

    def write(name, cols):
        if name in tables:
            t = pa.table(cols)
            pq.write_table(t, os.path.join(out, f"{name}.parquet"))
            props[f"rows.{name}"] = t.num_rows

    ids = np.arange(5)
    write("region", {"r_regionkey": pa.array(ids, pa.int32()),
                     "r_name": _str(REGIONS)})
    ids = np.arange(25)
    write("nation", {"n_nationkey": pa.array(ids, pa.int32()),
                     "n_name": _str(NATIONS),
                     "n_regionkey": pa.array(d.mod(1, 5, ids), pa.int32())})
    ids = np.arange(n_cust)
    if "customer" in tables:
        write("customer", {
            "c_custkey": pa.array(ids, pa.int64()),
            "c_name": _str(f"Customer#{i:09d}" for i in ids),
            "c_nationkey": pa.array(d.mod(2, 25, ids), pa.int32()),
            "c_acctbal": np.round(d.u(3, ids) * 10999.98 - 999.99, 2),
            "c_mktsegment": _str(d.pick(4, SEGMENTS, ids))})
    ids = np.arange(n_supp)
    if "supplier" in tables:
        write("supplier", {
            "s_suppkey": pa.array(ids, pa.int64()),
            "s_name": _str(f"Supplier#{i:09d}" for i in ids),
            "s_nationkey": pa.array(d.mod(5, 25, ids), pa.int32()),
            "s_acctbal": np.round(d.u(6, ids) * 10999.98 - 999.99, 2)})
    ids = np.arange(n_part)
    if "part" in tables:
        names = d.pick(7, ADJS, ids) + " " + d.pick(8, NOUNS, ids)
        write("part", {
            "p_partkey": pa.array(ids, pa.int64()),
            "p_name": _str(names),
            "p_brand": _str("Brand#" + str(k + 1) for k in d.mod(9, 25, ids)),
            "p_type": _str(d.pick(10, TYPES, ids)),
            "p_size": pa.array(d.mod(11, 50, ids) + 1, pa.int32()),
            "p_retailprice": np.round(900.0 + (ids % 20000) / 10.0, 1)})

    # orders: o_custkey is a 15% Zipf / 85% uniform mixture
    ok = np.arange(n_ord)
    odate = ORDER_EPOCH_US + np.floor(d.u(23, ok) * ORDER_DAYS).astype(np.int64) * DAY_US
    custkey = d.skew_key(20, n_cust, 0.15, ok)
    if "orders" in tables:
        write("orders", {
            "o_orderkey": pa.array(ok, pa.int64()),
            "o_custkey": pa.array(custkey, pa.int64()),
            "o_orderstatus": _str(d.pick(21, ["O", "F", "P"], ok)),
            "o_totalprice": np.round(d.u(22, ok) * 499000.0 + 1000.0, 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": _str(d.pick(24, PRIORITIES, ok))})
        top = np.sort(np.bincount(custkey))[::-1][:max(1, n_cust // 100)]
        props["orders.top1pct_custkey_share"] = round(float(top.sum()) / n_ord, 4)

    # lineitem: 1..7 lines per order; l_partkey carries the same mixture
    if "lineitem" in tables:
        n_lines = d.mod(30, 7, ok) + 1
        lk = np.repeat(ok, n_lines)
        starts = np.cumsum(n_lines) - n_lines
        ln = np.arange(len(lk)) - np.repeat(starts, n_lines) + 1
        lid = d.h(29, lk, ln).view(np.int64)
        partkey = d.skew_key(31, n_part, 0.15, lid)
        qty = (np.floor(d.u(33, lid) * 50) + 1).astype(np.float64)
        write("lineitem", {
            "l_orderkey": pa.array(lk, pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(np.floor(d.u(32, lid) * n_supp).astype(np.int64)),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * (900.0 + (partkey % 20000) / 10.0), 2),
            "l_discount": np.round(np.floor(d.u(34, lid) * 11) / 100.0, 2),
            "l_tax": np.round(np.floor(d.u(35, lid) * 9) / 100.0, 2),
            "l_returnflag": _str(d.pick(36, ["A", "N", "R"], lid)),
            "l_linestatus": _str(d.pick(37, ["O", "F"], lid)),
            "l_shipdate": _ts(np.repeat(odate, n_lines) + (
                np.floor(d.u(38, lid) * 95).astype(np.int64) + 1) * DAY_US)})
        top = np.sort(np.bincount(partkey))[::-1][:max(1, n_part // 100)]
        props["lineitem.top1pct_partkey_share"] = round(float(top.sum()) / len(lk), 4)

    # events: 30% Zipf / 70% uniform users; exponential-tail values
    if "events" in tables:
        ev = np.arange(n_ev)
        write("events", {
            "event_id": pa.array(ev, pa.int64()),
            "ts": _ts(EVENT_EPOCH_US + np.floor(d.u(40, ev) * EVENT_WINDOW_S)
                      .astype(np.int64) * 1_000_000),
            "user_id": pa.array(d.skew_key(41, n_users, 0.30, ev), pa.int64()),
            "event_type": _str(d.pick(42, EVENT_TYPES, ev)),
            "value": np.round(-np.log(d.u(43, ev)) * 50.0, 3),
            "props": _str('{"k": ' + str(k) + "}" for k in d.mod(44, 100, ev))})

    # documents: 18% of docs belong to one of n_tmpl near-dup templates
    # (Zipf cluster sizes); a third of those are exact copies, the rest
    # re-draw every ~8th word from their own id
    if "documents" in tables:
        di = np.arange(n_doc)
        dup = d.u(50, di) < 0.18
        seed_id = np.where(dup, d.zipf(51, n_tmpl, di) - n_tmpl, di)
        exact = dup & (d.u(52, di) < 0.34)
        lu = d.u(53, seed_id)
        lang = np.where(lu < 0.55, "en", np.where(lu < 0.73, "fr",
                        np.where(lu < 0.88, "de", "zh")))
        nw = (8 + np.floor(d.u(54, seed_id) * 44)
              + np.floor(np.power(d.u(55, seed_id), 15) * 600)).astype(np.int64)
        texts = []
        for i in range(n_doc):
            slots = np.arange(1, nw[i] + 1)
            rank = d.zipf(58, V, seed_id[i] * 1000003 + slots)
            if dup[i] and not exact[i]:
                mutate = d.mod(56, 8, np.full_like(slots, i), slots) == 0
                rank = np.where(mutate, d.zipf(57, V, i * 1000003 + slots), rank)
            vocab = VOCABS[lang[i]]
            texts.append(" ".join(vocab[r] for r in rank))
        write("documents", {
            "doc_id": pa.array(di, pa.int64()),
            "text": _str(texts),
            "lang": _str(lang),
            "source": _str("src" + str(z) for z in d.zipf(59, 20, di)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
        _, counts = np.unique(np.asarray(texts, dtype=object), return_counts=True)
        props["documents.near_dup_cluster_share"] = round(float(dup.mean()), 4)
        props["documents.exact_text_shared_share"] = round(
            float(counts[counts > 1].sum()) / n_doc, 4)

    # embeddings: Gaussian mixture around 10 label centroids; 6% are
    # near-dup children of a Zipf-chosen parent
    if "embeddings" in tables:
        vi = np.arange(n_vec)
        child = d.u(60, vi) < 0.06
        vs = np.where(child, d.zipf(61, max(1, n_vec // 4), vi), vi)
        label = d.mod(62, 10, vs)
        dims = np.arange(64)
        L, D = np.meshgrid(label, dims, indexing="ij")
        cent = (d.mod(63, 2001, L, D).astype(np.float64) - 1000.0) / 1000.0

        def gauss(salt, base):
            x = (base[:, None] * 64 + dims[None, :])
            return np.sqrt(-2.0 * np.log(d.u(salt, x))) * \
                np.cos(2.0 * math.pi * d.u(salt + 1, x))
        emb = cent + gauss(64, vs) * 0.25 + np.where(
            child[:, None], gauss(66, vi) * 0.01, 0.0)
        write("embeddings", {
            "vec_id": pa.array(vi, pa.int64()),
            "embedding": pa.array(list(emb.astype(np.float32)),
                                  type=pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32())})
        props["embeddings.near_dup_child_share"] = round(float(child.mean()), 4)

    with open(os.path.join(out, "_properties.json"), "w") as f:
        json.dump(props, f, indent=1, sort_keys=True)
    return props


if __name__ == "__main__":
    o, s, sc, dsc = sys.argv[1:5]
    os.makedirs(o, exist_ok=True)
    print(json.dumps(generate(o, int(s), float(sc), float(dsc),
                              set(sys.argv[5:]) or set(TABLE_NAMES))))
