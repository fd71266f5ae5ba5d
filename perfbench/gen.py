"""Seeded input generation for the graft benchmark.

Every input the benchmarked program sees is made here from the workload seed:
the same seed gives byte-identical parquet files. Nothing is read from outside
the run directory.
"""
import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_SOURCES = 20


def _vocab(size=600):
    # fixed across seeds: the corpus changes with the seed, the language does not
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        words.add("".join(rng.choice(letters, rng.integers(2, 9))))
    return np.array(sorted(words))


VOCAB = _vocab()


class Corpus:
    """Word-sequence documents. Each language favours its own slice of the
    vocabulary, so a naive-Bayes gate trained on `lang` has real signal."""

    def __init__(self, rng):
        self.rng = rng
        base = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
        self.p = {}
        for i, lang in enumerate(LANGS):
            w = base.copy()
            w[i * 60:(i + 1) * 60] *= 6.0
            self.p[lang] = w / w.sum()

    def fresh(self, lang):
        n = int(self.rng.integers(20, 120))
        return list(self.rng.choice(VOCAB, n, p=self.p[lang]))

    def variant(self, toks, lang, sub_frac=0.08):
        """A near-duplicate: a few tokens substituted, a short tail cut."""
        toks = list(toks)
        k = max(1, int(len(toks) * sub_frac))
        for i in self.rng.choice(len(toks), k, replace=False):
            toks[i] = self.rng.choice(VOCAB, p=self.p[lang])
        cut = int(self.rng.integers(0, 4))
        return toks[:len(toks) - cut] if len(toks) - cut >= 10 else toks


def doc_table(ids, toks, langs, sources):
    text = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _write(table, path):
    pq.write_table(table, path)


def _ts(rng, lo, hi, n, micros=False):
    lo_us = int(lo.timestamp() * 1e6)
    hi_us = int(hi.timestamp() * 1e6)
    v = rng.integers(lo_us, hi_us, n)
    if not micros:
        v = v - v % 86_400_000_000
    return pa.array(v, pa.timestamp("us"))


def tpch(out, seed, sf):
    """TPC-H-like star schema plus `events` and `documents`, with the column
    names, types and value domains the siuba-surface queries expect."""
    rng = np.random.default_rng(seed)
    n_li, n_ord = int(6_000_000 * sf), int(1_500_000 * sf)
    n_cust, n_part, n_supp = int(150_000 * sf), int(200_000 * sf), int(10_000 * sf)
    n_ev = int(1_000_000 * sf)
    d = lambda y, m, dd: datetime.datetime(y, m, dd, tzinfo=datetime.timezone.utc)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n: rng.choice(np.array(xs), n)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }), f"{out}/supplier.parquet")
    adj = ["red", "green", "small", "large", "hot", "cold", "old", "new"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "pipe"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adj, n_part), pick(noun, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                        "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) * 0.1, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts(rng, d(1995, 1, 1), d(2001, 8, 2), n_ord),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord),
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": _ts(rng, d(1995, 1, 2), d(2001, 11, 5), n_li),
    }), f"{out}/lineitem.parquet")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(rng, d(2024, 1, 1), d(2024, 1, 31), n_ev, micros=True),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out}/events.parquet")
    n_docs = int(50_000 * sf)
    c = Corpus(rng)
    langs = list(rng.choice(LANGS, n_docs, p=LANG_P))
    _write(doc_table(range(n_docs), [c.fresh(l) for l in langs], langs,
                     [f"src{i % N_SOURCES}" for i in range(n_docs)]),
           f"{out}/documents.parquet")
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord,
            "events_rows": n_ev, "documents_rows": n_docs}


def near_dup_corpus(rng, n, dup_share):
    """`n` documents; a `dup_share` of them are near-duplicate variants of an
    earlier document of the corpus."""
    c = Corpus(rng)
    ids, toks, langs, srcs = [], [], [], []
    candidates = []
    for i in range(n):
        if candidates and rng.random() < dup_share:
            t, lang = candidates[int(rng.integers(0, len(candidates)))]
            t = c.variant(t, lang)
        else:
            lang = str(rng.choice(LANGS, p=LANG_P))
            t = c.fresh(lang)
        candidates.append((t, lang))
        ids.append(i)
        toks.append(t)
        langs.append(lang)
        srcs.append(f"src{int(rng.integers(0, N_SOURCES))}")
    return ids, toks, langs, srcs


def curate_inputs(out, seed, n_docs, dup_share):
    """The lifecycle corpus: `n_docs` documents with a `dup_share` of seeded,
    perturbed near-duplicate variants."""
    rng = np.random.default_rng(seed)
    _write(doc_table(*near_dup_corpus(rng, n_docs, dup_share)),
           f"{out}/documents.parquet")
    return {"documents_rows": n_docs, "near_dup_share": dup_share}

