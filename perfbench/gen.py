"""Seeded inputs for the KG benchmark.

Every input is a pure function of ``--seed`` and the workload size, so
two runs with one seed see byte-identical corpora. The program under
test only ever receives the generated tables; the expected counts the
output checks compare against come from the generator, not from the
program.

- ``web_documents``: a ``documents`` table in the shape
  ``gitnexus_spark.synthetic.synth_pages`` reads (doc_id, text, lang,
  source), shaped like the sf0.1 documents table. Its filler text is
  lowercase, so every mention and triple
  in the rendered pages comes from synth_pages' own injected sentences
  and the expected counts follow from its doc-id arithmetic.
- ``wide_vocab_pages``: a pages table (url, warc_ts, html, text, lang)
  with a vocabulary-scale set of distinct surface forms, hyphen
  variants, alias forms, and stop-entity triple endpoints beside
  near-miss registry names.
- ``wide_alias_dictionary``: a large alias dictionary, almost all of it
  unused by the corpus.
- ``query_picks``: the seeded closed-loop query mix.
- ``ops_tables``: small tables in the driver's sf layout (documents,
  lineitem, orders, customer, events, embeddings) for the non-KG
  operator heads of ``__spark_entry__.queries()``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

from gitnexus_spark.synthetic import render_html

# the shape of the documents table at sf0.1 (5,000 rows), measured once:
# text is words of a 31-word vocabulary, 44-577 characters (about
# uniform, mean 297), 2% of rows end in "dup"; lang is 41% en and 15%
# each of de/fr/es/zh; 20 sources
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]
N_SOURCES = 20
CHARS_MIN, CHARS_MAX = 44, 577
DUP_FRAC = 0.02
FILLER = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table "
          "stream merge data join vector customer a the").split()
SYLLABLES = ("ka ro be lu mi ta ne so vi da qu ze fo pa ri lo su ge ha "
             "no xi tu we ma ce bo fi ly de gu").split()
# stop entities the extractor drops from the registry, each beside a
# registry name one trigram away (Jaccard >= 0.5), so only the fuzzy
# stage can link them
NEAR_MISS = {"More": "Mores", "Contact": "Contacts", "Home": "Homes",
             "Search": "Searches", "Menu": "Menus", "Next": "Nexts",
             "Login": "Logins", "Click": "Clicks"}
ALIAS_FRAC = 0.03      # wide_vocab endpoint slots in alias form
VARIANT_FRAC = 0.04    # ... in hyphen-variant form
STOP_FRAC = 0.10       # wide_vocab pages with a stop-entity subject
WIDE_PREDS = ["founded", "acquired", "endorsed", "criticized", "visited",
              "launched", "owns", "leads", "joined", "left"]
BASE_TS = dt.datetime(2024, 1, 1)


@dataclass
class Expected:
    """Counts the program's output must reproduce."""
    pages: int
    raw_triples: int
    links_to: int


@dataclass
class Corpus:
    rows: dict                  # column -> list (documents or pages schema)
    expected: Expected
    urls: list                  # page url per doc index
    targets: list               # sorted nav-link target doc indexes
    used_aliases: list = field(default_factory=list)  # (alias, canonical)


def web_documents(seed: int, n_docs: int) -> Corpus:
    """documents(doc_id, text, lang, source, n_chars) for synth_pages,
    shaped like the sf0.1 documents table (see FILLER above)."""
    rng = random.Random(seed)
    texts = [_filler_text(rng) for _ in range(n_docs)]
    cols = {
        "doc_id": list(range(n_docs)),
        "text": texts,
        "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
        "source": [f"src{rng.randrange(N_SOURCES)}" for _ in range(n_docs)],
        "n_chars": [len(t) for t in texts],
    }
    # synth_pages: one triple per doc, two more when doc_id % 3 == 0;
    # nav links to (3d+1)%n and (11d+7)%n
    targets = [sorted({(3 * d + 1) % n_docs, (11 * d + 7) % n_docs})
               for d in range(n_docs)]
    return Corpus(
        rows=cols,
        expected=Expected(pages=n_docs,
                          raw_triples=n_docs + 2 * len(range(0, n_docs, 3)),
                          links_to=sum(map(len, targets))),
        urls=[web_url(d, cols["source"][d], cols["lang"][d])
              for d in range(n_docs)],
        targets=targets)


def _filler_text(rng: random.Random) -> str:
    """Lowercase filler of CHARS_MIN..CHARS_MAX characters, so every
    mention and triple of the rendered page is one synth_pages injects."""
    dup = rng.random() < DUP_FRAC
    limit = rng.randint(CHARS_MIN, CHARS_MAX) - (4 if dup else 0)
    words, n = [], -1
    while True:
        w = rng.choice(FILLER)
        if words and n + len(w) + 1 > limit:
            break
        words.append(w)
        n += len(w) + 1
    return " ".join(words + (["dup"] if dup else []))


def web_url(doc_id: int, source: str, lang: str) -> str:
    return (f"https://{source}.example.org/{lang}/s{doc_id % 10}"
            f"/p{doc_id}.html")


def _vocab_name(i: int) -> str:
    """Distinct capitalized surface form per index (base-30 syllables)."""
    parts = []
    for _ in range(4):
        i, r = divmod(i, len(SYLLABLES))
        parts.append(SYLLABLES[r])
    word = "".join(parts) + (str(i) if i else "")
    return word.capitalize()


def wide_vocab_pages(seed: int, n_docs: int, triples_per_doc: int,
                     vocab: int) -> Corpus:
    """Pages whose triple endpoints span ``vocab`` distinct names.

    Each page holds ``triples_per_doc`` one-object sentences
    ``"Subj pred Obj."``. Endpoint slots cycle through the vocabulary in
    a seeded order, so every name is used at least once. A slot is an
    alias form (resolved by the alias dictionary) with ALIAS_FRAC, a
    hyphen variant (merged by normalized-key blocking) with
    VARIANT_FRAC; STOP_FRAC of pages get one stop-entity subject, and
    the near-miss names appear as ordinary subjects.
    """
    rng = random.Random(seed)
    slots = n_docs * triples_per_doc * 2
    if slots < vocab:
        raise ValueError("too few endpoint slots for the vocabulary")
    order = list(range(vocab)) * (slots // vocab + 1)
    order = order[:slots]
    rng.shuffle(order)
    alias_of: dict[int, str] = {}
    urls = [f"https://site{d % 40}.example.org/w/s{d % 16}/p{d}.html"
            for d in range(n_docs)]
    cols = {"url": [], "warc_ts": [], "html": [], "text": [], "lang": []}
    all_targets = []
    near = list(NEAR_MISS.items())
    for d in range(n_docs):
        sent = []
        for k in range(triples_per_doc):
            ends = []
            for e in (0, 1):
                idx = order[(d * triples_per_doc + k) * 2 + e]
                u = rng.random()
                if u < ALIAS_FRAC:
                    ends.append(alias_of.setdefault(idx, f"Al{idx}x{seed}"))
                elif u < ALIAS_FRAC + VARIANT_FRAC:
                    w = _vocab_name(idx)
                    ends.append(w[:4] + "-" + w[4:])
                else:
                    ends.append(_vocab_name(idx))
            sent.append(f"{ends[0]} {rng.choice(WIDE_PREDS)} {ends[1]}.")
        stop, miss = near[d % len(near)]
        if d < len(near):      # every near-miss name is registered
            sent[0] = f"{miss} {rng.choice(WIDE_PREDS)} " \
                      f"{sent[0].split(' ', 2)[2]}"
        elif rng.random() < STOP_FRAC:
            sent[-1] = f"{stop} {rng.choice(WIDE_PREDS)} " \
                       f"{sent[-1].split(' ', 2)[2]}"
        text = " ".join(sent)
        targets = sorted({rng.randrange(n_docs), rng.randrange(n_docs)})
        all_targets.append(targets)
        cols["url"].append(urls[d])
        cols["warc_ts"].append(BASE_TS + dt.timedelta(seconds=d))
        cols["html"].append(render_html(d, urls[d], text,
                                        [urls[t] for t in targets]))
        cols["text"].append(text)
        cols["lang"].append(LANGS[d % len(LANGS)])
    used = sorted((a, _vocab_name(i)) for i, a in alias_of.items())
    return Corpus(
        rows=cols,
        expected=Expected(pages=n_docs, raw_triples=n_docs * triples_per_doc,
                          links_to=sum(map(len, all_targets))),
        urls=urls, targets=all_targets, used_aliases=used)


def wide_alias_dictionary(spark, seed: int, used: list, total: int):
    """``total`` alias rows: the corpus's used aliases plus unused ones
    generated in the JVM (alias -> one of total/8 canonical forms, so
    the unused part is a forest of small stars)."""
    from pyspark.sql import functions as F

    used_df = spark.createDataFrame(used,
                                    "alias string, canonical_name string")
    n_unused = max(total - len(used), 0)
    i = F.col("id")
    unused = spark.range(n_unused).select(
        F.concat(F.lit(f"Zq{seed}n"), i.cast("string")).alias("alias"),
        F.concat(F.lit("Zc"), (i % max(n_unused // 8, 1)).cast("string"))
        .alias("canonical_name"))
    return used_df.unionByName(unused)


KINDS = ["top_entities", "two_hop", "paths", "edge_lookup", "search",
         "cypher"]


def query_picks(seed: int, targets: list) -> list:
    """One closed-loop round: a (kind, doc, other_doc) pick per kind.
    ``other_doc`` is two nav hops from ``doc`` (so the path query stays
    shallow); ``doc`` is drawn until one exists."""
    rng = random.Random(seed * 7919 + 1)
    out = []
    for kind in KINDS:
        while True:
            a = rng.randrange(len(targets))
            two = sorted({c for b in targets[a] for c in targets[b]}
                         - {a})
            if two:
                break
        out.append((kind, a, rng.choice(two)))
    return out


def ops_tables(seed: int, out_dir: str, n_orders: int = 300) -> Corpus:
    """Seeded documents, lineitem, orders, customer, events and
    embeddings parquet files under ``out_dir``, with the schemas and
    value domains of the driver's sf tables at ``n_orders`` orders
    (sf0.001 has 1,500). Returns the documents' corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed * 31 + 17)
    n_cust, n_line = max(n_orders // 10, 10), n_orders * 4
    n_docs, n_events, n_vecs = n_orders // 3, n_orders * 2 // 3, n_orders // 3
    day = dt.timedelta(days=1)
    t95 = dt.datetime(1995, 1, 1)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols, schema=None):
        pq.write_table(pa.table(cols, schema=schema),
                       os.path.join(out_dir, f"{name}.parquet"))

    docs = web_documents(seed, n_docs)
    write("documents", docs.rows)
    write("customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999, 9999), 2)
                      for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(["FURNITURE", "BUILDING", "MACHINERY",
                                     "HOUSEHOLD", "AUTOMOBILE"])
                         for _ in range(n_cust)]})
    write("orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("OFP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1e3, 4e5), 2)
                         for _ in range(n_orders)],
        "o_orderdate": [t95 + rng.randrange(2404) * day
                        for _ in range(n_orders)],
        "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                        "4-NOT SPECIFIED", "5-LOW"])
                            for _ in range(n_orders)]})
    qty = [float(rng.randint(1, 50)) for _ in range(n_line)]
    write("lineitem", {
        "l_orderkey": [rng.randrange(n_orders) for _ in range(n_line)],
        "l_partkey": [rng.randrange(200) for _ in range(n_line)],
        "l_suppkey": [rng.randrange(10) for _ in range(n_line)],
        "l_linenumber": pa.array([rng.randint(1, 7) for _ in range(n_line)],
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rng.uniform(900, 2100), 2)
                            for q in qty],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(n_line)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("NRA") for _ in range(n_line)],
        "l_linestatus": [rng.choice("FO") for _ in range(n_line)],
        "l_shipdate": [t95 + rng.randrange(2500) * day
                       for _ in range(n_line)]})
    t24 = dt.datetime(2024, 1, 1)
    write("events", {
        "event_id": list(range(n_events)),
        "ts": sorted(t24 + dt.timedelta(seconds=rng.uniform(0, 30 * 86400))
                     for _ in range(n_events)),
        "user_id": [rng.randrange(max(n_events // 60, 2))
                    for _ in range(n_events)],
        "event_type": [rng.choice(["click", "purchase", "error", "signup",
                                   "view"]) for _ in range(n_events)],
        "value": [round(rng.expovariate(1 / 50), 2)
                  for _ in range(n_events)],
        "props": [f'{{"k": {rng.randrange(100)}}}'
                  for _ in range(n_events)]})
    vecs = []
    for _ in range(n_vecs):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
    write("embeddings", {
        "vec_id": list(range(n_vecs)),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n_vecs)],
                          pa.int32())})
    return docs
