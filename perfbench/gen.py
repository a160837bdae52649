"""Seeded input generator for the graft product benchmark.

Every input the benchmarked program sees is written here, from the seed
alone: the same seed gives byte-identical tables.

    python3 perfbench/gen.py lake        --seed N --out DIR
    python3 perfbench/gen.py corpus      --seed N --out DIR

Each command writes a `manifest.json` beside its tables describing what was
generated (sizes, layout, drift, injected duplicates), which the harness
uses as ground truth alongside the DuckDB oracle.
"""

import argparse
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The verify catalog, shaped as the Fixtures.specs / OracleSql.schemas tables
# of the same names: the composite-PK lineitem (large enough that its
# single-row-group file gets spread), the JSON props column in events, and the
# single-PK orders with its millisecond timestamps. Lineitem has 1..7 lines
# per order, about 36k rows.
ORDERS = 9000
EVENTS = 6000
PARTS = 800
SUPPLIERS = 40
CUSTOMERS = 600
VERIFY_TABLES = ["events", "lineitem", "orders"]
# tables the lake's second target drifts: the same two for every seed, so
# every seed does the same drill-down work; the seed picks the rows
LAKE_DRIFT = ["lineitem", "orders"]

PKS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"],
       "events": ["event_id"]}

SCHEMAS = {
    "orders": pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                           ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                           ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                           ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                           ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                           ("l_shipdate", pa.timestamp("us"))]),
    "events": pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                         ("user_id", pa.int64()), ("event_type", pa.string()),
                         ("value", pa.float64()), ("props", pa.string())]),
    "documents": pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())]),
}

# value columns a drift update rewrites (never a PK)
UPDATABLE = {"orders": "o_totalprice", "lineitem": "l_extendedprice", "events": "value"}

WORDS = [a + b + c for a in ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi")
         for b in ("bar", "den", "fil", "gor", "han", "lek", "mor", "pin", "sul", "tev")
         for c in ("", "a", "is", "on", "et")]


def money(rng, lo, hi, n):
    """Two-decimal amounts in [lo, hi): inside the shortest-repr range the
    canonical double rendering is engine-portable for (Canon scaladoc)."""
    return np.round(rng.uniform(lo, hi, n), 2)


def ts_us(rng, start_s, span_s, n, micros=False):
    base = (start_s + rng.integers(0, span_s, n)).astype(np.int64) * 1_000_000
    if micros:
        base = base + rng.integers(0, 1_000_000, n)
    return pa.array(base, pa.int64()).cast(pa.timestamp("us"))


def make_catalog(seed):
    rng = np.random.default_rng(seed)
    n = ORDERS
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = {"o_orderkey": np.arange(n, dtype=np.int64),
              "o_custkey": rng.integers(0, CUSTOMERS, n).astype(np.int64),
              "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist(),
              "o_totalprice": money(rng, 1000, 400000, n),
              "o_orderdate": ts_us(rng, 852076800, 6 * 365 * 86400, n),
              "o_orderpriority": prio[rng.integers(0, 5, n)].tolist()}
    lines = rng.integers(1, 8, n)
    m = int(lines.sum())
    lineitem = {
        "l_orderkey": np.repeat(np.arange(n, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, PARTS, m).astype(np.int64),
        "l_suppkey": rng.integers(0, SUPPLIERS, m).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(rng, 900, 100000, m),
        "l_discount": np.round(rng.integers(1, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(1, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)].tolist(),
        "l_shipdate": ts_us(rng, 852076800, 6 * 365 * 86400, m)}
    n = EVENTS
    etype = np.array(["click", "view", "signup", "purchase", "error"])
    events = {"event_id": np.arange(n, dtype=np.int64),
              "ts": ts_us(rng, 1704067200, 90 * 86400, n, micros=True),
              "user_id": rng.integers(0, 500, n).astype(np.int64),
              "event_type": etype[rng.integers(0, 5, n)].tolist(),
              "value": money(rng, 1, 999, n),
              "props": [json.dumps({"k": int(k), "tag": WORDS[int(t)]})
                        for k, t in zip(rng.integers(0, 100, n),
                                        rng.integers(0, len(WORDS), n))]}
    rows = {"orders": orders, "lineitem": lineitem, "events": events}
    return {t: pa.table(rows[t], schema=SCHEMAS[t]) for t in VERIFY_TABLES}


def drift_table(rng, table, name, updates, deletes, inserts):
    """Seeded updates, deletes and inserts on one table; returns the new
    table and the row counts applied."""
    n = table.num_rows
    pick = rng.choice(n, size=updates + deletes, replace=False)
    upd, dele = pick[:updates], pick[updates:]
    cols = {c: table.column(c).to_pylist() for c in table.column_names}
    col = UPDATABLE[name]
    for i in upd:
        v = cols[col][i]
        cols[col][i] = (v + " drift") if isinstance(v, str) else round(v + 1.25, 2)
    keep = np.ones(n, dtype=bool)
    keep[dele] = False
    out = {c: [v for v, k in zip(vals, keep) if k] for c, vals in cols.items()}
    pk = PKS[name][0]
    top = max(cols[pk])
    for j in range(inserts):
        src = int(rng.integers(0, n))
        for c in out:
            out[c].append(cols[c][src])
        if name == "lineitem":
            # a new line on an existing order: (l_orderkey, l_linenumber) stays unique
            out["l_linenumber"][-1] = 100 + j
        else:
            out[pk][-1] = top + 1 + j
    return pa.table(out, schema=table.schema), {"updates": updates, "deletes": deletes,
                                                 "inserts": inserts}


def write_table(table, path):
    """One parquet file with a single row group: unsplittable by design."""
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def write_catalog(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        write_table(t, os.path.join(out, f"{name}.parquet"))


def gen_lake(seed, out):
    base = make_catalog(seed)
    rng = np.random.default_rng(seed + 1)
    drifted = dict(base)
    drift = {}
    for name in LAKE_DRIFT:
        drifted[name], drift[name] = drift_table(rng, base[name], name, 3, 2, 2)
    write_catalog(base, os.path.join(out, "a"))
    write_catalog(drifted, os.path.join(out, "b"))
    return {"targets": ["a", "b"], "layout": "single-file, single row group",
            "tables": VERIFY_TABLES,
            "rows": {"a": {t: base[t].num_rows for t in VERIFY_TABLES},
                     "b": {t: drifted[t].num_rows for t in VERIFY_TABLES}},
            "drift": drift, "pks": PKS}


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

LANGS = ["de", "en", "es", "fr", "zh"]
STOP = {"en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "was"],
        "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
        "es": ["el", "la", "que", "y", "en", "un", "es", "se", "no", "por"],
        "fr": ["le", "la", "et", "un", "une", "est", "que", "dans", "pour", "sur"],
        "zh": ["的", "是", "在", "了", "不", "我", "有", "他", "这", "中"]}
SOURCES = [f"src{i:02d}" for i in range(20)]
CHUNK = 64
BASE_DOCS = 160
PII_DOCS = 10
# near-duplicate families: (count, variants per family)
FAMILIES = [(8, 3), (8, 1)]
LOW_QUALITY = 8
EXACT_COPIES = 8


def _family_sizes():
    """(first family index past this group, variants) per FAMILIES group."""
    end = 0
    for n, v in FAMILIES:
        end += n
        yield end, v


def doc_length(rng):
    """Token counts whose last 64-token chunk keeps at least 16 tokens, so
    two documents' tail chunks cannot coincide by chance."""
    while True:
        n = int(rng.integers(70, 230))
        if n % CHUNK == 0 or n % CHUNK >= 16:
            return n


def body(rng, lang, n):
    stop = STOP[lang]
    return [stop[rng.integers(0, len(stop))] if rng.random() < 0.18
            else WORDS[rng.integers(0, len(WORDS))] for _ in range(n)]


def gen_corpus(seed, out):
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    headers = {s: f"{s} header notice all rights reserved portal {WORDS[i * 7 % len(WORDS)]}".split()
               for i, s in enumerate(SOURCES)}
    docs = []          # (text, lang, source, kind)
    seen = set()

    def add(tokens, lang, source, kind):
        text = " ".join(tokens)
        if text in seen:
            return False
        seen.add(text)
        docs.append((text, lang, source, kind))
        return True

    # every seed gets the same composition; the seed picks the content
    pii = set(rng.choice(BASE_DOCS, size=PII_DOCS, replace=False).tolist())
    bases = []
    while len(bases) < BASE_DOCS:
        lang = LANGS[int(rng.integers(0, 5))]
        source = SOURCES[int(rng.integers(0, 20))]
        n = doc_length(rng)
        head = headers[source] if rng.random() < 0.4 else []
        toks = head + body(rng, lang, n - len(head))
        kind = "base"
        if len(bases) in pii:
            # PII-dense: several email / long-number / URL tokens
            for _ in range(6):
                pos = int(rng.integers(len(head), len(toks)))
                toks[pos] = prng.choice([f"user{prng.randrange(10**4)}@mail.example.com",
                                         f"{prng.randrange(10**9, 10**10)}",
                                         f"http://site{prng.randrange(10**4)}.example/x"])
            kind = "pii"
        if add(toks, lang, source, kind):
            bases.append((toks, lang, source))
    # near-duplicate families, variants with about 2% of tokens replaced:
    # some wider than --max-cluster-size (dropped wholesale), some narrower
    for f, (toks, lang, source) in enumerate(bases[:sum(n for n, _ in FAMILIES)]):
        variants = next(v for n, v in _family_sizes() if f < n)
        made = 0
        while made < variants:
            v = list(toks)
            for pos in rng.choice(len(v), size=max(1, len(v) // 50), replace=False):
                v[pos] = WORDS[(WORDS.index(v[pos]) + 1) % len(WORDS)] if v[pos] in WORDS \
                    else WORDS[int(rng.integers(0, len(WORDS)))]
            made += add(v, lang, source, "near_dup")
    # low-quality: short, two distinct content tokens plus one unique marker
    for i in range(LOW_QUALITY):
        a, b = WORDS[int(rng.integers(0, len(WORDS)))], WORDS[int(rng.integers(0, len(WORDS)))]
        add([a, b] * 6 + [f"lowq{i}"], LANGS[int(rng.integers(0, 5))],
            SOURCES[int(rng.integers(0, 20))], "low_quality")
    # exact copies of earlier documents (new ids, identical text)
    originals = list(docs)
    copies = 0
    for j in rng.choice(len(originals), size=EXACT_COPIES, replace=False):
        docs.append(originals[int(j)][:3] + ("exact_copy",))
        copies += 1
    order = rng.permutation(len(docs))
    table = pa.table({"doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
                      "text": [docs[i][0] for i in order],
                      "lang": [docs[i][1] for i in order],
                      "source": [docs[i][2] for i in order],
                      "n_chars": pa.array([len(docs[i][0]) for i in order], pa.int64())},
                     schema=SCHEMAS["documents"])
    os.makedirs(os.path.join(out, "corpus"), exist_ok=True)
    write_table(table, os.path.join(out, "corpus", "documents.parquet"))
    kinds = {}
    for d in docs:
        kinds[d[3]] = kinds.get(d[3], 0) + 1
    return {"docs": len(docs), "exact_copies": copies,
            "near_dup_families": sum(n for n, _ in FAMILIES),
            "kinds": kinds, "langs": len(LANGS), "sources": len(SOURCES),
            "chunk_tokens": CHUNK}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("what", choices=["lake", "corpus", "probe"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    if os.path.exists(a.out):
        shutil.rmtree(a.out)
    os.makedirs(a.out)
    if a.what == "lake":
        manifest = gen_lake(a.seed, a.out)
    elif a.what == "corpus":
        manifest = gen_corpus(a.seed, a.out)
    else:
        # a lineitem for the kernel probes of workloads that have no catalog
        t = make_catalog(a.seed)["lineitem"]
        write_table(t, os.path.join(a.out, "lineitem.parquet"))
        manifest = {"rows": t.num_rows}
    manifest["seed"] = a.seed
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
