"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes plain files
(text shards or parquet tables) plus the expectation the output checks
need.  The same seed always gives the same bytes; the program under test
only ever sees the written files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _words(rng, n, lo=3, hi=10):
    """n distinct lowercase pseudo-words, lengths in [lo, hi]."""
    seen, out = set(), []
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(lo, hi + 1, size=k)
        chars = LETTERS[rng.integers(0, 26, size=int(lens.sum()))]
        pos = 0
        for ln in lens:
            w = "".join(chars[pos:pos + ln])
            pos += ln
            if w not in seen:
                seen.add(w)
                out.append(w)
    return out


def line_hash(b):
    """64-bit hash of one line's bytes (first 8 bytes of MD5, little
    endian); the multiset hash of a file set is the sum mod 2^64."""
    return int.from_bytes(hashlib.md5(b).digest()[:8], "little")


def _write_shards(out_dir, lines, n_files):
    os.makedirs(out_dir, exist_ok=True)
    paths, per = [], -(-len(lines) // n_files)
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i}.txt")
        with open(p, "wb") as f:
            f.write(b"\n".join(lines[i * per:(i + 1) * per]))
        paths.append(p)
    return paths


# ---------------------------------------------------------------- mr ---

def gen_wordcount(out_dir, seed, mb, vocab=50000, n_files=4):
    """Zipf(s=1) text over `vocab` words, tokens separated by runs of the
    reference delimiters.  Writes the shards plus `tally.tsv`, the
    generator's own word counts."""
    rng = np.random.default_rng([seed, 1])
    words = np.array(_words(rng, vocab))
    p = 1.0 / np.arange(1, vocab + 1)
    p /= p.sum()
    n_tok = int(mb * 1e6 / 7.2)
    ids = rng.choice(vocab, size=n_tok, p=p)
    # separators: runs of the reference job's delimiters (space comma
    # period quotes), mostly one space; the words hold none of them
    seps = np.array([" ", " ", " ", " ", " ", ", ", ". ", " \"", "\" ",
                     " '", "' ", ",", "  "])
    gap = seps[rng.integers(0, len(seps), size=n_tok)]
    per_line = rng.integers(6, 18, size=n_tok // 6 + 1)
    ends = np.cumsum(per_line)
    ends = ends[ends < n_tok]
    gap[ends - 1] = "\n"
    gap[-1] = ""
    text = "".join(np.char.add(words[ids], gap).tolist())
    lead = rng.random(len(ends) + 1) < 0.05  # some lines open with a quote
    lines = [("\"" + s if q else s).encode()
             for s, q in zip(text.split("\n"), lead)]
    paths = _write_shards(os.path.join(out_dir, "input"), lines, n_files)
    counts = np.bincount(ids, minlength=vocab)
    with open(os.path.join(out_dir, "tally.tsv"), "w") as f:
        for w, c in sorted(zip(words.tolist(), counts.tolist())):
            if c:
                f.write(f"{w}\t{c}\n")
    return {"inputs": paths, "input_bytes": sum(map(os.path.getsize, paths)),
            "distinct": int((counts > 0).sum()), "tokens": n_tok}


def gen_identity(out_dir, seed, mb, n_files=4):
    """`key,value` lines with unique keys and short values (some values
    hold commas).  The expectation is the lines' multiset hash."""
    rng = np.random.default_rng([seed, 2])
    n = int(mb * 1e6 / 28)
    mult = 0x9E3779B97F4A7C15 & ((1 << 48) - 1) | 1  # odd: a bijection
    off = int(rng.integers(0, 1 << 48))
    alnum = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789,"))
    vlen = rng.integers(4, 20, size=n)
    vchars = alnum[rng.integers(0, len(alnum), size=int(vlen.sum()))]
    lines, pos, h = [], 0, 0
    for i in range(n):
        key = f"{(i * mult + off) & ((1 << 48) - 1):012x}"
        ln = int(vlen[i])
        b = (key + "," + "".join(vchars[pos:pos + ln])).encode()
        pos += ln
        lines.append(b)
        h = (h + line_hash(b)) & 0xFFFFFFFFFFFFFFFF
    paths = _write_shards(os.path.join(out_dir, "input"), lines, n_files)
    return {"inputs": paths, "input_bytes": sum(map(os.path.getsize, paths)),
            "lines": n, "multiset_hash": str(h)}


# ---------------------------------------------------------- documents ---

STOP = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "on"],
    "es": ["el", "la", "de", "que", "en", "un", "por", "con", "para", "los"],
    "de": ["der", "die", "und", "den", "von", "zu", "das", "mit", "auf", "ist"],
    "fr": ["le", "et", "les", "des", "est", "une", "dans", "qui", "pour", "sur"],
    "it": ["il", "di", "che", "per", "non", "una", "sono", "gli", "del", "come"],
}
LANGS = sorted(STOP)


def _doc_structure(rng, n_docs, n_content):
    """One group's documents as token-id lists.  Content tokens are
    ints >= 0; stopwords are (lang, index) tuples.  Mixes normal docs
    with the cases each curation stage removes: short, repetitive,
    no-stopword, exact and near duplicates."""
    docs = []  # (lang, tokens)
    normal = []
    for i in range(n_docs):
        kind = rng.random()
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        if normal and kind < 0.08:                       # exact duplicate
            lang, toks = docs[normal[int(rng.integers(0, len(normal)))]]
            docs.append((lang, list(toks)))
            continue
        if normal and kind < 0.15:                       # near duplicate
            # one token replaced in a doc of >= 50 tokens: 3-gram
            # Jaccard >= 0.88, far above the 0.8 threshold
            src = [j for j in normal[-50:] if len(docs[j][1]) >= 50]
            if src:
                lang, toks = docs[src[int(rng.integers(0, len(src)))]]
                toks = list(toks)
                toks[int(rng.integers(0, len(toks)))] = int(rng.integers(0, n_content))
                docs.append((lang, toks))
                continue
        if kind < 0.20:                                  # too short
            n = int(rng.integers(4, 9))
        elif kind < 0.25:                                # repetitive
            base = rng.integers(0, n_content, size=3).tolist()
            docs.append((lang, [base[int(k)] for k in rng.integers(0, 3, size=60)]))
            continue
        else:
            n = int(rng.integers(20, 90))
        toks = rng.integers(0, n_content, size=n).tolist()
        if kind >= 0.30:                                 # 0.25-0.30: no stopwords
            for j in np.nonzero(rng.random(n) < 0.2)[0]:
                toks[j] = (lang, int(rng.integers(0, len(STOP[lang]))))
            normal.append(len(docs))
        docs.append((lang, toks))
    return docs


def gen_documents(path, seed, groups, docs_per_group, n_content=3000, files=1):
    """The `documents` table: `groups` copies of one seeded group, each
    copy with its own content-word namespace (same word lengths, same
    stopwords; at most 100 copies), so every copy curates identically and no near-duplicate
    crosses copies.  With files > 1, `path` is a directory of that many
    parquet files (so the scan splits)."""
    rng = np.random.default_rng([seed, 3])
    content = _words(rng, n_content, 3, 8)
    structure = _doc_structure(rng, docs_per_group, n_content)
    ids, texts, langs, sources, nchars = [], [], [], [], []
    for g in range(groups):
        vocab = [f"{w}{g:02d}" for w in content]  # digits: never a stopword
        for i, (lang, toks) in enumerate(structure):
            text = " ".join(STOP[t[0]][t[1]] if isinstance(t, tuple) else vocab[t]
                            for t in toks)
            ids.append(g * docs_per_group + i)
            texts.append(text)
            langs.append(lang)
            sources.append(f"src{(i * 7 + g) % 20}")
            nchars.append(len(text))
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array(nchars, pa.int64()),
    })
    if files == 1:
        pq.write_table(table, path)
    else:
        os.makedirs(path)
        per = -(-len(ids) // files)
        for i in range(files):
            pq.write_table(table.slice(i * per, per), os.path.join(path, f"part-{i}.parquet"))
    return {"docs": len(ids), "groups": groups, "docs_per_group": docs_per_group}


# ------------------------------------------------- relational tables ---

def _ts(rng, start, end, n):
    """Day-granular timestamps (µs, no zone) uniformly in [start, end)."""
    s = np.datetime64(start, "D").astype("int64")
    e = np.datetime64(end, "D").astype("int64")
    days = rng.integers(s, e, size=n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def gen_tables(out_dir, seed, lineitems=60000):
    """TPC-H-shaped tables (region, nation, customer, supplier, part,
    orders, lineitem) with the fixture's column names, types and value
    domains."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    n_ord, n_cust, n_part, n_supp = lineitems // 4, lineitems // 40, lineitems // 30, 100

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colors = ["red", "blue", "green", "black", "white", "small", "large",
              "steel", "brass", "silver", "gold", "pink", "navy"]
    nouns = ["anvil", "bolt", "ring", "widget", "gear"]
    types = np.array(["ECONOMY", "STANDARD", "SMALL", "PROMO", "LARGE", "MEDIUM"])
    retail = np.round(900 + (np.arange(n_part) % 1000) / 10, 2)
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in zip(
            rng.integers(0, len(colors), n_part), rng.integers(0, len(nouns), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    pk = rng.integers(0, n_part, lineitems)
    qty = rng.integers(1, 51, lineitems).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, lineitems), pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pk], 2),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, lineitems)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, lineitems)],
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", lineitems)})

