"""Input generators for the three workloads.

Every input comes from numpy's generator seeded with (seed, workload), so
the same seed gives the same Parquet files; graft's own DataGen is never
used, so a change to the program cannot change a workload. Each generator
writes its files plus `meta.json` (the parameters the JVM side reads) and
returns the generator's own expectations, which the oracle uses next to
DuckDB's computations.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per workload at scale 1. A warm pass takes a few seconds on local[4].
SIZES = {"validate": 200_000, "neardup": 8_000, "quality": 400}

VOCAB = 50257
BOS = 1
MAX_LEN = 256
SOURCES = ["web", "books", "code", "wiki", "forums", "news", "papers", "chat"]
SHIFTED_SOURCE = "forums"
ORPHANS = ["src-orphan-1", "src-orphan-2", "src-orphan-3"]
LANGS = ["en", "es", "fr", "de"]
LANG_SHARE = [0.55, 0.2, 0.15, 0.1]
LM_SIZES = [500, 1000, 2000]
SAMPLE_FRACTION = 0.5


def _write(table, path, parts):
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _words(rng, n, lo=3, hi=9, suffix=""):
    """n distinct synthetic lowercase words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out, seen = [], set()
    while len(out) < n:
        k = int(rng.integers(lo, hi + 1))
        w = "".join(rng.choice(letters, k - len(suffix))) + suffix
        if w not in seen:
            seen.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def validate(out, seed, rows):
    """Tokenized sequences (doc_id, tokens, n_tok, source): a zipf source mix,
    one source whose lengths are shifted up, and disjoint planted defects for
    every check of the suite (about 5% of rows)."""
    rng = np.random.default_rng([seed, 1])
    zipf = 1.0 / np.arange(1, len(SOURCES) + 1) ** 1.2
    src = rng.choice(len(SOURCES), rows, p=zipf / zipf.sum())
    lens = rng.integers(2, MAX_LEN + 1, rows)
    shifted = src == SOURCES.index(SHIFTED_SOURCE)
    lens[shifted] = rng.integers(MAX_LEN // 2 + 1, MAX_LEN + 1, int(shifted.sum()))

    rates = [("null_doc_id", 0.003), ("bad_doc_id", 0.005), ("null_source", 0.005),
             ("n_tok_range", 0.005), ("length_mismatch", 0.005), ("elem_range", 0.005),
             ("no_bos", 0.005), ("size_bounds", 0.005), ("dup_doc_id", 0.005),
             ("orphan_source", 0.003)]
    order = rng.permutation(rows)
    cls = np.zeros(rows, dtype=np.int8)
    at = 0
    for c, (_, r) in enumerate(rates, start=1):
        k = int(rows * r)
        cls[order[at:at + k]] = c
        at += k
    defect = {name: np.flatnonzero(cls == c) for c, (name, _) in enumerate(rates, start=1)}

    sb = defect["size_bounds"]
    lens[sb] = np.where(rng.random(len(sb)) < 0.5, 0, rng.integers(MAX_LEN + 1, MAX_LEN + 45, len(sb)))
    n_tok = lens.astype(np.int32).copy()
    nr = defect["n_tok_range"]
    n_tok[nr] = np.where(rng.random(len(nr)) < 0.5, 0, rng.integers(MAX_LEN + 1, MAX_LEN + 15, len(nr)))
    n_tok[defect["length_mismatch"]] -= 1

    offsets = np.zeros(rows + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    values = rng.integers(3, VOCAB, int(offsets[-1])).astype(np.int32)
    starts = offsets[:-1][lens > 0]
    values[starts] = BOS
    nb = defect["no_bos"]
    values[offsets[nb]] = rng.integers(3, VOCAB, len(nb))
    for i in defect["elem_range"]:
        k = int(rng.integers(1, 4))
        pos = offsets[i] + rng.choice(np.arange(1, lens[i]), size=min(k, lens[i] - 1), replace=False)
        values[pos] = np.where(rng.random(len(pos)) < 0.5, -1 - rng.integers(0, 5, len(pos)),
                               VOCAB + rng.integers(0, 5, len(pos)))

    doc_id = np.array([f"doc-{i:012d}" for i in range(rows)], dtype=object)
    clean = np.flatnonzero(cls == 0)
    dups = defect["dup_doc_id"]
    doc_id[dups] = doc_id[rng.choice(clean, len(dups))]
    doc_id[defect["bad_doc_id"]] = [f"doc-{i:011d}x" for i in defect["bad_doc_id"]]
    doc_id[defect["null_doc_id"]] = None
    source = np.array(SOURCES, dtype=object)[src]
    source[defect["orphan_source"]] = np.array(ORPHANS, dtype=object)[
        rng.integers(0, len(ORPHANS), len(defect["orphan_source"]))]
    source[defect["null_source"]] = None

    table = pa.table({
        "doc_id": pa.array(doc_id, type=pa.string()),
        "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(values)),
        "n_tok": pa.array(n_tok),
        "source": pa.array(source, type=pa.string()),
    })
    _write(table, os.path.join(out, "sequences.parquet"), 8)
    _write(pa.table({"source": SOURCES}), os.path.join(out, "sources.parquet"), 1)
    meta = {"rows": rows, "max_len": MAX_LEN, "vocab": VOCAB, "bos": BOS, "bin_width": 16.0,
            "chi2_threshold": 100.0, "doc_id_pattern": "^doc-[0-9]{12}$"}
    return meta, {"planted": {k: len(v) for k, v in defect.items()}}


def neardup(out, seed, rows):
    """Documents of 80-120 random words; 10% of rows are one-word-edit copies
    of a base document (1-4 copies per cluster). Expected survivors: the
    smallest id of each cluster plus every singleton."""
    rng = np.random.default_rng([seed, 2])
    vocab = _words(rng, 20_000)
    planted = rows // 10
    copies = []
    while sum(copies) < planted:
        copies.append(int(rng.integers(1, 5)))
    copies[-1] -= sum(copies) - planted
    if copies[-1] == 0:
        copies.pop()
    n_base = rows - planted
    lens = rng.integers(80, 121, n_base)
    base_words = [rng.integers(0, len(vocab), n) for n in lens]
    ids = rng.permutation(rows).astype(np.int64) + 1
    docs = list(base_words)
    cluster_of = list(range(n_base))
    bases = rng.choice(n_base, len(copies), replace=False)
    for b, k in zip(bases, copies):
        for _ in range(k):
            w = base_words[b].copy()
            w[int(rng.integers(0, len(w)))] = int(rng.integers(0, len(vocab)))
            docs.append(w)
            cluster_of.append(int(b))
    text = [" ".join(vocab[w].tolist()) for w in docs]
    _write(pa.table({"doc_id": pa.array(ids), "text": pa.array(text, type=pa.string())}),
           os.path.join(out, "docs.parquet"), 4)
    keep = {}
    for i, c in zip(ids.tolist(), cluster_of):
        keep[c] = min(keep.get(c, i), i)
    survivors = sorted(keep.values())
    return {"rows": rows}, {"survivors": survivors}


def quality(out, seed, rows):
    """Multilingual documents for the CCNet-style flow. Each language has
    phrases over disjoint word groups, drawn zipf-wise with a per-document
    share of rare phrases, so n-grams repeat across documents (the LM has
    something to learn) but never within one (clean documents pass every
    gate by construction). Planted gate failures, one stage each: too few
    words (quality), a repeated line (Gopher repetition), '#' tokens
    (Gopher quality)."""
    rng = np.random.default_rng([seed, 3])
    connectors = np.array(["the", "and", "of", "to", "with"], dtype=object)
    phrases = {}
    for li, lang in enumerate(LANGS):
        words = _words(rng, 11_000, suffix=["", "o", "e", "en"][li])
        cuts = np.cumsum(rng.integers(3, 7, 4000))
        cuts = cuts[cuts < len(words)]
        phrases[lang] = [words[a:b] for a, b in zip(np.r_[0, cuts[:-1]], cuts)]

    cdf = {lang: np.cumsum(1.0 / np.arange(1, len(ph) + 1)) for lang, ph in phrases.items()}

    def clean_words(lang, target):
        ph, c = phrases[lang], cdf[lang]
        rare = rng.random()
        used, out_words, n = set(), [], 0
        while n < target:
            picks = np.where(rng.random(32) < rare, rng.integers(0, len(ph), 32),
                             np.searchsorted(c, rng.random(32) * c[-1]))
            for p in picks.tolist():
                if p in used:
                    continue
                if used:
                    j = len(used)
                    out_words.append(connectors[0] if j == 1 else connectors[1] if j == 2
                                     else connectors[int(rng.integers(0, len(connectors)))])
                used.add(p)
                out_words.extend(ph[p].tolist())
                n += len(ph[p])
                if rng.random() < 0.2:
                    out_words[-1] += "."
                if n >= target:
                    break
        return out_words

    lang_of = rng.choice(len(LANGS), rows, p=LANG_SHARE)
    kind = rng.choice(4, rows, p=[0.91, 0.03, 0.03, 0.03])
    stage = ["kept", "quality", "gopher_repetition", "gopher_quality"]
    text = []
    for lg, k in zip(lang_of.tolist(), kind.tolist()):
        lang = LANGS[lg]
        if k == 0:
            text.append(" ".join(clean_words(lang, int(rng.integers(60, 111)))))
        elif k == 1:
            text.append(" ".join(clean_words(lang, 3)[:int(rng.integers(2, 5))]))
        elif k == 2:
            w = clean_words(lang, 50)
            a, b = " ".join(w[:len(w) // 2]), " ".join(w[len(w) // 2:])
            text.append("\n".join([a, a, b]))
        else:
            w = clean_words(lang, int(rng.integers(60, 111)))
            for pos in sorted(rng.choice(len(w), len(w) // 4, replace=False), reverse=True):
                w.insert(int(pos), "#")
            text.append(" ".join(w))
    ids = rng.permutation(rows).astype(np.int64) + 1
    langs = np.array(LANGS, dtype=object)[lang_of]
    _write(pa.table({"doc_id": pa.array(ids), "lang": pa.array(langs, type=pa.string()),
                     "text": pa.array(text, type=pa.string())}),
           os.path.join(out, "docs.parquet"), 4)
    audit = {s: int((kind == i).sum()) for i, s in enumerate(stage)}
    meta = {"rows": rows, "lm_sizes": LM_SIZES, "sample_fraction": SAMPLE_FRACTION}
    return meta, {"audit": audit, "gate_survivors": sorted(ids[kind == 0].tolist())}


GENERATORS = {"validate": validate, "neardup": neardup, "quality": quality}


def generate(workload, out, seed, rows):
    meta, expect = GENERATORS[workload](out, seed, rows)
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta, expect
