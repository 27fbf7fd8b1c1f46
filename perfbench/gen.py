"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-identical files. Inputs are cached under the benchmark work
directory keyed by (workload, seed, size) and are always built outside
the timed windows. Each input directory carries a `truth.json` with the
ground truth that was planted in it, which the output checks use.

corpus-build
    `warc/part-NNN.warc`  WARC/1.0 response records (one per document)
    `uri_lookup.parquet`  uri -> (doc_id, lang, source)
    truth.json            exact-dup groups, near-dup clone pairs, spam ids

registry-heavy
    one parquet per fixture table (`region` ... `embeddings`), in the
    schema of the program's catalog, with the row counts of sf0.001
    times `scale`.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- corpus-build ------------------------------------------------------------

CORPUS_FILES = 16
VOCAB_SIZE = 4000
ZIPF_S = 0.8
LANGS = ("en", "en", "en", "de", "fr")
N_SOURCES = 20
BOILERPLATE_POOL = 12
# shares of the corpus, by document count
EXACT_DUP_SHARE = 0.10  # documents that get one or two byte-identical copies
CLONE_SHARE = 0.20  # documents that get one near-duplicate clone
BOILERPLATE_SHARE = 0.30  # documents that carry a shared boilerplate paragraph
SPAM_SHARE = 0.05


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB_SIZE:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def _paragraph(rng, vocab, p, n_words) -> str:
    return " ".join(vocab[rng.choice(len(vocab), n_words, p=p)])


def _write_warc(path: str, records: list[tuple[str, str]]) -> None:
    with open(path, "wb") as f:
        for uri, text in records:
            body = text.encode("utf-8")
            f.write(
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + f"Content-Length: {len(body)}\r\n\r\n".encode()
                + body
                + b"\r\n\r\n"
            )


def corpus(out: str, seed: int, n_base: int) -> dict:
    """Generate the corpus-build input under `out`; return the truth."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocab(rng)
    ranks = np.arange(1, len(vocab) + 1, dtype=float)
    p = ranks**-ZIPF_S
    p /= p.sum()
    boiler = [
        _paragraph(rng, vocab, p, int(rng.integers(25, 40)))
        for _ in range(BOILERPLATE_POOL)
    ]

    texts: list[str] = []
    for _ in range(n_base):
        paras = [
            _paragraph(rng, vocab, p, int(rng.integers(50, 90)))
            for _ in range(int(rng.integers(3, 6)))
        ]
        if rng.random() < BOILERPLATE_SHARE:
            paras.insert(
                int(rng.integers(0, len(paras) + 1)),
                boiler[int(rng.integers(0, BOILERPLATE_POOL))],
            )
        texts.append("\n\n".join(paras))

    # disjoint roles over the base documents
    order = rng.permutation(n_base)
    n_exact = int(n_base * EXACT_DUP_SHARE)
    n_clone = int(n_base * CLONE_SHARE)
    n_spam = int(n_base * SPAM_SHARE)
    exact_src = order[:n_exact]
    clone_src = order[n_exact:n_exact + n_clone]
    spam_at = order[n_exact + n_clone:n_exact + n_clone + n_spam]

    spam_words = vocab[rng.choice(len(vocab), 4, replace=False)]
    for i in spam_at:
        pitch = " ".join(spam_words)
        texts[i] = "\n\n".join(
            " ".join([pitch] * int(rng.integers(15, 30))) for _ in range(2)
        )

    # extra documents: exact copies and near-dup clones
    extra: list[tuple[int, str]] = []
    for i in exact_src:
        for _ in range(int(rng.integers(1, 3))):
            extra.append((int(i), texts[i]))
    clones: list[tuple[int, str]] = []
    for i in clone_src:
        words = texts[i].split(" ")
        # a light edit: ~3% of tokens replaced, paragraph breaks kept
        for j in rng.choice(len(words), max(1, len(words) // 33), replace=False):
            if "\n" not in words[j]:
                words[j] = vocab[int(rng.integers(0, len(vocab)))]
        clones.append((int(i), " ".join(words)))

    # doc ids: a seeded permutation so roles are not id-ordered
    all_texts = texts + [t for _, t in extra] + [t for _, t in clones]
    n = len(all_texts)
    ids = rng.permutation(n).astype(np.int64) + 1000
    base_id = ids[:n_base]
    extra_id = ids[n_base:n_base + len(extra)]
    clone_id = ids[n_base + len(extra):]

    groups: dict[int, list[int]] = {int(base_id[i]): [int(base_id[i])] for i in exact_src}
    for (src, _), did in zip(extra, extra_id):
        groups[int(base_id[src])].append(int(did))
    truth = {
        "n_docs": n,
        "exact_groups": sorted(sorted(g) for g in groups.values()),
        "clone_pairs": sorted(
            sorted((int(base_id[src]), int(did)))
            for (src, _), did in zip(clones, clone_id)
        ),
        "spam_ids": sorted(int(base_id[i]) for i in spam_at),
    }

    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    sources = np.array([f"src{k}" for k in rng.integers(0, N_SOURCES, n)])
    uris = [f"https://{s}.example.org/page/{d}" for s, d in zip(sources, ids)]

    os.makedirs(os.path.join(out, "warc"), exist_ok=True)
    shuffled = rng.permutation(n)
    for f, chunk in enumerate(np.array_split(shuffled, CORPUS_FILES)):
        _write_warc(
            os.path.join(out, "warc", f"part-{f:03d}.warc"),
            [(uris[k], all_texts[k]) for k in chunk],
        )
    pq.write_table(
        pa.table({
            "uri": uris,
            "doc_id": pa.array(ids, pa.int64()),
            "lang": langs,
            "source": sources,
        }),
        os.path.join(out, "uri_lookup.parquet"),
    )
    return truth


# --- registry-heavy ----------------------------------------------------------

DOC_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _ts(rng, start: str, days: float, n: int, unit: str = "s") -> pa.Array:
    base = pd.Timestamp(start).value // 1000
    span = int(days * 86400 * 1e6)
    us = base + rng.integers(0, span, n)
    if unit == "d":  # whole days, like the order and ship dates
        us = base + (rng.integers(0, int(days), n) * 86400 * 10**6)
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def registry_twin(out: str, seed: int, scale: int) -> dict:
    """The fixture tables at sf0.001 x `scale` rows, seeded."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = 150 * scale, 10 * scale, 200 * scale
    n_ord, n_ev, n_doc, n_emb = 1500 * scale, 1000 * scale, 500, 500

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    put("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng, "1995-01-01", 2400, n_ord, "d"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    per_order = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), per_order)
    n_li = len(okeys)
    qty = rng.integers(1, 51, n_li).astype(float)
    put("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
        ),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(rng, "1995-01-02", 2500, n_li, "d"),
    })
    ts = np.sort(
        _ts(rng, "2024-01-01", 30, n_ev).to_numpy(zero_copy_only=False)
    )
    put("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": rng.choice(
            ["view", "click", "signup", "purchase", "error"], n_ev
        ),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    dw = np.array(DOC_WORDS)
    texts = [
        " ".join(rng.choice(dw, int(rng.integers(8, 95))))
        for _ in range(n_doc)
    ]
    put("documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "zh", "de"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(0.0, 0.15, (n_emb, 64)).astype(np.float32)
    put("embeddings", {
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return {"tables": 10, "lineitem_rows": n_li}


def cached(root: str, workload: str, seed: int, size: int) -> str:
    """Build (or reuse) the input of `workload` for (seed, size) under
    `root`; return its directory."""
    out = os.path.join(root, f"{workload}-seed{seed}-size{size}")
    done = os.path.join(out, "truth.json")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if workload == "corpus-build":
            truth = corpus(tmp, seed, size)
        else:
            truth = registry_twin(tmp, seed, size)
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out
