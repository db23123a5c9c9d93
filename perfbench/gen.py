"""Seeded input generator for the `shelve` and `ingest` workloads.

The same seed always gives the same files. Everything is written under the
directory it is given; nothing else is read or written. Each generator
returns the facts the run record carries (rows, files, row groups, the
hot-cell share, the planted-duplicate share, the batch count).

    python3 perfbench/gen.py shelve|ingest <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of one input set. A run makes one pass over them; see README.md.
SHELVE_PAGES = 100_000
SHELVE_FILES = 8
SHELVE_ROW_GROUPS_PER_FILE = 2
INGEST_BATCHES = 2
INGEST_PROBES_PER_BATCH = 4
INGEST_DOCS_PER_BATCH = 600
INGEST_ORDERS_PER_BATCH = 300

LANGS = ["en", "de", "fr", "es", "zh"]
# a small per-language vocabulary, so language and text agree
VOCAB = {
    "en": "the data table query merge window stream batch join sort key value filter row column page tile cell map".split(),
    "de": "der die das und tabelle abfrage fenster strom schluessel wert zeile spalte seite kachel zelle karte".split(),
    "fr": "le la les et table requete fenetre flux cle valeur ligne colonne page tuile cellule carte".split(),
    "es": "el la los y tabla consulta ventana flujo clave valor fila columna pagina mosaico celda mapa".split(),
    "zh": "shu ju biao cha xun he bing chuang kou liu pi ci lian jie pai xu jian zhi hang lie ye".split(),
}
BOILER_HEAD = "home about contact privacy terms login register subscribe newsletter cookies"
BOILER_TAIL = "copyright all rights reserved powered by example cms follow us on social media"


def _write(table, path, row_groups=1):
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


def gen_shelve(seed, out):
    """One multi-file page table plus the kNN query ids (0.1% of pages).

    doc_id = 10*i + r with r uniform in 0..9, so the documented hash
    geocoding (graft.pages.Pages) puts r=0 pages in one hot 1-degree cell and
    r=1 pages in a cell on the antimeridian at -70 latitude: about 20% of the
    pages in two hot cells, the rest spread over latitudes -85..85.
    """
    rng = np.random.default_rng(seed)
    n = SHELVE_PAGES
    doc_id = np.arange(n, dtype=np.int64) * 10 + rng.integers(0, 10, n)
    lang_ix = rng.integers(0, len(LANGS), n)
    words = np.array(VOCAB["en"])
    w = rng.integers(0, len(words), (n, 6))
    text = [" ".join(words[r]) for r in w]
    lang = np.array(LANGS)[lang_ix]
    src = np.char.add("src", (rng.integers(0, 10, n)).astype(str))
    n_chars = np.array([len(t) for t in text], dtype=np.int64)
    docs_dir = os.path.join(out, "docs")
    os.makedirs(docs_dir, exist_ok=True)
    per = -(-n // SHELVE_FILES)
    for f in range(SHELVE_FILES):
        s = slice(f * per, min(n, (f + 1) * per))
        t = pa.table({"doc_id": doc_id[s], "text": text[s], "lang": lang[s],
                      "source": src[s], "n_chars": n_chars[s]})
        _write(t, os.path.join(docs_dir, f"part-{f:02d}.parquet"), SHELVE_ROW_GROUPS_PER_FILE)
    nq = max(5, n // 1000)
    qids = np.sort(rng.choice(doc_id, nq, replace=False))
    pq.write_table(pa.table({"doc_id": qids}), os.path.join(out, "queries.parquet"))
    hot = float(np.isin(doc_id % 10, [0, 1]).mean())
    counts = {"pages": n, "queries": nq}
    facts = {"rows": n, "files": SHELVE_FILES,
             "row_groups": SHELVE_FILES * SHELVE_ROW_GROUPS_PER_FILE,
             "hot_cell_share": round(hot, 6), "queries": nq, "batches": 1,
             "planted_duplicate_share": 0.0}
    return counts, facts


def _doc_text(rng, lang, boiler):
    words = VOCAB[lang]
    body = " ".join(words[i] for i in rng.integers(0, len(words), rng.integers(30, 90)))
    return f"{BOILER_HEAD} {body} {BOILER_TAIL}" if boiler else body


def gen_ingest(seed, out):
    """Arriving batches, each one `documents.parquet` and one `orders.parquet`.

    Planted in the documents: exact duplicates of earlier documents (same or
    earlier batch), near duplicates (two tokens changed), boilerplate
    head/tail lines on a fifth of the pages, five languages, and updated
    re-sends of earlier doc_ids (the last writer must win in merged tables).
    Orders re-send about 30% of earlier keys, so merges update rows.
    """
    rng = np.random.default_rng(seed)
    planted = []          # (original doc_id, exact duplicate doc_id)
    originals = {}        # doc_id -> (text, lang) of never-resent documents
    next_id = 1000 + int(rng.integers(0, 1000))
    all_keys = []
    counts = {"batches": INGEST_BATCHES, "probes_per_batch": INGEST_PROBES_PER_BATCH}
    resend_pool = []      # doc_ids that are neither an original nor a duplicate
    n_docs_total = 0
    n_exact = n_near = n_boiler = n_resent = 0
    for b in range(INGEST_BATCHES):
        rows = []
        in_batch = set()
        for _ in range(INGEST_DOCS_PER_BATCH):
            u = rng.random()
            if u < 0.06 and originals:
                keys = list(originals)
                orig = keys[int(rng.integers(0, len(keys)))]
                text, lang = originals[orig]
                did = next_id; next_id += 1
                planted.append((orig, did))
                n_exact += 1
            elif u < 0.12 and originals:
                keys = list(originals)
                text, lang = originals[keys[int(rng.integers(0, len(keys)))]]
                toks = text.split(" ")
                for _k in range(2):
                    toks[int(rng.integers(0, len(toks)))] = VOCAB[lang][int(rng.integers(0, len(VOCAB[lang])))]
                text = " ".join(toks)
                did = next_id; next_id += 1
                n_near += 1
                resend_pool.append(did)
            elif u < 0.16 and b > 0 and resend_pool:
                did = resend_pool.pop(int(rng.integers(0, len(resend_pool))))
                if did in in_batch:
                    continue
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                text = _doc_text(rng, lang, False)
                n_resent += 1
            else:
                lang = LANGS[int(rng.integers(0, len(LANGS)))]
                boiler = rng.random() < 0.2
                n_boiler += int(boiler)
                text = _doc_text(rng, lang, boiler)
                did = next_id; next_id += 1
                if rng.random() < 0.5:
                    originals[did] = (text, lang)
                else:
                    resend_pool.append(did)
            in_batch.add(did)
            rows.append((did, text, lang, f"src{int(rng.integers(0, 10))}", len(text)))
        rows.sort()
        d = os.path.join(out, f"batch-{b:02d}")
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows))
        pq.write_table(pa.table({
            "doc_id": pa.array(cols[0], pa.int64()), "text": pa.array(cols[1]),
            "lang": pa.array(cols[2]), "source": pa.array(cols[3]),
            "n_chars": pa.array(cols[4], pa.int64())}), os.path.join(d, "documents.parquet"))
        # orders: fresh keys plus re-sent earlier keys
        n_old = int(INGEST_ORDERS_PER_BATCH * 0.3) if all_keys else 0
        old = rng.choice(np.array(all_keys), n_old, replace=False) if n_old else np.array([], np.int64)
        start = 1 + b * 100_000
        new = start + np.sort(rng.choice(100_000, INGEST_ORDERS_PER_BATCH - n_old, replace=False))
        keys = np.sort(np.concatenate([old, new]).astype(np.int64))
        all_keys.extend(int(k) for k in new)
        no = len(keys)
        pq.write_table(pa.table({
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, 150, no).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": np.round(rng.random(no) * 1000, 2),
            "o_orderdate": pa.array((np.datetime64("2024-01-01") + rng.integers(0, 365, no)).astype("datetime64[us]")),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM"])[rng.integers(0, 3, no)],
        }), os.path.join(d, "orders.parquet"))
        ids = np.array([r[0] for r in rows], dtype=np.int64)
        counts[f"docs.{b}"] = len(rows)
        counts[f"orders.{b}"] = no
        counts[f"stac_rows.{b}"] = 2 * len(all_keys)
        for i in range(INGEST_PROBES_PER_BATCH):
            lo = int(ids[int(rng.integers(0, len(ids)))])
            counts[f"probe_lo.{b}.{i}"] = lo
            counts[f"probe_hi.{b}.{i}"] = lo + 40
        n_docs_total += len(rows)
    pq.write_table(pa.table({"orig": pa.array([p[0] for p in planted], pa.int64()),
                             "dup": pa.array([p[1] for p in planted], pa.int64())}),
                   os.path.join(out, "planted.parquet"))
    facts = {"rows": n_docs_total, "files": 2 * INGEST_BATCHES, "row_groups": 2 * INGEST_BATCHES,
             "batches": INGEST_BATCHES, "hot_cell_share": 0.0,
             "planted_duplicate_share": round(n_exact / n_docs_total, 6),
             "near_duplicates": n_near, "boilerplate_docs": n_boiler, "resent_docs": n_resent,
             "orders": int(sum(counts[f"orders.{b}"] for b in range(INGEST_BATCHES)))}
    return counts, facts


def write_counts(out, counts):
    with open(os.path.join(out, "counts.properties"), "w") as f:
        for k, v in sorted(counts.items()):
            f.write(f"{k}={v}\n")


def generate(workload, seed, out):
    """Generate into `out` unless a complete set is already there."""
    done = os.path.join(out, "facts.json")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)
    counts, facts = {"shelve": gen_shelve, "ingest": gen_ingest}[workload](seed, out)
    write_counts(out, counts)
    with open(done, "w") as f:
        json.dump(facts, f)
    return facts


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
