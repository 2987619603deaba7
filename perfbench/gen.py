"""Seeded input generator for the benchmark, in the testdata schema.

Every table is a pure function of (workload, seed, size constants): numpy's
PCG64 drives all randomness and pyarrow writes parquet with fixed settings,
so the same seed gives byte-identical files (checked by test_gen.py).

Tables follow the testdata schema (TESTDATA.md):

  events     event_id BIGINT, ts TIMESTAMP(us), user_id BIGINT,
             event_type VARCHAR (the symbol), value DOUBLE (the price),
             props VARCHAR
  documents  doc_id BIGINT, text VARCHAR, lang VARCHAR, source VARCHAR,
             n_chars BIGINT

Shapes injected, per workload:

  curation  exact and near duplicates, page re-crawls inside the 3-id URL
            groups the curation chain derives, docs carrying long spans of
            benchmark docs (doc_id % 10 == 0, contaminating 8-grams),
            shared boilerplate sentences and short docs Gopher drops
  ingest    a stream of micro-batches: documents (fresh docs, exact and
            near duplicates and page re-crawls of earlier docs) and ticks
            over many symbols, with gaps (outages), each batch re-delivering
            the previous window's tail complete (duplicate ticks), plus late
            ticks for older minutes
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
MIN_US = 60_000_000

# Size constants: one place, recorded in every run artifact.
SIZES = {
    "curation": {"docs": 4000},
    "ingest": {"batches": 3, "docs_per_batch": 80, "symbols": 8,
               "window_min": 90, "overlap_min": 15,
               "start_us": T0_US + 30 * 1440 * MIN_US + 18 * 60 * MIN_US},
}
# Copies of ingest doc d get ids d + k * COPY_STRIDE (re-crawls of the same
# page) or d + k * COPY_STRIDE + COPY_STRIDE // 2 (the text re-posted on
# another page); the benchmark derives the page URL from
# doc_id % COPY_STRIDE. Originals always hold the smallest id of their
# near-duplicate cluster and arrive no later than their copies.
COPY_STRIDE = 10_000_000


def write_parquet(table: pa.Table, path: str) -> None:
    # eight row groups, so a Spark scan of the file runs eight tasks
    pq.write_table(table, path, compression="snappy", version="2.6",
                   use_dictionary=True, write_statistics=True,
                   row_group_size=max(1, -(-table.num_rows // 8)))


def events_table(event_id, ts_us, user_id, symbol, value) -> pa.Table:
    return pa.table({
        "event_id": pa.array(event_id, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(user_id, pa.int64()),
        "event_type": pa.array(symbol, pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([None] * len(event_id), pa.string()),
    })


def docs_table(doc_id, text, lang, source) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(doc_id, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


# ------------------------------------------------------------------ ticks

def symbol_minutes(rng, minutes: int) -> np.ndarray:
    """Active-minute mask for one symbol: short outages plus the odd
    multi-hour halt."""
    active = np.ones(minutes, dtype=bool)
    n_short = rng.poisson(minutes / 1440 * 6)
    for s, ln in zip(rng.integers(0, minutes, n_short),
                     rng.geometric(1 / 12, n_short)):
        active[s:s + ln] = False
    n_long = rng.poisson(minutes / 1440 * 0.3)
    for s, ln in zip(rng.integers(0, minutes, n_long),
                     rng.integers(120, 600, n_long)):
        active[s:s + ln] = False
    return active


def base_ticks(rng, n_sym: int, minutes: int, start_us: int, rate: float):
    """(symbol index, ts_us, price) of every tick, time-ordered per symbol."""
    sym, ts, px = [], [], []
    for s in range(n_sym):
        active = symbol_minutes(rng, minutes)
        per_min = rng.poisson(rate, minutes) * active
        m = np.repeat(np.arange(minutes, dtype=np.int64), per_min)
        t = start_us + m * MIN_US + rng.integers(0, MIN_US, len(m))
        t.sort()
        base = 10.0 + 990.0 * rng.random()
        walk = np.cumsum(rng.normal(0.0, base * 4e-4, len(t)))
        p = np.round(np.maximum(base + walk, 0.5), 2)
        sym.append(np.full(len(t), s, dtype=np.int64))
        ts.append(t)
        px.append(p)
    return np.concatenate(sym), np.concatenate(ts), np.concatenate(px)


def symbol_names(idx: np.ndarray):
    names = np.array([f"SYM{i:03d}" for i in range(int(idx.max()) + 1)])
    return names[idx].tolist()


# ------------------------------------------------------------------- docs

STOP = ["the", "and", "of", "to", "with", "that", "have", "for", "from",
        "this", "are", "was", "not", "but"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def vocabulary(rng, n: int = 4000):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(words))


class TextGen:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = vocabulary(rng)
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** 0.9
        self.p = w / w.sum()
        self.boiler = [self.sentence() for _ in range(40)]

    def sentence(self) -> str:
        n = int(self.rng.integers(8, 18))
        words = self.rng.choice(self.vocab, n, p=self.p).tolist()
        for i in self.rng.integers(0, n, max(1, n // 4)):
            words[i] = STOP[int(self.rng.integers(0, len(STOP)))]
        return " ".join(words)

    def doc(self, n_sent: int) -> str:
        sents = [self.sentence() for _ in range(n_sent)]
        if self.rng.random() < 0.25:  # shared boilerplate sentence
            sents.insert(int(self.rng.integers(0, n_sent + 1)),
                         self.boiler[int(self.rng.integers(0, 40))])
        return ". ".join(sents)

    def tail_cut(self, text: str) -> str:
        """Near duplicate with Jaccard > 0.9: the last one or two words
        dropped (the truncated re-post), so LSH banding cannot miss it."""
        toks = text.split(" ")
        return " ".join(toks[:len(toks) - int(self.rng.integers(1, 3))])

    def near(self, text: str) -> str:
        """Near duplicate: a few words dropped or replaced."""
        toks = text.split(" ")
        k = max(1, len(toks) // 25)
        for i in sorted(set(self.rng.integers(0, len(toks), k).tolist()),
                        reverse=True):
            if self.rng.random() < 0.5:
                del toks[i]
            else:
                toks[i] = str(self.rng.choice(self.vocab))
        return " ".join(toks)


def gen_curation(rng, out_dir: str) -> dict:
    n = SIZES["curation"]["docs"]
    tg = TextGen(rng)
    texts = []
    counts = {"exact_dup": 0, "near_dup": 0, "recrawl": 0, "contaminated": 0,
              "short": 0}
    # stratified draws: every seed gets the same mix of shapes up to
    # rounding, so the seed moves which docs they hit, not how many
    rs = (rng.permutation(n) + rng.random(n)) / n
    for d in range(n):
        r = rs[d]
        if d % 3 and r < 0.35:
            # re-crawl of the page in this doc's 3-id URL group
            texts.append(tg.near(texts[d - d % 3]))
            counts["recrawl"] += 1
        elif d > 100 and r < 0.40:
            texts.append(texts[int(rng.integers(0, d))])
            counts["exact_dup"] += 1
        elif d > 100 and r < 0.48:
            texts.append(tg.near(texts[int(rng.integers(0, d))]))
            counts["near_dup"] += 1
        elif d > 100 and d % 10 and r < 0.53:
            # long span of an earlier benchmark doc (doc_id % 10 == 0)
            b = int(rng.integers(0, d // 10)) * 10
            texts.append(tg.doc(int(rng.integers(2, 5))) + ". " + texts[b])
            counts["contaminated"] += 1
        elif r < 0.58:
            texts.append(tg.doc(int(rng.integers(1, 4))))
            counts["short"] += 1
        else:
            texts.append(tg.doc(int(rng.integers(4, 16))))
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), n)]
    source = [f"src{i}" for i in rng.integers(0, 10, n)]
    write_parquet(docs_table(np.arange(n), texts, lang, source),
                  os.path.join(out_dir, "documents.parquet"))
    counts["documents"] = n
    return counts


def gen_ingest(rng, out_dir: str) -> dict:
    z = SIZES["ingest"]
    nb, per = z["batches"], z["docs_per_batch"]
    tg = TextGen(rng)
    # ---- documents: batch b holds ids from its own range plus copies
    origins = []  # (doc_id, text) of fresh docs seen so far
    d_id, d_text, d_batch = [], [], []
    counts = {"fresh": 0, "exact_dup": 0, "near_dup": 0, "recrawl": 0}
    copies = {}
    for b in range(nb):
        for j in range(per):
            r = rng.random()
            if origins and r < 0.30:
                src_id, src_text = origins[int(rng.integers(0, len(origins)))]
                k = copies[src_id] = copies.get(src_id, 0) + 1
                kind = ("exact_dup" if r < 0.08 else
                        "recrawl" if r < 0.18 else "near_dup")
                text = (src_text if kind == "exact_dup" else
                        tg.tail_cut(src_text))
                d_id.append(src_id + k * COPY_STRIDE +
                            (0 if kind == "recrawl" else COPY_STRIDE // 2))
                counts[kind] += 1
            else:
                text = tg.doc(int(rng.integers(4, 12)))
                did = b * per + j
                origins.append((did, text))
                d_id.append(did)
                counts["fresh"] += 1
            d_text.append(text)
            d_batch.append(b)
    d_id = np.array(d_id, dtype=np.int64)
    lang = [LANGS[i] for i in rng.integers(0, len(LANGS), len(d_id))]
    source = [f"src{i}" for i in rng.integers(0, 10, len(d_id))]
    docs = docs_table(d_id, d_text, lang, source)
    # ---- ticks: window b covers [b*W, (b+1)*W) minutes; each tick arrives
    # in its window's batch, or 1-3 batches late (3%)
    W, O = z["window_min"], z["overlap_min"]
    sym, ts, px = base_ticks(rng, z["symbols"], nb * W, z["start_us"], 1.5)
    minute = (ts - z["start_us"]) // MIN_US
    arrive = minute // W
    late = rng.random(len(ts)) < 0.03
    arrive = np.where(late, np.minimum(arrive + rng.integers(1, 4, len(ts)),
                                       nb - 1), arrive)
    order = np.lexsort((ts, sym, arrive))
    eid = np.empty(len(ts), dtype=np.int64)
    eid[order] = np.arange(len(ts))
    user = rng.integers(0, 5000, len(ts))
    names = np.array(symbol_names(sym))
    sym_min = sym * (nb * W) + minute
    b_rows, b_of = [], []
    for b in range(nb):
        # every (symbol, minute) touched in batch b — its own window, the
        # previous window's tail, and the minutes of late arrivals — is
        # delivered complete: all its ticks arrived so far
        hit = (arrive == b)
        lo = max(0, b * W - O)
        hit |= (minute >= lo) & (minute < (b + 1) * W) & (arrive <= b)
        touched = np.unique(sym_min[hit])
        rows = np.nonzero(np.isin(sym_min, touched) & (arrive <= b))[0]
        rows = rows[np.argsort(eid[rows], kind="stable")]
        b_rows.append(rows)
        b_of.append(np.full(len(rows), b, dtype=np.int64))
    rows = np.concatenate(b_rows)
    ticks = events_table(eid[rows], ts[rows], user[rows],
                         names[rows].tolist(), px[rows])
    ticks = ticks.append_column("batch", pa.array(np.concatenate(b_of)))
    docs = docs.append_column("batch", pa.array(np.array(d_batch)))
    write_parquet(docs, os.path.join(out_dir, "stream_documents.parquet"))
    write_parquet(ticks, os.path.join(out_dir, "stream_events.parquet"))
    # the concatenated stream in the plain testdata schema (distinct ticks;
    # every doc once): the one-shot answer the stream must reproduce
    uniq = np.sort(np.unique(eid[rows]))
    inv = np.argsort(eid)
    u = inv[uniq]
    write_parquet(events_table(eid[u], ts[u], user[u], names[u].tolist(),
                               px[u]),
                  os.path.join(out_dir, "events.parquet"))
    write_parquet(docs.drop(["batch"]),
                  os.path.join(out_dir, "documents.parquet"))
    counts.update({"documents": len(d_id), "delivered_ticks": len(rows),
                   "distinct_ticks": len(uniq), "late_ticks": int(late.sum()),
                   "batches": nb})
    return counts


GENERATORS = {"curation": gen_curation, "ingest": gen_ingest}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per workload, keyed by (seed, workload)
    key = sum(ord(c) for c in workload)
    rng = np.random.Generator(np.random.PCG64([seed, key]))
    info = GENERATORS[workload](rng, out_dir)
    info["bytes"] = {f: os.path.getsize(os.path.join(out_dir, f))
                     for f in sorted(os.listdir(out_dir))
                     if f.endswith(".parquet")}
    info["sizes"] = SIZES[workload]
    return info


if __name__ == "__main__":
    # python3 gen.py <workload> <seed> <out_dir>
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]),
                     default=int))
