"""Seeded input generator for the graft benchmark.

Every workload's input is a function of (workload, seed) alone.  The
generator writes the table graft reads through ``graft.sources.Tables``
(``events.parquet`` or ``documents.parquet``) and a
``truth.json`` recording what it planted, which the output checks
compare against.

Planted structure:

* events: per-symbol tick series over weekday trading days, with
  duplicate ``(user_id, ts)`` ticks (the later ``event_id`` carries a
  different value and must win), null values to forward-fill and a few
  negative ticks.  Nulls and negative ticks sit strictly inside a day,
  never on its first or last tick and never on a series' first tick, so
  every bar's open and close is a positive, non-null price.
* documents: a Zipfian vocabulary of 40k synthetic words, so unrelated
  documents share almost no token bigrams.  Near-duplicate clusters are
  an anchor document plus variants one or two word substitutions away
  (bigram Jaccard above 0.9), exact-duplicate copies, off-list-language
  documents and short punctuation-heavy low-quality documents.  A
  cluster's anchor always passes the quality and language gate, so every
  passing member is one near-duplicate edge from it and the survivor of
  each cluster is its lowest passing ``doc_id``.

Run as a script to generate one workload's inputs:
``python3 graftbench/gen.py <workload> <seed> <out_dir>``.
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("daily_snapshot", "corpus_curate")

# Input sizes: one warm call of either pipeline takes about 5 s on 4
# cores, most of it job rounds rather than data.
SIZES = {
    "daily_snapshot": {"users": 120, "days": 20, "ticks": 6},
    "corpus_curate": {"docs": 2000},
}

# Gate of the production curation config (config/graft.yaml): the
# generator labels documents with these languages or with off-list ones.
LANGS = ("en", "de", "es", "fr")
OFF_LANGS = ("ru", "ja", "pt", "it")
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
EVENT_TYPES = ("view", "click", "purchase", "error")
EPOCH = dt.datetime(2024, 1, 1)  # a Monday
VOCABULARY = 40000
DOC_WORDS = (150, 250)  # words per passing document, [low, high)


def rng_for(workload, seed):
    return np.random.default_rng([WORKLOADS.index(workload), int(seed)])


# --------------------------------------------------------------- events

def make_events(rng, users, days, ticks):
    """Tick feed in the ``events`` schema plus its planted truth."""
    weekdays = [d for d in range(days * 7 // 5 + 7)
                if (EPOCH + dt.timedelta(days=d)).weekday() < 5][:days]
    uid, ts_us, val, kind = [], [], [], []
    for u in range(users):
        price = float(rng.uniform(10, 200))
        for d in weekdays:
            n = int(rng.integers(max(3, ticks - 4), ticks + 5))
            secs = np.sort(rng.choice(6 * 3600, size=n, replace=False))
            day0 = int((EPOCH + dt.timedelta(days=d, hours=9)).timestamp()) * 10**6
            for i, s in enumerate(secs):
                price = max(1.0, price * float(np.exp(rng.normal(0, 0.01))))
                k = "plain"
                if 0 < i < n - 1:
                    r = rng.random()
                    if kind and kind[-1] == "plain" and r < 0.004:
                        k = "neg"
                    elif kind and kind[-1] != "neg" and r < 0.04:
                        k = "null"
                uid.append(u)
                ts_us.append(day0 + int(s) * 10**6 + int(rng.integers(0, 10**6)))
                val.append(-round(price, 2) if k == "neg" else
                           (None if k == "null" else round(price, 2)))
                kind.append(k)
    n = len(uid)
    # Duplicate ticks: same (user_id, ts), a later event_id and another
    # price.  Only plain ticks are duplicated, so the winner is positive.
    plain = [i for i in range(n) if kind[i] == "plain"]
    dup_src = sorted(rng.choice(plain, size=max(1, n // 100), replace=False).tolist())
    dup_val = [round(val[i] * float(rng.uniform(0.98, 1.02)), 2) for i in dup_src]
    all_uid = uid + [uid[i] for i in dup_src]
    all_ts = ts_us + [ts_us[i] for i in dup_src]
    all_val = val + dup_val
    total = len(all_uid)
    # event_id follows arrival order: originals by ts, duplicates last.
    order = np.argsort(np.array(ts_us), kind="stable")
    event_id = np.empty(total, dtype=np.int64)
    event_id[order] = np.arange(n)
    event_id[n:] = np.arange(n, total)
    et = rng.integers(0, len(EVENT_TYPES), size=total)
    props = rng.integers(0, 100, size=total)
    rows = np.argsort(event_id)
    table = pa.table({
        "event_id": pa.array(event_id[rows], pa.int64()),
        "ts": pa.array(np.array(all_ts, dtype=np.int64)[rows], pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(np.array(all_uid, dtype=np.int64)[rows], pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in et[rows]], pa.string()),
        "value": pa.array([all_val[i] for i in rows], pa.float64()),
        "props": pa.array(['{"k": %d}' % p for p in props[rows]], pa.string()),
    })
    first, last = min(weekdays), max(weekdays)
    truth = {
        "events": total,
        "users": users,
        "user_days": users * len(weekdays),
        "trading_days": len(weekdays),
        "calendar_days": last - first + 1,
        "duplicates": len(dup_src),
        "nulls": kind.count("null"),
        "negatives": kind.count("neg"),
        "first_date": str((EPOCH + dt.timedelta(days=first)).date()),
        "last_date": str((EPOCH + dt.timedelta(days=last)).date()),
    }
    return table, truth


# ------------------------------------------------------------ documents

def _vocabulary(rng, size):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = [], set(STOPWORDS)
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(4, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def _zipf_p(size, s=1.0):
    p = 1.0 / np.power(np.arange(1, size + 1) + 2.7, s)
    return p / p.sum()


class _TextSource:
    def __init__(self, rng, vocab_size):
        self.rng = rng
        self.vocab = _vocabulary(rng, vocab_size)
        self.p = _zipf_p(vocab_size)

    def good(self, n_words):
        """A passing document: about 30% English stopwords, no punctuation."""
        rng = self.rng
        words = self.vocab[rng.choice(len(self.vocab), size=n_words, p=self.p)]
        stop = rng.random(n_words) < 0.3
        words[stop] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), size=int(stop.sum()))]
        return list(words)

    def edit(self, words, n_edits):
        """Substitute ``n_edits`` content words at distinct positions."""
        rng = self.rng
        out = list(words)
        for pos in rng.choice(len(out), size=n_edits, replace=False):
            out[pos] = self.vocab[int(rng.integers(1000, len(self.vocab)))]
        return out

    def junk(self):
        """A failing document: a few words drowned in punctuation."""
        rng = self.rng
        n = int(rng.integers(4, 10))
        words = self.vocab[rng.integers(0, len(self.vocab), size=n)]
        return " ".join(w + "".join(rng.choice(list("!?#*;:"), size=3)) for w in words)


def make_documents(rng, docs):
    """Corpus in the ``documents`` schema plus its planted survivors.

    Each record is (text, lang, cluster, passes); doc_ids are a random
    permutation, so cluster members are scattered over the id space.
    """
    src = _TextSource(rng, VOCABULARY)
    recs = []
    cluster = 0
    while len(recs) < docs:
        r = rng.random()
        if r < 0.06:  # low-quality singleton
            recs.append((src.junk(), LANGS[int(rng.integers(0, 4))], -1, False))
            continue
        anchor = src.good(int(rng.integers(*DOC_WORDS)))
        members = [(" ".join(anchor), LANGS[int(rng.integers(0, 4))], True)]
        if r < 0.26:  # near-duplicate cluster: 1-4 variants
            for _ in range(int(rng.integers(1, 5))):
                text = " ".join(src.edit(anchor, int(rng.integers(1, 3))))
                if rng.random() < 0.15:
                    members.append((text, OFF_LANGS[int(rng.integers(0, 4))], False))
                else:
                    members.append((text, LANGS[int(rng.integers(0, 4))], True))
        if rng.random() < 0.08:  # exact copies of one member
            text, lang, ok = members[int(rng.integers(0, len(members)))]
            for _ in range(int(rng.integers(1, 3))):
                if ok and rng.random() < 0.2:
                    members.append((text, OFF_LANGS[int(rng.integers(0, 4))], False))
                else:
                    members.append((text, lang, ok))
        elif rng.random() < 0.05:  # off-list singleton cluster
            members = [(members[0][0], OFF_LANGS[int(rng.integers(0, 4))], False)]
        for text, lang, ok in members:
            recs.append((text, lang, cluster, ok))
        cluster += 1
    ids = rng.permutation(len(recs)).astype(np.int64)
    survivors = {}
    for i, (_, _, c, ok) in zip(ids, recs):
        if ok and c >= 0:
            survivors[c] = min(int(i), survivors.get(c, int(i)))
    rows = np.argsort(ids)
    texts = [recs[i][0] for i in rows]
    table = pa.table({
        "doc_id": pa.array(ids[rows], pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([recs[i][1] for i in rows], pa.string()),
        "source": pa.array(["src%d" % (int(ids[i]) % 7) for i in rows], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    sizes = {}
    for r in recs:
        sizes[r[2]] = sizes.get(r[2], 0) + 1
    near = sum(1 for c, n in sizes.items() if c >= 0 and n > 1)
    cluster_of = [-1] * len(recs)
    for i, r in zip(ids, recs):
        cluster_of[int(i)] = r[2]
    truth = {
        "documents": len(recs),
        "cluster_of": cluster_of,
        "clusters": cluster,
        "multi_member_clusters": near,
        "low_quality": sum(1 for r in recs if r[2] < 0),
        "off_list": sum(1 for r in recs if r[2] >= 0 and not r[3]),
        "survivors": sorted(survivors.values()),
        "tokens": int(sum(len(t.split()) for t in texts)),
    }
    return table, truth


# ---------------------------------------------------------------- entry

def generate(workload, seed, out_dir):
    """Write the workload's tables and truth.json into ``out_dir``."""
    if workload not in WORKLOADS:
        raise ValueError("unknown workload %r" % workload)
    rng = rng_for(workload, seed)
    size = SIZES[workload]
    tables, truth = {}, {"workload": workload, "seed": int(seed)}
    if workload == "daily_snapshot":
        tables["events"], truth["events"] = make_events(
            rng, size["users"], size["days"], size["ticks"])
    else:
        tables["documents"], truth["documents"] = make_documents(rng, size["docs"])
    os.makedirs(out_dir, exist_ok=True)
    truth["input"] = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, name + ".parquet")
        pq.write_table(table, path)
        truth["input"][name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <workload> <seed> <out_dir>")
    t = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps(t["input"]))
