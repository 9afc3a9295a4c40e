"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes the
same tables, request stream, change feed and corpus (`digest` proves it),
and the program under test only ever sees these files.
"""
import base64
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (the sf0.1 fixture shapes; see README.md) ----------------------
N_DOCS = 5_000
N_EMB = 2_000
EMB_DIM = 64
DOC_VEC_DIM = 16
N_LINEITEM = 600_000
N_EVENTS = 100_000
VOCAB = 400

# serve_read: open-loop rate, and the change feed of the traced run's
# index-maintenance slice
RATE_PER_S = 4.0
OPEN_SHARE = 0.7          # of --seconds; the rest is the closed-loop phase
ZIPF_S = 1.1
GOLDEN = (5 ** 0.5 - 1) / 2
FEED_BATCHES = 2          # batch 0 is the maintained server's initial content
FEED_INTERVAL_S = 3.0
FEED_UPSERTS = 100        # new documents per batch
FEED_DELETE_LAG = 1       # batch b deletes every document batch b-1 upserted
COMPACT_ROWS = 250        # maintainer LSM compaction threshold

# curate_batch corpus
N_CORPUS = 6_000
CORPUS_VOCAB = 1_500
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
HOT_SHARE = 0.02
CONTAM_DOCS = 20

MIX = [  # (kind, template, weight)
    ("search", "term", 0.14), ("search", "prefix", 0.08),
    ("search", "phrase", 0.07), ("search", "tag", 0.08),
    ("search", "numeric", 0.08), ("search", "boolean", 0.10),
    ("knn", "knn", 0.15), ("knn", "hybrid", 0.10),
    ("aggregate", "agg_lineitem", 0.10), ("aggregate", "agg_events", 0.10),
]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]
SOURCES = [f"src{i}" for i in range(20)]


def _rng(seed, stream):
    """Independent generator per input stream, so adding one stream never
    shifts another's numbers."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def vocabulary(seed, n=VOCAB):
    """Stem-invariant synthetic words (consonant-vowel-consonant-vowel-
    consonant over letters no English suffix rule touches), so a term,
    prefix or phrase match is plain word matching and DuckDB can compute
    the expected answer. No word starts with 'x': the change feed's
    tokens do, so they never match a read template."""
    r = _rng(seed, "vocab")
    c1, v, c3 = "bdfgkmprtvz", "aou", "bdgkmpz"
    words = sorted({a + b + c + d + e for a in c1 for b in v for c in c1
                    for d in v for e in c3})
    return [words[i] for i in sorted(r.choice(len(words), n, replace=False))]


def _zipf_probs(n, s=ZIPF_S):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _docs_table(r, vocab, n):
    pw = _zipf_probs(len(vocab), 1.0)
    lens = r.integers(8, 90, n)
    texts = [" ".join(vocab[i] for i in r.choice(len(vocab), k, p=pw)) for k in lens]
    ids = np.arange(n, dtype=np.int64)
    return {
        "__key": [f"doc:{i}" for i in ids],
        "doc_id": ids,
        "text": texts,
        "lang": list(r.choice(LANGS, n, p=LANG_W)),
        "source": list(r.choice(SOURCES, n)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        "vec": list(r.standard_normal((n, DOC_VEC_DIM)).astype(np.float32)),
    }


def _arrow(cols):
    out = {}
    for k, v in cols.items():
        if k in ("vec", "embedding"):
            out[k] = pa.array([list(map(float, x)) for x in v], pa.list_(pa.float32()))
        else:
            out[k] = pa.array(v)
    return pa.table(out)


def serve_tables(seed, d):
    vocab = vocabulary(seed)
    r = _rng(seed, "documents")
    docs = _docs_table(r, vocab, N_DOCS)
    _write(_arrow(docs), f"{d}/documents.parquet")

    r = _rng(seed, "embeddings")
    centers = r.standard_normal((10, EMB_DIM)).astype(np.float32)
    label = r.integers(0, 10, N_EMB)
    emb = centers[label] + r.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    _write(_arrow({"__key": [f"emb:{i}" for i in range(N_EMB)],
                   "vec_id": np.arange(N_EMB, dtype=np.int64),
                   "label": label.astype(np.int32), "embedding": list(emb)}),
           f"{d}/embeddings.parquet")

    r = _rng(seed, "lineitem")
    ok = r.integers(1, N_LINEITEM // 4, N_LINEITEM).astype(np.int64)
    qty = r.integers(1, 51, N_LINEITEM).astype(np.float64)
    _write(pa.table({
        "__key": pa.array([f"li:{i}" for i in range(N_LINEITEM)]),
        "l_orderkey": ok,
        "l_linenumber": r.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2000, N_LINEITEM), 2),
        "l_discount": np.round(r.integers(0, 11, N_LINEITEM) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, N_LINEITEM) / 100.0, 2),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], N_LINEITEM)),
        "l_linestatus": pa.array(r.choice(["O", "F"], N_LINEITEM)),
    }), f"{d}/lineitem.parquet")

    r = _rng(seed, "events")
    _write(pa.table({
        "__key": pa.array([f"ev:{i}" for i in range(N_EVENTS)]),
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts_sec": np.round(1.7e9 + np.sort(r.uniform(0, 86400 * 30, N_EVENTS)), 3),
        "user_id": r.integers(0, 5000, N_EVENTS).astype(np.int64),
        "event_type": pa.array(r.choice(["click", "view", "signup", "purchase", "error"],
                                        N_EVENTS)),
        "value": np.round(r.uniform(0, 500, N_EVENTS), 2),
    }), f"{d}/events.parquet")
    return vocab, docs


def _blob(vec):
    return base64.b64encode(np.asarray(vec, "<f4").tobytes()).decode()


class _Templates:
    """Parameter spaces per template. Each draw picks a Zipf-ranked value
    from a seeded permutation of the space: a hot head that the 256-entry
    reply cache can hold, and a tail far larger than it. The ranks are not
    independent draws: the k-th draw of a template takes the rank at
    frac(k * GOLDEN) of the Zipf CDF, the same rank sequence for every
    seed. Every stretch of the stream then holds close to the Zipf shares
    of every rank, and the n-th draw of a template repeats an earlier one
    exactly when it does under any other seed, so the reply-cache hit rate
    does not change with the seed. Seeds differ in which values are hot
    and in the interleaving of templates."""

    def __init__(self, seed, vocab, docs, coldest=False, stream="requests"):
        self.coldest = coldest
        self.uniform = stream != "requests"
        r = _rng(seed, "templates")
        self.r = _rng(seed, stream)
        self.vocab = vocab
        words = [t.split(" ") for t in docs["text"]]
        bigrams = sorted({(w[i], w[i + 1]) for w in words[:1500] for i in range(len(w) - 1)})
        pick = r.permutation(len(bigrams))[:2000]
        self.bigrams = [bigrams[i] for i in pick]
        self.prefixes = sorted({w[:3] for w in vocab})
        self.qvecs = r.standard_normal((3000, EMB_DIM)).astype(np.float32) * 1.2
        self.cdf = {}
        self.perm = {}
        self.k = {}
        sizes = {"term": VOCAB * 6, "prefix": len(self.prefixes) * 6,
                 "phrase": len(self.bigrams), "tag": len(LANGS) * len(SOURCES) * 3,
                 "numeric": 40 * 20 * 3, "boolean": VOCAB * len(LANGS) * 2,
                 "knn": len(self.qvecs), "hybrid": len(self.qvecs),
                 "agg_lineitem": 50 * 10, "agg_events": 100 * 20}
        for t, n in sizes.items():
            self.perm[t] = r.permutation(n)
            self.cdf[t] = np.cumsum(_zipf_probs(n))
            self.k[t] = 0

    def draw(self, template):
        perm = self.perm[template]
        if self.coldest:
            return int(perm[-1])
        if self.uniform:
            return int(perm[self.r.integers(len(perm))])
        self.k[template] += 1
        u = (self.k[template] * GOLDEN) % 1.0
        rank = min(int(np.searchsorted(self.cdf[template], u, side="right")), len(perm) - 1)
        return int(perm[rank])

    def request(self, template):
        i = self.draw(template)
        v, page = self.vocab, None
        if template in ("term", "prefix"):
            i, page = divmod(i, 6)
        if template == "term":
            q = f"@text:{v[i]}"
            where = f"contains(t, ' {v[i]} ')"
        elif template == "prefix":
            q = f"@text:{self.prefixes[i]}*"
            where = f"regexp_matches(t, ' {self.prefixes[i]}')"
        elif template == "phrase":
            a, b = self.bigrams[i]
            q = f'@text:"{a} {b}"'
            where = f"contains(t, ' {a} {b} ')"
        elif template == "tag":
            i, page = divmod(i, 3)
            lang, src = divmod(i, len(SOURCES))
            q = f"@lang:{{{LANGS[lang]}}} @source:{{{SOURCES[src]}|{SOURCES[(src + 7) % 20]}}}"
            where = f"lang = '{LANGS[lang]}' AND source IN ('{SOURCES[src]}', '{SOURCES[(src + 7) % 20]}')"
        elif template == "numeric":
            i, page = divmod(i, 3)
            lo, w = divmod(i, 20)
            q = f"@n_chars:[{40 + lo * 12} {40 + lo * 12 + 5 + w * 8}]"
            where = f"n_chars BETWEEN {40 + lo * 12} AND {40 + lo * 12 + 5 + w * 8}"
        elif template == "boolean":
            i, neg = divmod(i, 2)
            w, lang = divmod(i, len(LANGS))
            other = v[(w * 7 + 3) % VOCAB]
            q = (f"@text:{v[w]} -@text:{other} @lang:{{{LANGS[lang]}}}" if neg
                 else f"(@text:{v[w]} | @text:{other}) @n_chars:[100 400]")
            where = (f"contains(t, ' {v[w]} ') AND NOT contains(t, ' {other} ') "
                     f"AND lang = '{LANGS[lang]}'" if neg else
                     f"(contains(t, ' {v[w]} ') OR contains(t, ' {other} ')) "
                     "AND n_chars BETWEEN 100 AND 400")
        if template in ("term", "prefix", "phrase", "tag", "numeric", "boolean"):
            argv = ["FT.SEARCH", "documents", q, "SORTBY", "doc_id", "ASC",
                    "LIMIT", str((page or 0) * 10), "10"]
            argv += ["NOCONTENT"] if template in ("tag", "numeric") else ["RETURN", "2", "lang", "n_chars"]
            return {"kind": "search", "template": template, "argv": argv + ["DIALECT", "2"],
                    "oracle": {"where": where, "offset": (page or 0) * 10}}
        if template in ("knn", "hybrid"):
            if template == "knn":
                q, where = "*=>[KNN 10 @vec $B]", None
            else:
                lo = i % 8
                q = f"@label:[{lo} {lo + 2}]=>[KNN 10 @vec $B]"
                where = [lo, lo + 2]
            return {"kind": "knn", "template": template,
                    "argv": ["FT.SEARCH", "embeddings", q, "PARAMS", "2", "B", "$BLOB",
                             "RETURN", "1", "label", "DIALECT", "2"],
                    "blob": _blob(self.qvecs[i]), "oracle": {"label_range": where, "k": 10}}
        if template == "agg_lineitem":
            lo, w = divmod(i, 10)
            return {"kind": "aggregate", "template": template,
                    "argv": ["FT.AGGREGATE", "lineitem", f"@l_quantity:[{lo} {lo + 1 + w}]",
                             "GROUPBY", "2", "@l_returnflag", "@l_linestatus",
                             "REDUCE", "COUNT", "0", "AS", "n",
                             "REDUCE", "SUM", "1", "@l_extendedprice", "AS", "s"],
                    "oracle": {"sql": "SELECT l_returnflag, l_linestatus, count(*) AS n, "
                               "sum(l_extendedprice) AS s FROM lineitem "
                               f"WHERE l_quantity BETWEEN {lo} AND {lo + 1 + w} GROUP BY ALL",
                               "group": ["l_returnflag", "l_linestatus"]}}
        lo, w = divmod(i, 20)
        return {"kind": "aggregate", "template": template,
                "argv": ["FT.AGGREGATE", "events", f"@value:[{lo * 5} {lo * 5 + 10 + w * 10}]",
                         "GROUPBY", "1", "@event_type",
                         "REDUCE", "COUNT", "0", "AS", "n",
                         "REDUCE", "AVG", "1", "@value", "AS", "a"],
                "oracle": {"sql": "SELECT event_type, count(*) AS n, avg(value) AS a FROM events "
                           f"WHERE value BETWEEN {lo * 5} AND {lo * 5 + 10 + w * 10} GROUP BY ALL",
                           "group": ["event_type"]}}


def _mix_order(r, n):
    """n template indexes in MIX's exact shares (largest remainder),
    shuffled."""
    w = np.array([w for _, _, w in MIX])
    exact = w / w.sum() * n
    counts = np.floor(exact).astype(int)
    counts[np.argsort(counts - exact, kind="stable")[: n - counts.sum()]] += 1
    order = np.concatenate([np.full(c, j) for j, c in enumerate(counts)])
    return order[r.permutation(n)]


def request_stream(seed, vocab, docs, seconds, closed_count=3000):
    """The open-loop schedule (Poisson arrivals at RATE_PER_S for the open
    phase) followed by the closed-loop tail the capacity phase and the
    traced run draw from. The gaps between arrivals are exponential at
    RATE_PER_S, stratified: n = RATE_PER_S * open phase gaps, one at each
    quantile (i + 0.5) / n of the exponential, in one fixed random order,
    so every seed gets the same arrival times (common random numbers, like
    the Zipf ranks). With gaps drawn per seed, the count varied by +-15%
    and the bursts that find all `nproc` connections busy came and went
    with the seed; they set the latency tail more than the program did.
    Each block has MIX's shares exactly, so seeds differ in data,
    parameters and the order of templates, not in load, bursts or mix."""
    t = _Templates(seed, vocab, docs)
    r = _rng(seed, "schedule")
    open_s = seconds * OPEN_SHARE
    n = int(round(RATE_PER_S * open_s))
    gaps = -np.log1p(-(np.arange(n) + 0.5) / n) / RATE_PER_S
    due = list(np.cumsum(gaps[_rng("any", "arrivals").permutation(n)]) - gaps.mean() / 2)
    order = np.concatenate([_mix_order(r, len(due)), _mix_order(r, closed_count)])
    reqs = []
    for k, j in enumerate(order):
        q = t.request(MIX[j][1])
        q["id"] = k
        q["due_s"] = round(due[k], 6) if k < len(due) else None
        reqs.append(q)
    return reqs


def warmup_stream(seed, vocab, docs, n=400):
    """Requests for the untimed warm-up: parameters drawn uniformly, from
    their own random stream, so the warm-up neither replays nor shifts
    the measured stream."""
    t = _Templates(seed, vocab, docs, stream="warmup")
    return [dict(t.request(MIX[j][1]), id=-100 - k, due_s=None)
            for k, j in enumerate(_mix_order(_rng(seed, "warmup-mix"), n))]


def change_feed(seed):
    """FEED_BATCHES batches; batch b >= 1 is due b * FEED_INTERVAL_S after
    the feed starts, batch 0 (no due time) is loaded with the documents
    when the maintained server is set up, so the first applied batch has
    keys to delete. Feed documents carry tokens, tags and numbers outside
    every read template (tokens start with 'x', lang 'xx', n_chars >= 1e6,
    vectors far from the corpus), so the read stream's expected answers
    stay fixed while every batch still bumps the index epoch. Batch b
    upserts FEED_UPSERTS new keys sharing the token `xb<b>` and deletes all
    of batch b-FEED_DELETE_LAG's keys."""
    r = _rng(seed, "feed")
    batches, seq = [], 0
    for b in range(FEED_BATCHES):
        rows = []
        for i in range(FEED_UPSERTS):
            doc_id = 1_000_000 + b * FEED_UPSERTS + i
            words = [f"xw{j}" for j in r.integers(0, VOCAB, int(r.integers(5, 30)))]
            words.insert(int(r.integers(0, len(words))), f"xb{b}")
            text = " ".join(words)
            seq += 1
            rows.append({"op": "upsert", "__key": f"doc:{doc_id}", "doc_id": doc_id,
                         "text": text, "lang": "xx", "source": "srcx",
                         "n_chars": 1_000_000 + len(text),
                         "vec": [float(x) for x in (r.standard_normal(DOC_VEC_DIM) + 100.0)],
                         "__seq": seq})
        if b >= FEED_DELETE_LAG:
            for i in range(FEED_UPSERTS):
                seq += 1
                doc_id = 1_000_000 + (b - FEED_DELETE_LAG) * FEED_UPSERTS + i
                rows.append({"op": "delete", "__key": f"doc:{doc_id}", "doc_id": None,
                             "text": None, "lang": None, "source": None, "n_chars": None,
                             "vec": None, "__seq": seq})
        batches.append({"batch": b, "due_s": round(b * FEED_INTERVAL_S, 6) if b else None,
                        "token": f"xb{b}", "rows": rows,
                        "upserted": [x["__key"] for x in rows if x["op"] == "upsert"],
                        "deleted_token": f"xb{b - FEED_DELETE_LAG}" if b >= FEED_DELETE_LAG else None})
    return batches


def write_feed(batches, d):
    os.makedirs(f"{d}/feed", exist_ok=True)
    for b in batches:
        rows = b["rows"]
        cols = {k: [x[k] for x in rows] for k in rows[0]}
        _write(pa.table({
            "op": pa.array(cols["op"]), "__key": pa.array(cols["__key"]),
            "doc_id": pa.array(cols["doc_id"], pa.int64()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
            "source": pa.array(cols["source"], pa.string()),
            "n_chars": pa.array(cols["n_chars"], pa.int64()),
            "vec": pa.array(cols["vec"], pa.list_(pa.float32())),
            "__seq": pa.array(cols["__seq"], pa.int64()),
        }), f"{d}/feed/b{b['batch']:04d}.parquet")
    with open(f"{d}/feed.json", "w") as f:
        json.dump([{k: v for k, v in b.items() if k != "rows"} for b in batches], f)


STOP = ["the", "and", "of", "to", "with", "that", "be", "have"]


def curate_corpus(seed, d):
    """N_CORPUS documents with the documents/embeddings schema and planted
    structure: EXACT_DUP_SHARE exact copies, NEAR_DUP_SHARE near copies
    (two words changed, embedding jittered), HOT_SHARE sharing one long
    boilerplate run (a hot LSH/n-gram bucket), CONTAM_DOCS containing a
    passage of the decontamination set."""
    vocab = vocabulary(seed, CORPUS_VOCAB)
    r = _rng(seed, "corpus")
    pw = None
    n_exact = int(N_CORPUS * EXACT_DUP_SHARE)
    n_near = int(N_CORPUS * NEAR_DUP_SHARE)
    n_hot = int(N_CORPUS * HOT_SHARE)
    n_base = N_CORPUS - n_exact - n_near
    def words(k):
        w = [vocab[i] for i in r.choice(len(vocab), k, p=pw)]
        for j in r.choice(k, max(3, k // 8), replace=False):
            w[j] = STOP[int(r.integers(0, len(STOP)))]
        return w
    hot_run = words(60)
    bench_texts = [" ".join(words(40)) for _ in range(50)]
    texts = []
    for i in range(n_base):
        w = words(int(r.integers(40, 100)))
        if i < n_hot:
            w = hot_run + w[:20]
        texts.append(w)
    for c in range(CONTAM_DOCS):
        bw = bench_texts[c % len(bench_texts)].split(" ")
        texts[n_hot + c] = texts[n_hot + c][:20] + bw[5:25] + texts[n_hot + c][20:]
    emb = r.standard_normal((n_base, EMB_DIM)).astype(np.float32)
    src_exact = r.choice(np.arange(n_hot + CONTAM_DOCS, n_base), n_exact, replace=False)
    src_near = r.choice(np.arange(n_hot + CONTAM_DOCS, n_base), n_near, replace=False)
    all_texts = [" ".join(w) for w in texts]
    all_emb = list(emb)
    exact_pairs, near_pairs = [], []
    for s in src_exact:
        exact_pairs.append((int(s), len(all_texts)))
        all_texts.append(all_texts[s])
        all_emb.append(emb[s])
    for s in src_near:
        w = list(texts[s])
        for j in r.choice(len(w), 2, replace=False):
            w[j] = vocab[int(r.integers(0, len(vocab)))]
        near_pairs.append((int(s), len(all_texts)))
        all_texts.append(" ".join(w))
        all_emb.append(emb[s] + r.standard_normal(EMB_DIM).astype(np.float32) * 0.01)
    n = len(all_texts)
    _write(_arrow({
        "doc_id": np.arange(n, dtype=np.int64), "text": all_texts,
        "lang": list(r.choice(LANGS, n, p=LANG_W)),
        "source": list(r.choice(SOURCES, n)),
        "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64),
        "embedding": all_emb}), f"{d}/corpus.parquet")
    _write(pa.table({"text": pa.array(bench_texts)}), f"{d}/bench_set.parquet")
    planted = {"exact_pairs": exact_pairs, "near_pairs": near_pairs,
               "hot_docs": n_hot, "contaminated": list(range(n_hot, n_hot + CONTAM_DOCS)),
               "n_docs": n}
    with open(f"{d}/planted.json", "w") as f:
        json.dump(planted, f)
    return planted


def digest(d):
    """sha256 over every generated input file, in name order."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for name in sorted(files):
            if name.endswith((".parquet", ".json", ".jsonl")):
                h.update(name.encode())
                with open(os.path.join(root, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, seconds, d):
    """Write every input `workload` needs under `d`; return its params."""
    os.makedirs(d, exist_ok=True)
    params = {"workload": workload, "seed": seed, "seconds": seconds}
    if workload == "serve_read":
        vocab, docs = serve_tables(seed, d)
        reqs = request_stream(seed, vocab, docs, seconds)
        with open(f"{d}/requests.jsonl", "w") as f:
            for q in reqs:
                f.write(json.dumps(q) + "\n")
        warm = _Templates(seed, vocab, docs, coldest=True)
        with open(f"{d}/warm.jsonl", "w") as f:
            for k, (_, template, _) in enumerate(MIX):
                f.write(json.dumps(dict(warm.request(template), id=-1 - k, due_s=None)) + "\n")
        with open(f"{d}/warmup.jsonl", "w") as f:
            for q in warmup_stream(seed, vocab, docs):
                f.write(json.dumps(q) + "\n")
        with open(f"{d}/vocab.json", "w") as f:
            json.dump(vocab, f)
        write_feed(change_feed(seed), d)
        params.update(rate_per_s=RATE_PER_S, open_s=seconds * OPEN_SHARE,
                      closed_s=seconds * (1 - OPEN_SHARE), n_open=sum(
                          1 for q in reqs if q["due_s"] is not None),
                      compact_rows=COMPACT_ROWS)
    elif workload == "curate_batch":
        curate_corpus(seed, d)
    else:
        raise ValueError(f"unknown workload {workload}")
    with open(f"{d}/params.json", "w") as f:
        json.dump(params, f)
    return params
