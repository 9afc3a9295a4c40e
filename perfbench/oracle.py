"""Expected answers, computed independently of the engine, and the reply
checks. Search and aggregate templates are answered by DuckDB over the
same parquet the program indexes; KNN by brute-force top-k in numpy.
"""
import base64
import json
import math

import duckdb
import numpy as np
import pyarrow.parquet as pq


class ServeOracle:
    def __init__(self, d):
        self.db = duckdb.connect()
        self.db.execute("SET threads TO 2")
        self.db.execute(f"CREATE TABLE docs AS SELECT *, ' ' || text || ' ' AS t "
                        f"FROM '{d}/documents.parquet'")
        self.db.execute(f"CREATE TABLE lineitem AS SELECT * FROM '{d}/lineitem.parquet'")
        self.db.execute(f"CREATE TABLE events AS SELECT * FROM '{d}/events.parquet'")
        emb = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
        self.emb_keys = np.array(emb["__key"])
        self.emb = np.array(emb["embedding"], dtype=np.float32)
        self.emb_label = np.array(emb["label"])
        self.cache = {}

    def expected(self, q):
        key = json.dumps([q["argv"], q.get("blob")])
        if key not in self.cache:
            self.cache[key] = self._expected(q)
        return self.cache[key]

    def _expected(self, q):
        o = q["oracle"]
        if q["kind"] == "search":
            total = self.db.execute(f"SELECT count(*) FROM docs WHERE {o['where']}").fetchone()[0]
            keys = [r[0] for r in self.db.execute(
                f"SELECT __key FROM docs WHERE {o['where']} ORDER BY doc_id "
                f"LIMIT 10 OFFSET {o['offset']}").fetchall()]
            return {"total": total, "keys": keys}
        if q["kind"] == "knn":
            v = np.frombuffer(base64.b64decode(q["blob"]), "<f4")
            mask = np.ones(len(self.emb), bool)
            if o["label_range"] is not None:
                lo, hi = o["label_range"]
                mask = (self.emb_label >= lo) & (self.emb_label <= hi)
            d = ((self.emb[mask].astype(np.float64) - v) ** 2).sum(1)
            top = np.argsort(d, kind="stable")[: o["k"]]
            return {"total": len(top), "keys": sorted(self.emb_keys[mask][top].tolist())}
        cur = self.db.execute(o["sql"])
        cols = [c[0] for c in cur.description]
        rows = {}
        for r in cur.fetchall():
            rec = dict(zip(cols, r))
            rows[tuple(str(rec[g]) for g in o["group"])] = rec
        return {"rows": rows, "group": o["group"]}


def _num(x):
    try:
        return float(x)
    except (TypeError, ValueError):
        return math.nan


def check_reply(q, reply, error, expected):
    """None when the reply is right, else a one-line reason."""
    if error:
        return error
    if "error" in reply:
        return f"error reply: {reply['error']}"
    if "unexpected" in reply:
        return f"unexpected reply: {reply['unexpected'][:80]}"
    if q["kind"] in ("search", "knn"):
        if not reply.get("shape_ok", False):
            return "malformed search reply"
        keys = [str(k) for k in reply["keys"]]
        if q["kind"] == "knn":
            keys = sorted(keys)
        if reply["total"] != expected["total"]:
            return f"total {reply['total']} != {expected['total']}"
        if keys != expected["keys"]:
            return f"keys {keys[:3]}... != {expected['keys'][:3]}..."
        return None
    rows = reply.get("rows")
    if not isinstance(rows, list):
        return "malformed aggregate reply"
    got = {}
    for r in rows:
        if not isinstance(r, list) or len(r) % 2:
            return "malformed aggregate row"
        rec = dict(zip(r[0::2], r[1::2]))
        got[tuple(str(rec.get(g)) for g in expected["group"])] = rec
    if set(got) != set(expected["rows"]):
        return f"groups {sorted(got)[:3]} != {sorted(expected['rows'])[:3]}"
    for g, want in expected["rows"].items():
        for k, v in want.items():
            if k in expected["group"]:
                continue
            a, b = _num(got[g].get(k)), float(v)
            if not math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6):
                return f"{g} {k} {got[g].get(k)} != {v}"
    return None


def check_curate(planted, passes, reference):
    """Failed-op reasons per pass: planted duplicates a stage missed, and
    stage digests that differ from `reference` (an earlier run of the
    same seed, or this run's first pass)."""
    exact = [(str(a), str(b)) for a, b in planted["exact_pairs"]]
    near = [(str(a), str(b)) for a, b in planted["near_pairs"]]
    def norm(p):
        return tuple(sorted(p))
    fails, recall = [], {}
    for ps in passes:
        for s in ps["stages"]:
            if s["error"]:
                fails.append(f"pass {ps['pass']} {s['name']}: {s['error']}")
            elif s["digest"] != reference.get(s["name"]):
                fails.append(f"pass {ps['pass']} {s['name']}: digest changed")
        pl = ps["planted"]
        keep = set(pl["exact_keep_keys"])
        miss = [p for p in exact if p[0] not in keep and p[1] not in keep]
        if miss:
            fails.append(f"pass {ps['pass']} exact_dup_groups: {len(miss)} planted groups unfound")
        for stage, field in (("minhash_near_dups", "minhash_pairs"),
                             ("ngram_jaccard_salted", "ngram_pairs"),
                             ("simhash_near_dups", "simhash_pairs")):
            found = {norm(p) for p in pl[field]}
            hit = sum(norm(p) in found for p in near + exact)
            recall[stage] = hit / len(near + exact)
            # simhash's 3-bit radius is a recall trade-off, not a promise
            if stage != "simhash_near_dups" and hit < len(near + exact):
                fails.append(f"pass {ps['pass']} {stage}: {len(near + exact) - hit} "
                             "planted pairs unfound")
        # semantic dedup compares within embedding cells, so a jittered
        # copy that lands across a cell boundary is a designed miss:
        # reported as recall, not as a failed op
        sem = set(pl["semantic_keys"])
        both = [p for p in near + exact if p[0] in sem and p[1] in sem]
        recall["semantic_dedup"] = 1 - len(both) / len(near + exact)
        dec = set(pl["decontaminated_keys"])
        left = [k for k in planted["contaminated"] if str(k) in dec]
        if left:
            fails.append(f"pass {ps['pass']} decontaminate: {len(left)} contaminated docs kept")
    return fails, recall
