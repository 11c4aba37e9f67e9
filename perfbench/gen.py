"""Seeded input generator for the three benchmark workloads.

`generate(workload, seed, out_dir)` writes the workload's input files and a
`params.properties` the Scala harness reads (file names plus the expected
values its output checks compare against). It returns the same parameters
plus Python-side expectations for the checks `run.py` makes itself. The
same seed always gives byte-identical inputs; the engine under test sees
only these files.
"""

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input shapes, one dict per workload. The sizes keep one pass of each
# workload at 1-8 s on a 4-core machine, so that a run (warm-up plus at
# least two measured passes) stays under about 50 s.
SHAPES = {
    "mapreduce": dict(tokens=500_000, vocab=30_000, zipf=1.1, files=8,
                      line_tokens=(20, 180), capitalised=0.10, punctuated=0.05,
                      dashes=0.005),
    "dedup": dict(docs=500, vocab=20_000, zipf=0.9, doc_tokens=(30, 100),
                  exact_share=0.05, chain_share=0.10, chain_len=4, mutate=0.03,
                  suffix_docs=100, vectors=400, dim=32, centres=40,
                  spread=0.35, queries=16, k=10, nlist=16, nprobe=4, iters=3,
                  neardup_recall_floor=0.85, ann_recall_floor=0.80),
    "lake": dict(appends=3, batch_rows=2_000, stream_after=2, changes=2, change_rows=400,
                 hot_share=0.15, update_share=0.6, insert_share=0.2,
                 text_tokens=(8, 24), vocab=5_000),
}


def _vocab(rng, n):
    """n distinct lower-case words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, words = set(), []
    while len(words) < n:
        for ln in rng.integers(3, 10, size=n):
            w = "".join(rng.choice(letters, size=ln))
            if w not in seen:
                seen.add(w)
                words.append(w)
    return np.array(words[:n], dtype=object)


def _zipf_probs(n, s):
    p = np.arange(1, n + 1, dtype=np.float64) ** -s
    return p / p.sum()


def _write_props(path, props):
    with open(path, "w", encoding="utf-8") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


def _mapreduce(rng, out, s):
    words = _vocab(rng, s["vocab"])
    idx = rng.choice(s["vocab"], size=s["tokens"], p=_zipf_probs(s["vocab"], s["zipf"]))
    toks = words[idx].copy()
    r = rng.random(s["tokens"])
    cap = r < s["capitalised"]
    toks[cap] = np.char.capitalize(toks[cap].astype(str)).astype(object)
    pun = (r >= s["capitalised"]) & (r < s["capitalised"] + s["punctuated"])
    marks = rng.choice(np.array(list(",.;:!?"), dtype=object), size=int(pun.sum()))
    toks[pun] = toks[pun] + marks
    # "--" normalises to the empty token, which the reference counts
    lo = s["capitalised"] + s["punctuated"]
    dash = (r >= lo) & (r < lo + s["dashes"])
    toks[dash] = "--"

    files = [f"part-{i:02d}.txt" for i in range(s["files"])]
    handles = [open(os.path.join(out, f), "w", encoding="utf-8") for f in files]
    file_of = np.empty(s["tokens"], dtype=np.int64)
    pos, line = 0, 0
    lens = rng.integers(*s["line_tokens"], size=s["tokens"] // s["line_tokens"][0] + 1)
    while pos < s["tokens"]:
        end = min(pos + int(lens[line]), s["tokens"])
        f = line % s["files"]
        handles[f].write(" ".join(toks[pos:end]) + "\n")
        file_of[pos:end] = f
        pos, line = end, line + 1
    for h in handles:
        h.close()

    # expected word counts: index len(words) stands for the empty token
    norm = np.where(dash, s["vocab"], idx)
    counts = np.bincount(norm, minlength=s["vocab"] + 1)
    names = list(words) + [""]
    present = sorted((names[i], int(c)) for i, c in enumerate(counts) if c > 0)
    md = hashlib.sha256()
    for w, c in present:
        md.update(f"{w} - [{c}]\n".encode())
    per_doc = np.bincount(norm * s["files"] + file_of,
                          minlength=(s["vocab"] + 1) * s["files"]).reshape(-1, s["files"])
    postings = {names[i]: {files[j]: int(per_doc[i, j]) for j in range(s["files"]) if per_doc[i, j]}
                for i in range(s["vocab"] + 1) if counts[i]}
    props = {"files": ",".join(files), "tokens": s["tokens"], "distinct_words": len(present),
             "wc_digest": md.hexdigest()}
    return props, {"postings": postings}


def _shingles(toks, k=3):
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def _dedup(rng, out, s):
    words = _vocab(rng, s["vocab"])
    p = _zipf_probs(s["vocab"], s["zipf"])

    def fresh():
        return list(words[rng.choice(s["vocab"], size=int(rng.integers(*s["doc_tokens"])), p=p)])

    docs, planted, copies = [], [], []
    while len(docs) < s["docs"]:
        u = rng.random()
        i = len(docs)
        if i > 0 and u < s["exact_share"]:
            j = int(rng.integers(0, i))
            docs.append(list(docs[j]))
            copies.append((j, i))
        elif u < s["exact_share"] + s["chain_share"] / s["chain_len"]:
            # a near-duplicate chain: each member mutates the previous one,
            # so clustering must follow several hops
            prev = fresh()
            docs.append(prev)
            for _ in range(s["chain_len"] - 1):
                if len(docs) >= s["docs"]:
                    break
                nxt = list(prev)
                n_mut = max(1, int(round(len(nxt) * s["mutate"])))
                for pos in rng.choice(len(nxt), size=n_mut, replace=False):
                    nxt[pos] = words[rng.choice(s["vocab"], p=p)]
                a, b = _shingles(prev), _shingles(nxt)
                if len(a & b) / len(a | b) >= 0.8:
                    planted.append((len(docs) - 1, len(docs)))
                docs.append(nxt)
                prev = nxt
        else:
            docs.append(fresh())

    texts = [" ".join(d) for d in docs]
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
    pq.write_table(pa.table({"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts},
                            schema=schema), os.path.join(out, "docs.parquet"))
    m = s["suffix_docs"]
    pq.write_table(pa.table({"doc_id": np.arange(m, dtype=np.int64), "text": texts[:m]},
                            schema=schema), os.path.join(out, "suffix_docs.parquet"))
    suffix_copies = sorted({(d, len(docs[d])) for j, i in copies if i < m for d in (j, i)})

    n, dim = s["vectors"], s["dim"]
    centres = rng.normal(0.0, 1.0, size=(s["centres"], dim))
    vecs = (centres[rng.integers(0, s["centres"], size=n)]
            + rng.normal(0.0, s["spread"], size=(n, dim))).astype(np.float32)
    emb = pa.table({"vec_id": np.arange(n, dtype=np.int64),
                    "embedding": pa.array(list(vecs), type=pa.list_(pa.float32()))})
    pq.write_table(emb, os.path.join(out, "embeddings.parquet"))
    queries = sorted(int(q) for q in rng.choice(n, size=s["queries"], replace=False))

    props = {"docs": "docs.parquet", "suffix_docs": "suffix_docs.parquet",
             "embeddings": "embeddings.parquet",
             "planted_pairs": ",".join(f"{a},{b}" for a, b in planted),
             "suffix_copies": ",".join(f"{d},{ln}" for d, ln in suffix_copies),
             "queries": ",".join(map(str, queries)),
             "k": s["k"], "nlist": s["nlist"], "nprobe": s["nprobe"], "iters": s["iters"],
             "neardup_recall_floor": s["neardup_recall_floor"],
             "ann_recall_floor": s["ann_recall_floor"]}
    return props, {}


def _lake(rng, out, s):
    words = _vocab(rng, s["vocab"])
    schema = pa.schema([("doc_id", pa.int64()), ("grp", pa.int32()),
                        ("text", pa.string()), ("n_chars", pa.int64())])

    def rows(ids):
        texts = [" ".join(words[rng.integers(0, s["vocab"], size=int(rng.integers(*s["text_tokens"])))])
                 for _ in ids]
        return {"doc_id": [int(i) for i in ids], "grp": [int(i) % 8 for i in ids],
                "text": texts, "n_chars": [len(t) for t in texts]}

    state, log = {}, []
    expect = {"rows": [], "id_sum": [], "chars": [], "sel": []}
    n_app = s["appends"] * s["batch_rows"]
    hot = int(n_app * s["hot_share"])
    sel_lo = hot // 3
    sel_hi = sel_lo + 150

    def snapshot():
        expect["rows"].append(len(state))
        expect["id_sum"].append(sum(state))
        expect["chars"].append(sum(v[2] for v in state.values()))
        expect["sel"].append(sum(1 for k in state if sel_lo <= k <= sel_hi))

    appends, changes, kinds, user_bytes = [], [], [], 0
    for a in range(s["appends"]):
        r = rows(range(a * s["batch_rows"], (a + 1) * s["batch_rows"]))
        name = f"append_{a}.parquet"
        pq.write_table(pa.table(r, schema=schema), os.path.join(out, name))
        user_bytes += os.path.getsize(os.path.join(out, name))
        appends.append(name)
        for i in range(len(r["doc_id"])):
            state[r["doc_id"][i]] = (r["grp"][i], r["text"][i], r["n_chars"][i])
            log.append((r["doc_id"][i], a, "upsert") + state[r["doc_id"][i]])
        snapshot()

    next_id = n_app
    for c in range(s["changes"]):
        n_upd = int(s["change_rows"] * s["update_share"])
        n_ins = int(s["change_rows"] * s["insert_share"])
        n_del = s["change_rows"] - n_upd - n_ins
        live_hot = np.array(sorted(k for k in state if k < hot), dtype=np.int64)
        picked = rng.choice(live_hot, size=n_upd + n_del, replace=False)
        upd, dele = picked[:n_upd], picked[n_upd:]
        ins = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        up = rows(list(upd) + list(ins))
        dl = {"doc_id": [int(k) for k in dele], "grp": [state[int(k)][0] for k in dele],
              "text": [state[int(k)][1] for k in dele], "n_chars": [state[int(k)][2] for k in dele]}
        batch = {k: up[k] + dl[k] for k in up}
        batch["__op"] = ["upsert"] * len(up["doc_id"]) + ["delete"] * len(dl["doc_id"])
        name = f"change_{c}.parquet"
        pq.write_table(pa.table(batch, schema=schema.append(pa.field("__op", pa.string()))),
                       os.path.join(out, name))
        user_bytes += os.path.getsize(os.path.join(out, name))
        changes.append(name)
        kinds.append("cow" if c % 2 == 0 else "mor")
        seq = s["appends"] + c
        for i, k in enumerate(batch["doc_id"]):
            v = (batch["grp"][i], batch["text"][i], batch["n_chars"][i])
            log.append((k, seq, batch["__op"][i]) + v)
            if batch["__op"][i] == "upsert":
                state[k] = v
            else:
                del state[k]
        snapshot()

    cols = list(zip(*log))
    pq.write_table(pa.table({"doc_id": pa.array(cols[0], pa.int64()), "seq": pa.array(cols[1], pa.int64()),
                             "op": pa.array(cols[2], pa.string()), "grp": pa.array(cols[3], pa.int32()),
                             "text": pa.array(cols[4], pa.string()), "n_chars": pa.array(cols[5], pa.int64())}),
                   os.path.join(out, "changelog.parquet"))
    props = {"appends": ",".join(appends), "changes": ",".join(changes),
             "change_kinds": ",".join(kinds), "changelog": "changelog.parquet",
             "expect_rows": ",".join(map(str, expect["rows"])),
             "expect_id_sum": ",".join(map(str, expect["id_sum"])),
             "expect_chars": ",".join(map(str, expect["chars"])),
             "expect_sel": ",".join(map(str, expect["sel"])),
             "sel_lo": sel_lo, "sel_hi": sel_hi, "user_bytes": user_bytes,
             "stream_after": s["stream_after"]}
    return props, {}


def generate(workload, seed, out):
    """Write `workload`'s inputs for `seed` into `out`; return (props, extra)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    props, extra = {"mapreduce": _mapreduce, "dedup": _dedup, "lake": _lake}[workload](
        rng, out, SHAPES[workload])
    _write_props(os.path.join(out, "params.properties"), props)
    return props, extra
