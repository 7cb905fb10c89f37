"""Seeded input generator for the benchmark workloads.

Writes one workload's inputs to RUN/data and a small warm-up set of the
same shape to RUN/warm, each with a params.properties of the sizes
Main.scala needs. The same seed gives the same files. Tables use the fixture schemas
(FIXTURES.md, TESTDATA.md); timestamps are TIMESTAMP(MICROS) without a
time zone, so Spark and DuckDB read identical instants.

    python3 perfbench/gen.py --workload NAME --seed N --out RUN
"""
import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

SPEC = json.load(open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")))
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
T0_US = 1735689600 * 1_000_000  # 2025-01-01 00:00:00


def zipf_users(rng, users, n, s):
    """n user ids drawn with Zipf-like weights over `users` random ids."""
    ids = rng.choice(users * 50, size=users, replace=False).astype(np.int64) + 1
    w = 1.0 / np.arange(1, users + 1) ** s
    return ids[rng.choice(users, size=n, p=w / w.sum())]


def events_table(rng, n, users, zipf_s, ts_lo, ts_hi, dup_share, non_json_share, id_base):
    """Browsing events; `dup_share` of them re-send an earlier event's
    content (same user, type, props and value) a few minutes later."""
    n_dup = int(n * dup_share)
    m = n - n_dup
    user = zipf_users(rng, users, m, zipf_s)
    ts = rng.integers(ts_lo, ts_hi, size=m)
    etype = EVENT_TYPES[rng.choice(5, size=m, p=[0.4, 0.3, 0.1, 0.05, 0.15])]
    value = np.round(rng.uniform(-5.0, 100.0, size=m), 2)
    k = rng.integers(0, 5000, size=m)
    props = np.where(rng.random(m) < non_json_share,
                     np.char.add("k=", k.astype(str)),
                     np.char.add(np.char.add('{"k": ', k.astype(str)), "}"))
    src = rng.integers(0, m, size=n_dup)
    shift = rng.integers(1_000_000, 600_000_000, size=n_dup)
    cols = {
        "ts": np.concatenate([ts, np.minimum(ts[src] + shift, ts_hi - 1)]),
        "user_id": np.concatenate([user, user[src]]),
        "event_type": np.concatenate([etype, etype[src]]),
        "value": np.concatenate([value, value[src]]),
        "props": np.concatenate([props, props[src]]),
    }
    order = rng.permutation(n)
    cols = {c: v[order] for c, v in cols.items()}
    cols["event_id"] = rng.permutation(n).astype(np.int64) + id_base
    return cols


def to_arrow(cols):
    return pa.table({
        "event_id": pa.array(cols["event_id"], pa.int64()),
        "ts": pa.array(cols["ts"], pa.timestamp("us")),
        "user_id": pa.array(cols["user_id"], pa.int64()),
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": pa.array(cols["value"], pa.float64()),
        "props": pa.array(cols["props"], pa.string()),
    })


def batch_inputs(rng, spec, size, out):
    """The events table (browsing history, also the poll source's
    history) and the ProblemLog-like CSV with its lineitem twin."""
    days = spec["events_days"]
    ev = events_table(rng, size["events"], size["users"], spec["user_zipf_s"], T0_US,
                      T0_US + days * 86400 * 1_000_000, spec["dup_share"],
                      spec["non_json_props_share"], 0)
    pq.write_table(to_arrow(ev), f"{out}/events.parquet")
    # ProblemLog-like fact: (l_orderkey, l_linenumber) unique, as the
    # e3 sample gate keys on them
    n = size["csv_rows"]
    orders = rng.choice(n * 10, size=(n + 3) // 4, replace=False).astype(np.int64) + 1
    okey = np.repeat(orders, 4)[:n]
    line = np.tile(np.arange(1, 5, dtype=np.int32), len(orders))[:n]
    order = rng.permutation(n)
    li = pa.table({
        "l_orderkey": pa.array(okey[order], pa.int64()),
        "l_linenumber": pa.array(line[order], pa.int32()),
        "l_quantity": pa.array(np.round(rng.uniform(1.0, 50.0, size=n), 2), pa.float64()),
        "user_id": pa.array(zipf_users(rng, 5000, n, 1.1), pa.int64()),
        "exercise": pa.array(np.char.add("exercise_", rng.integers(0, 800, size=n).astype(str))),
        "problem_type": pa.array(np.char.add("type_", rng.integers(0, 12, size=n).astype(str))),
        "time_done": pa.array(rng.integers(T0_US, T0_US + 86400 * 365 * 1_000_000, size=n),
                              pa.timestamp("us")),
        "time_taken": pa.array(rng.integers(1, 600, size=n), pa.int64()),
        "correct": pa.array(rng.random(n) < 0.7),
        "count_attempts": pa.array(rng.integers(1, 6, size=n), pa.int64()),
        "hint_used": pa.array(rng.random(n) < 0.2),
        "points_earned": pa.array(rng.integers(0, 150, size=n), pa.int64()),
    })
    pq.write_table(li, f"{out}/lineitem.parquet")
    pacsv.write_csv(li, f"{out}/problemlog.csv")
    return ev


def medallion(rng, spec, size, out):
    hist = batch_inputs(rng, spec, size, out)
    os.makedirs(f"{out}/deltas")
    os.makedirs(f"{out}/deltas_json")
    wm0 = prev_max = int(hist["ts"].max())
    next_id = size["events"]
    dn = size["delta_rows"]
    lo_lag, hi_lag = (x * 1_000_000 for x in spec["late_lag_s"])
    drain_rows = 0
    for i in range(size["deltas"]):
        n_late = int(dn * spec["late_share"])
        n_dup = int(dn * spec["delta_dup_share"])
        n_new = dn - n_late - n_dup
        d = events_table(rng, n_new + n_late, size["users"], spec["user_zipf_s"], prev_max + 1,
                         prev_max + 1 + spec["delta_span_s"] * 1_000_000, 0.0, 0.0, next_id)
        next_id += n_new + n_late
        # the last n_late rows become late: hours behind every earlier delta
        d["ts"][n_new:] = prev_max - rng.integers(lo_lag, hi_lag, size=n_late)
        new_max = int(d["ts"][:n_new].max())
        dup = rng.integers(0, n_new + n_late, size=n_dup)
        d = {c: np.concatenate([v, v[dup]]) for c, v in d.items()}
        order = rng.permutation(dn)
        d = {c: v[order] for c, v in d.items()}
        pq.write_table(to_arrow(d), f"{out}/deltas/delta_{i:04d}.parquet")
        if i < size["drain_files"]:
            stream = pa.table({
                "entry_id": pa.array(d["event_id"], pa.int64()),
                "user_id": pa.array(d["user_id"], pa.int64()),
                "ts_us": pa.array(d["ts"], pa.int64()),
                "pageview_count": pa.array(np.floor(d["value"]).astype(np.int64)),
                "event_type": pa.array(d["event_type"], pa.string()),
            })
            path = f"{out}/deltas_json/delta_{i:04d}.json"
            with open(path, "w") as f:
                for r in stream.to_pylist():
                    f.write(json.dumps(r) + "\n")
            # the file source orders files by modification time
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
            drain_rows += dn
        prev_max = max(prev_max, new_max)
    return {"events": size["events"], "csv_rows": size["csv_rows"], "delta_rows": dn,
            "deltas": size["deltas"], "drain_files": size["drain_files"],
            "drain_rows": drain_rows, "wm0": wm0}


def curation(rng, spec, size, out):
    vocab = np.unique(np.array(["".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"),
                                                   size=rng.integers(3, 10)))
                                for _ in range(spec["vocab"])]))
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1) ** spec["word_zipf_s"])
    cdf /= cdf[-1]
    lo, hi = spec["doc_words"]

    def draw(k):
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)]

    def fresh():
        return list(draw(int(rng.integers(lo, hi + 1))))

    def edit(words, k):
        words = list(words)
        for pos, word in zip(rng.choice(len(words), size=k, replace=False), draw(k)):
            words[pos] = word
        return words

    n = size["docs"]
    docs = []
    # chain lengths: the distribution's quantiles at evenly spaced
    # probabilities (stratified, so every seed gets the same length
    # profile, long tail included); text and ids vary with the seed
    cl = spec["chain_length"]
    for k in range(cl["chains"]):
        q = (k + 0.5) / cl["chains"]
        length = cl["min"] - 1 + int(np.ceil(np.log1p(-q) / np.log1p(-cl["p"])))
        cur = fresh()
        for _ in range(length):
            docs.append(cur)
            cur = edit(cur, spec["chain_edit_words"])
    n_star = int(n * spec["star_clusters_share"])
    while n_star > 0:
        src = fresh()
        m = min(int(rng.integers(spec["star_size"][0], spec["star_size"][1] + 1)), n_star)
        docs.append(src)
        docs.extend(edit(src, int(rng.integers(spec["star_edit_words"][0],
                                                 spec["star_edit_words"][1] + 1)))
                    for _ in range(m - 1))
        n_star -= m
    n_exact = int(n * spec["exact_copy_share"])
    while len(docs) < n - n_exact:
        docs.append(fresh())
    docs.extend(docs[i] for i in rng.integers(0, len(docs), size=n - len(docs)))
    texts = np.array([" ".join(d) for d in docs], dtype=object)[rng.permutation(n)]

    def table(ids, txt):
        return pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(txt, pa.string()),
            "lang": pa.array(rng.choice(["en", "de", "fr"], size=len(ids))),
            "source": pa.array(np.char.add("src", (ids % 97).astype(str))),
            "n_chars": pa.array([len(t) for t in txt], pa.int64()),
        })

    pq.write_table(table(np.arange(n, dtype=np.int64), texts), f"{out}/documents.parquet")
    os.makedirs(f"{out}/batches")
    bd = size["batch_docs"]
    mix = spec["batch_mix"]
    for b in range(size["batches"]):
        kind = rng.choice(3, size=bd, p=[mix["near_copy"], mix["exact_copy"], mix["fresh"]])
        base = rng.integers(0, n, size=bd)
        txt = [" ".join(edit(texts[j].split(" "), 2)) if k == 0 else texts[j] if k == 1
               else " ".join(fresh()) for k, j in zip(kind, base)]
        ids = np.arange(bd, dtype=np.int64) + n + b * bd
        pq.write_table(table(ids, txt), f"{out}/batches/batch_{b:04d}.parquet")
    return {"docs": n, "batches": size["batches"], "batch_docs": bd}


GENERATORS = {"medallion_dag": medallion, "curation_dedup": curation}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = SPEC[a.workload]
    # the measured inputs, and a small set of the same shape for the
    # warm-up pass that precedes the timed loop
    for part, salt in (("data", 0), ("warm", 1)):
        d = os.path.join(a.out, part)
        os.makedirs(d)
        size = spec["size"] if part == "data" else spec["warm_size"]
        params = GENERATORS[a.workload](np.random.default_rng([a.seed, salt]), spec, size, d)
        with open(os.path.join(d, "params.properties"), "w") as f:
            for k, v in sorted(params.items()):
                f.write(f"{k}={v}\n")

if __name__ == "__main__":
    main()
