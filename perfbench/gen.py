"""Seeded input generator for the graft benchmark workloads.

Every input a workload run reads is made here from (workload, seed, size)
and written under one directory, together with the ground truth the
harness checks outputs against. The same arguments give byte-identical
inputs, so a directory can be cached and reused across runs.

Layout of an input directory:
  olap_dashboard/  events/ users/ nation/ region/ (parquet)
                   statements.json   per-client statement streams
  corpus_curate/   documents/ embeddings/ (parquet)
                   truth.json        planted near-duplicate pairs
  ingest_admit/    base_docs/ base_vectors/ base_ts/ (parquet)
                   batch_docs/ batch_vectors/ batch_ts/ (parquet, `batch` column)
                   truth.json        per-batch expected admissions and
                                     upsert view digests
"""

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. Changing one changes the inputs, so it is part of
# the cache key (see size_tag).
SIZES = {
    "olap_dashboard": {"events": 100_000, "users": 15_000, "clients": 1,
                       "stmts_per_client": 600, "panel_per_block": 3},
    "corpus_curate": {"base_docs": 2_000, "base_vectors": 1_000, "replicas": 4,
                      "dim": 64, "clusters": 32, "threshold": 0.7},
    "ingest_admit": {"base_docs": 2_000, "base_vectors": 1_000, "base_keys": 1_000,
                     "batches": 12, "batch_docs": 200, "batch_vectors": 50,
                     "batch_rows": 200, "dim": 64, "clusters": 32,
                     "cross_dup_share": 0.2, "in_batch_dup_share": 0.1,
                     "vector_resend_share": 0.2, "update_share": 0.5},
}

GENERATOR_VERSION = 1

STOP = ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it"]
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su", "da", "ho",
             "ji", "bu", "fe", "gy"]


def size_tag(workload):
    key = json.dumps([GENERATOR_VERSION, SIZES[workload]], sort_keys=True)
    return "v%d-%s" % (GENERATOR_VERSION, hashlib.sha256(key.encode()).hexdigest()[:12])


def vocabulary():
    """A fixed 4,096-word lowercase vocabulary: three-syllable words."""
    words = []
    for a in SYLLABLES:
        for b in SYLLABLES:
            for c in SYLLABLES:
                words.append(a + b + c)
    return words


VOCAB = vocabulary()


def random_doc(rng, lo=40, hi=70):
    n = int(rng.integers(lo, hi + 1))
    words = []
    for _ in range(n):
        if rng.random() < 0.15:
            words.append(STOP[int(rng.integers(len(STOP)))])
        else:
            words.append(VOCAB[int(rng.integers(len(VOCAB)))])
    return words


def edit_doc(rng, words, edits):
    """Replace `edits` distinct positions with fresh vocabulary words."""
    out = list(words)
    for p in rng.choice(len(out), size=edits, replace=False):
        out[int(p)] = VOCAB[int(rng.integers(len(VOCAB)))]
    return out


def shingles(words, n=3):
    if len(words) < n:
        return {" ".join(words)}
    return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def cluster_vectors(rng, centers, n, spread=0.35):
    lab = rng.integers(len(centers), size=n)
    v = centers[lab] + spread * rng.standard_normal((n, centers.shape[1]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), lab.astype(np.int32)


def write_table(path, columns):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(columns), os.path.join(path, "part-00000.parquet"))


def vec_column(v):
    v = np.ascontiguousarray(v, dtype=np.float32)
    offsets = pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(v.ravel()))


# ---------------------------------------------------------------- olap

EVENT_TYPES = ["view", "click", "cart", "purchase", "refund", "search", "share", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
YEAR_START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400 * 1_000_000


def day_str(day):
    return str(np.datetime64("2024-01-01") + np.timedelta64(int(day), "D"))


def olap_templates():
    """name -> (routable, builder(rng) -> sql). Rollup-routable shapes
    group by a month trunc of ts with only event_type as dimension."""
    def window(rng):
        length = int(rng.choice([1, 7, 30, 90]))
        start = int(rng.integers(0, 366 - length))
        return day_str(start), day_str(start + length)

    def et(rng):
        return EVENT_TYPES[int(rng.integers(len(EVENT_TYPES)))]

    def range_agg(rng):
        a, b = window(rng)
        return ("SELECT event_type, count(*) AS n, "
                "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total "
                "FROM events WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' "
                "GROUP BY event_type ORDER BY event_type" % (a, b))

    def day_series(rng):
        a, b = window(rng)
        return ("SELECT date_trunc('day', ts) AS day, count(*) AS n, "
                "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total "
                "FROM events WHERE event_type = '%s' AND ts >= TIMESTAMP '%s' "
                "AND ts < TIMESTAMP '%s' GROUP BY 1 ORDER BY 1" % (et(rng), a, b))

    def link_enrich(rng):
        a, b = window(rng)
        return ("SELECT r.r_name, u.segment, count(*) AS n, "
                "CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total "
                "FROM events e JOIN users u ON e.user_id = u.user_id "
                "JOIN nation n ON u.nation_key = n.n_nationkey "
                "JOIN region r ON n.n_regionkey = r.r_regionkey "
                "WHERE e.ts >= TIMESTAMP '%s' AND e.ts < TIMESTAMP '%s' "
                "GROUP BY r.r_name, u.segment ORDER BY r.r_name, u.segment" % (a, b))

    def rollup_month(rng):
        k = int(rng.integers(2, 5))
        types = sorted(rng.choice(EVENT_TYPES, size=k, replace=False).tolist())
        return ("SELECT date_trunc('month', ts) AS month, event_type, count(*) AS n, "
                "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total "
                "FROM events WHERE event_type IN (%s) GROUP BY 1, 2 ORDER BY 1, 2"
                % ", ".join("'%s'" % t for t in types))

    def rollup_avg(rng):
        grain = str(rng.choice(["month", "quarter"]))
        return ("SELECT date_trunc('%s', ts) AS period, event_type, "
                "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(value) AS avg_value "
                "FROM events GROUP BY 1, 2 ORDER BY 1, 2" % grain)

    def top_n(rng):
        a, b = window(rng)
        n = int(rng.choice([5, 10, 20]))
        return ("SELECT user_id, count(*) AS n, "
                "CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS spend "
                "FROM events WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' "
                "GROUP BY user_id ORDER BY spend DESC, user_id LIMIT %d" % (a, b, n))

    def window_lag(rng):
        a, b = window(rng)
        return ("SELECT day, n, n - lag(n) OVER (ORDER BY day) AS delta FROM ("
                "SELECT date_trunc('day', ts) AS day, count(*) AS n FROM events "
                "WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' GROUP BY 1) t "
                "ORDER BY day" % (a, b))

    def percentile(rng):
        a, b = window(rng)
        return ("SELECT event_type, percentile(value, 0.5) AS p50, "
                "percentile(value, 0.9) AS p90 FROM events "
                "WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' "
                "GROUP BY event_type ORDER BY event_type" % (a, b))

    def hourly_users(rng):
        start = int(rng.integers(0, 365))
        return ("SELECT date_trunc('hour', ts) AS hour, count(DISTINCT user_id) AS users "
                "FROM events WHERE ts >= TIMESTAMP '%s' AND ts < TIMESTAMP '%s' "
                "GROUP BY 1 ORDER BY 1" % (day_str(start), day_str(start + 1)))

    def segment_filter(rng):
        a, b = window(rng)
        return ("SELECT u.segment, count(*) AS n FROM events e "
                "JOIN users u ON e.user_id = u.user_id "
                "WHERE e.event_type = '%s' AND e.ts >= TIMESTAMP '%s' "
                "AND e.ts < TIMESTAMP '%s' GROUP BY u.segment ORDER BY u.segment"
                % (et(rng), a, b))

    return {
        "range_agg": (False, range_agg),
        "day_series": (False, day_series),
        "link_enrich": (False, link_enrich),
        "rollup_month": (True, rollup_month),
        "rollup_avg": (True, rollup_avg),
        "top_n": (False, top_n),
        "window_lag": (False, window_lag),
        "percentile": (False, percentile),
        "hourly_users": (False, hourly_users),
        "segment_filter": (False, segment_filter),
    }


# templates with a repeated panel statement (3 of them per 10-statement
# block, so 30% of statements repeat a panel statement exactly)
PANEL = ["day_series", "link_enrich", "percentile", "range_agg", "rollup_month", "top_n"]


def gen_olap(rng, out, s):
    n = s["events"]
    ts = YEAR_START_US + np.sort(rng.integers(0, 366 * DAY_US, size=n))
    write_table(os.path.join(out, "events"), {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, s["users"], size=n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(len(EVENT_TYPES), size=n)]),
        "value": pa.array(rng.integers(1, 50_000, size=n) / 100.0),
    })
    write_table(os.path.join(out, "users"), {
        "user_id": pa.array(np.arange(s["users"], dtype=np.int64)),
        "segment": pa.array([SEGMENTS[i] for i in rng.integers(len(SEGMENTS), size=s["users"])]),
        "nation_key": pa.array(rng.integers(0, 25, size=s["users"], dtype=np.int32)),
    })
    write_table(os.path.join(out, "nation"), {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write_table(os.path.join(out, "region"), {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    templates = olap_templates()
    names = sorted(templates)
    # the panel: one fixed-parameter statement of each PANEL template
    panel = {name: {"template": name, "routable": templates[name][0],
                    "sql": templates[name][1](rng), "panel": True} for name in PANEL}
    # each client's stream is a run of blocks; a block holds every
    # template once in a seeded order, and `panel_per_block` of its
    # panel-template slots repeat the panel statement exactly, so every
    # seed sends the same template mix with different parameters
    clients = []
    for _ in range(s["clients"]):
        stream = []
        while len(stream) < s["stmts_per_client"]:
            order = [names[int(i)] for i in rng.permutation(len(names))]
            repeat = set(rng.choice(PANEL, size=s["panel_per_block"], replace=False).tolist())
            for name in order:
                if name in repeat:
                    stream.append(panel[name])
                else:
                    stream.append({"template": name, "routable": templates[name][0],
                                   "sql": templates[name][1](rng), "panel": False})
        clients.append(stream)
    panel = [panel[n] for n in PANEL]
    with open(os.path.join(out, "statements.json"), "w") as f:
        json.dump({"clients": clients, "panel": panel}, f)


# -------------------------------------------------------------- corpus

def gen_corpus(rng, out, s):
    nb = s["base_docs"]
    base = [random_doc(rng) for _ in range(nb)]
    ids, texts, planted = [], [], []
    for i, w in enumerate(base):
        ids.append(i)
        texts.append(w)
    for r in range(1, s["replicas"]):
        for i in range(nb):
            did = r * nb + i
            u = rng.random()
            if u < 0.1:
                w = list(base[i])  # exact replica
            elif u < 0.4:
                w = edit_doc(rng, base[i], int(rng.integers(1, 4)))
            else:
                w = random_doc(rng)
            if u < 0.4:
                planted.append([i, did, jaccard(base[i], w)])
            ids.append(did)
            texts.append(w)
    write_table(os.path.join(out, "documents"), {
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array([" ".join(w) for w in texts]),
    })
    centers = rng.standard_normal((s["clusters"], s["dim"]))
    n = s["base_vectors"] * s["replicas"]
    v, lab = cluster_vectors(rng, centers, n)
    write_table(os.path.join(out, "embeddings"), {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": vec_column(v),
        "label": pa.array(lab),
    })
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"threshold": s["threshold"], "docs": len(ids), "vectors": n,
                   "planted_pairs": planted}, f)


# -------------------------------------------------------------- ingest

def gen_ingest(rng, out, s):
    nb = s["base_docs"]
    base = [random_doc(rng) for _ in range(nb)]
    write_table(os.path.join(out, "base_docs"), {
        "doc_id": pa.array(np.arange(nb, dtype=np.int64)),
        "text": pa.array([" ".join(w) for w in base]),
    })
    centers = rng.standard_normal((s["clusters"], s["dim"]))
    v, _ = cluster_vectors(rng, centers, s["base_vectors"])
    write_table(os.path.join(out, "base_vectors"), {
        "vec_id": pa.array(np.arange(s["base_vectors"], dtype=np.int64)),
        "embedding": vec_column(v),
    })
    # time-series keys are (ts, sensor); values are whole cents / 100
    sensors = ["s%03d" % i for i in range(100)]
    latest = {}
    def new_key():
        while True:
            k = (int(YEAR_START_US + int(rng.integers(0, 30 * 24)) * 3_600_000_000),
                 sensors[int(rng.integers(len(sensors)))])
            if k not in latest:
                return k
    base_rows = []
    for _ in range(s["base_keys"]):
        k = new_key()
        latest[k] = int(rng.integers(1, 100_000))
        base_rows.append((k[0], k[1], latest[k]))
    write_ts(os.path.join(out, "base_ts"), base_rows)

    held_vec = list(range(s["base_vectors"]))
    truth = []
    bdocs, bvecs, brows = [], [], []
    for bi in range(s["batches"]):
        n = s["batch_docs"]
        n_cross = int(round(n * s["cross_dup_share"]))
        n_inb = int(round(n * s["in_batch_dup_share"]))
        n_novel = n - n_cross - n_inb
        id0 = 1_000_000 + bi * 10_000
        novel = [random_doc(rng) for _ in range(n_novel)]
        docs = [(id0 + j, w) for j, w in enumerate(novel)]
        for j in range(n_inb):  # later id, so the stream rejects the copy
            src = novel[int(rng.integers(n_novel))]
            docs.append((id0 + n_novel + j, edit_doc(rng, src, 1)))
        for j in range(n_cross):
            src = base[int(rng.integers(nb))]
            docs.append((id0 + n_novel + n_inb + j, edit_doc(rng, src, 1)))
        order = rng.permutation(len(docs))
        bdocs.extend((bi, docs[int(i)][0], " ".join(docs[int(i)][1])) for i in order)
        nv = s["batch_vectors"]
        n_resend = int(round(nv * s["vector_resend_share"]))
        resend = rng.choice(held_vec, size=n_resend, replace=False).tolist()
        fresh = [2_000_000 + bi * 1_000 + j for j in range(nv - n_resend)]
        vv, _ = cluster_vectors(rng, centers, nv)
        vid = [int(x) for x in rng.permutation(resend + fresh)]
        bvecs.extend((bi, v, vv[j]) for j, v in enumerate(vid))
        held_vec.extend(fresh)
        rows = []
        seen = set()
        keys = list(latest)
        for _ in range(s["batch_rows"]):
            if rng.random() < s["update_share"]:
                k = keys[int(rng.integers(len(keys)))]
                if k in seen:
                    k = new_key()
            else:
                k = new_key()
            seen.add(k)
            latest[k] = int(rng.integers(1, 100_000))
            rows.append((k[0], k[1], latest[k]))
        brows.extend((bi,) + r for r in rows)
        truth.append({
            "batch": bi,
            "admitted_docs": sorted(id0 + j for j in range(n_novel)),
            "novel_vectors": sorted(fresh),
            "held_vectors": len(held_vec),
            "held_vector_id_sum": int(sum(held_vec)),
            "view_keys": len(latest),
            "view_cents": int(sum(latest.values())),
        })
    write_table(os.path.join(out, "batch_docs"), {
        "batch": pa.array([d[0] for d in bdocs], type=pa.int32()),
        "doc_id": pa.array([d[1] for d in bdocs], type=pa.int64()),
        "text": pa.array([d[2] for d in bdocs]),
    })
    write_table(os.path.join(out, "batch_vectors"), {
        "batch": pa.array([v[0] for v in bvecs], type=pa.int32()),
        "vec_id": pa.array([v[1] for v in bvecs], type=pa.int64()),
        "embedding": vec_column(np.array([v[2] for v in bvecs])),
    })
    write_ts(os.path.join(out, "batch_ts"), brows)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump({"batches": truth}, f)


def write_ts(path, rows):
    """rows: (batch, ts_us, sensor, cents) or (ts_us, sensor, cents)."""
    cols = {}
    if rows and len(rows[0]) == 4:
        cols["batch"] = pa.array([r[0] for r in rows], type=pa.int32())
        rows = [r[1:] for r in rows]
    cols["ts"] = pa.array([r[0] for r in rows], type=pa.timestamp("us", tz="UTC"))
    cols["sensor"] = pa.array([r[1] for r in rows])
    cols["value"] = pa.array([r[2] / 100.0 for r in rows])
    write_table(path, cols)


GENERATORS = {"olap_dashboard": gen_olap, "corpus_curate": gen_corpus, "ingest_admit": gen_ingest}


def ensure_inputs(cache_root, workload, seed):
    """Generate (or reuse) the inputs for (workload, seed, size); return the dir."""
    out = os.path.join(cache_root, "%s-seed%d-%s" % (workload, seed, size_tag(workload)))
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    # the workload name is mixed into the seed so workloads draw
    # independent streams from the same --seed
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    GENERATORS[workload](rng, tmp, SIZES[workload])
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    if os.path.exists(out):
        shutil.rmtree(out)
    os.rename(tmp, out)
    return out
