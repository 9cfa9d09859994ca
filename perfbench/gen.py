"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. The engine only ever sees the files written here.

- ``aq_batches``: raw air-quality JSON in the hourly-array shape of
  FIXTURES.md A2 (parallel ``hourly.*`` arrays, city known only from the
  filename stem, no ``uv_index``), delivered as a sequence of landed
  batches. Each batch re-delivers the last hours of the previous one,
  each hour revised with probability 1/2 (the reference's forecast
  re-fetch), and one city in eight, chosen per batch, lands a second,
  overlapping file inside the batch (the A4 mean-collapse case). The
  seed picks values and choices, never sizes or file counts. The generator also returns the
  rows the staged store must hold afterwards.
- ``corpus``: ``documents.parquet`` and ``embeddings.parquet`` in the
  schema and distribution of the repo's sf0.1 ``documents`` /
  ``embeddings`` test tables (FIXTURES.md B). The model was fitted to
  figures measured on those tables with ``corpus_stats`` (they are in
  ``SF01`` below and in README.md). A fixed base corpus is built from a
  constant seed; seed 0 is that corpus unchanged, any other seed
  permutes its rows and adds a seeded set of exact and near replicas
  under fresh ids (about 2% more rows).

Run ``python3 perfbench/gen.py <dir>`` to print ``corpus_stats`` for the
two tables in ``<dir>``, or ``python3 perfbench/gen.py --seed <n>`` for
the generated corpus.
"""
import datetime
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

POLLUTANTS = ["pm10", "pm2_5", "carbon_monoxide", "nitrogen_dioxide",
              "sulphur_dioxide", "ozone"]
# value range per pollutant, roughly the reference's committed AQ data
RANGES = {"pm10": (5.0, 320.0), "pm2_5": (2.0, 260.0),
          "carbon_monoxide": (50.0, 2000.0), "nitrogen_dioxide": (1.0, 150.0),
          "sulphur_dioxide": (0.5, 80.0), "ozone": (5.0, 200.0)}
T0 = datetime.datetime(2025, 1, 1)

# aq_pipeline at full size: 48 cities x 3 batches x 408 hours = 58,752
# delivered rows before in-batch re-landings (~108x the reference's 545
# committed staged rows)
AQ_FULL = dict(cities=48, batches=3, window_h=408, step_h=288)
AQ_WARM = dict(cities=2, batches=2, window_h=24, step_h=12)

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "big", "slow", "fast", "row", "the", "a",
         "agg", "key", "query", "scan", "batch", "sort", "order", "join",
         "group", "hash", "filter", "line", "part", "customer"]
LANGS = ["en"] * 8 + ["zh", "es", "fr", "de"] * 3
N_SOURCES = 20
WORDS = (10, 99)       # words per document, uniform
NEAR_DUP_SHARE = 0.05  # documents that copy another one and append "dup"
BASE_SEED = 20251211
CORPUS_FULL = dict(docs=5000, vecs=2000)
CORPUS_WARM = dict(docs=600, vecs=300)
# stream_curation warms up on half the corpus: q106 costs about the same
# per trigger at 600 documents as at 2,500, but only the larger slices
# drive its per-row code hot enough that the timed unit is not the first
# to compile it
STREAM_WARM = dict(docs=2500, vecs=300)
DIM = 64
N_LABELS = 10

# corpus_stats of the sf0.1 documents / embeddings test tables, the
# figures the corpus model is fitted to
SF01 = {
    "docs": 5000, "text_mb": 1.4856, "words_min": 10, "words_p25": 32.0, "words_p50": 54.0,
    "words_p75": 76.0, "words_max": 100, "distinct_words": 31, "exact_dup_share": 0.0016,
    "near_dup_share": 0.095, "sources": 20, "docs_per_source_min": 250,
    "docs_per_source_max": 250, "lang_en": 0.4118, "lang_zh": 0.1506, "lang_es": 0.1488,
    "lang_fr": 0.1484, "lang_de": 0.1404, "vecs": 2000, "dim": 64, "labels": 10,
    "vecs_per_label_min": 182, "vecs_per_label_max": 218, "norm_min": 1.0, "norm_max": 1.0,
    "label_cos_p50": 0.0729,
}


def hour_str(h):
    return (T0 + datetime.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M")


def _value(rng, p):
    if rng.random() < 0.01:
        return None
    lo, hi = RANGES[p]
    return round(rng.uniform(lo, hi), 1)


def _mean(vals):
    xs = [v for v in vals if v is not None]
    return sum(xs) / len(xs) if xs else None


def _write_city_file(path, hours, rows):
    doc = {"latitude": 0.0, "longitude": 0.0, "timezone": "GMT",
           "hourly_units": {"time": "iso8601"},
           "hourly": {"time": [hour_str(h) for h in hours]}}
    for i, p in enumerate(POLLUTANTS):
        doc["hourly"][p] = [r[i] for r in rows]
    data = json.dumps(doc, separators=(",", ":")).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)


def aq_batches(out_dir, seed, cities, batches, window_h, step_h):
    """Write ``batch_<b>/`` directories of raw AQ JSON under ``out_dir``.

    Returns ``(expected, rows, nbytes)``: ``expected`` maps
    ``(city, hour)`` to the pollutant tuple the store must hold after the
    last batch (last write wins across batches, mean inside a batch).
    """
    rng = random.Random(seed * 7919 + 17)
    names = ["city%02d" % i for i in range(cities)]
    last = {}       # (city, hour) -> row delivered by the previous batch
    expected = {}
    rows_total, bytes_total = 0, 0
    for b in range(batches):
        d = os.path.join(out_dir, "batch_%d" % b)
        os.makedirs(d, exist_ok=True)
        stamp = (T0 + datetime.timedelta(hours=b * step_h)).strftime("%Y%m%dT%H%M%SZ")
        delivered = {}
        relanded = set(rng.sample(names, max(1, cities // 8)))
        for c in names:
            hours = list(range(b * step_h, b * step_h + window_h))
            rows = []
            for h in hours:
                prev = last.get((c, h))
                if prev is not None and rng.random() < 0.5:
                    rows.append(prev)
                else:
                    rows.append(tuple(_value(rng, p) for p in POLLUTANTS))
            bytes_total += _write_city_file(
                os.path.join(d, "%s_raw_%s.json" % (c, stamp)), hours, rows)
            rows_total += len(rows)
            for h, r in zip(hours, rows):
                delivered[(c, h)] = [r]
            if c in relanded:
                # a second landing of this city inside the batch: up to
                # 24 overlapping hours with fresh values, mean-collapsed
                n = min(24, window_h // 2)
                start = rng.randrange(0, window_h - n)
                hours2 = hours[start:start + n]
                rows2 = [tuple(_value(rng, p) for p in POLLUTANTS) for _ in hours2]
                bytes_total += _write_city_file(
                    os.path.join(d, "%s_raw_%s-r.json" % (c, stamp)), hours2, rows2)
                rows_total += len(rows2)
                for h, r in zip(hours2, rows2):
                    delivered[(c, h)].append(r)
        last = {}
        for k, rs in delivered.items():
            last[k] = rs[0]
            mean = tuple(_mean([r[i] for r in rs]) for i in range(len(POLLUTANTS)))
            if any(v is not None for v in mean):
                expected[k] = mean
    return expected, rows_total, bytes_total


def _base_corpus(n_docs, n_vecs):
    rng = random.Random(BASE_SEED)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(*WORDS)))
             for _ in range(n_docs)]
    # near duplicates: a copy of some other document with "dup" appended;
    # exact duplicates arise where two of them copy the same document
    for i in rng.sample(range(n_docs), int(n_docs * NEAR_DUP_SHARE)):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    docs = [(i, t, rng.choice(LANGS), "src%d" % (i % N_SOURCES)) for i, t in enumerate(texts)]
    vecs = []
    for i in range(n_vecs):
        # isotropic unit vectors; the label carries no geometry
        v = [rng.gauss(0, 1) for _ in range(DIM)]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append((i, [x / norm for x in v], rng.randrange(N_LABELS)))
    return docs, vecs


def corpus(out_dir, seed, docs, vecs):
    """Write ``documents.parquet`` and ``embeddings.parquet`` to ``out_dir``.

    Returns ``{table: (rows, nbytes)}``."""
    base_docs, base_vecs = _base_corpus(docs, vecs)
    if seed != 0:
        rng = random.Random(seed)
        extra = []
        for j in range(max(1, docs // 50)):
            _, text, lang, source = base_docs[rng.randrange(docs)]
            if j % 2:
                text += " dup"
            extra.append((docs + j, text, lang, source))
        base_docs = base_docs + extra
        rng.shuffle(base_docs)
        extra_v = [(vecs + j,) + base_vecs[rng.randrange(vecs)][1:]
                   for j in range(max(1, vecs // 100))]
        base_vecs = base_vecs + extra_v
        rng.shuffle(base_vecs)
    os.makedirs(out_dir, exist_ok=True)
    dt = pa.table({
        "doc_id": pa.array([d[0] for d in base_docs], pa.int64()),
        "text": pa.array([d[1] for d in base_docs], pa.string()),
        "lang": pa.array([d[2] for d in base_docs], pa.string()),
        "source": pa.array([d[3] for d in base_docs], pa.string()),
        "n_chars": pa.array([len(d[1]) for d in base_docs], pa.int64()),
    })
    et = pa.table({
        "vec_id": pa.array([v[0] for v in base_vecs], pa.int64()),
        "embedding": pa.array([v[1] for v in base_vecs], pa.list_(pa.float32())),
        "label": pa.array([v[2] for v in base_vecs], pa.int32()),
    })
    sizes = {}
    for name, t in (("documents", dt), ("embeddings", et)):
        p = os.path.join(out_dir, name + ".parquet")
        pq.write_table(t, p, compression="snappy")
        sizes[name] = (t.num_rows, os.path.getsize(p))
    return sizes


def _shingles(text):
    w = text.split(" ")
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def near_dup_share(texts, jaccard=0.8):
    """Share of rows whose word 3-shingle set has Jaccard >= ``jaccard``
    with some other row of different text."""
    sets = [_shingles(t) for t in texts]
    index = {}
    for i, s in enumerate(sets):
        for g in s:
            index.setdefault(g, []).append(i)
    near = set()
    for i, s in enumerate(sets):
        shared = {}
        for g in s:
            for j in index[g]:
                if j != i:
                    shared[j] = shared.get(j, 0) + 1
        for j, n in shared.items():
            if texts[j] != texts[i] and n >= jaccard * len(s | sets[j]):
                near.add(i)
                break
    return len(near) / len(texts)


def corpus_stats(in_dir):
    """The figures the corpus model is fitted to, for the
    ``documents.parquet`` and ``embeddings.parquet`` in ``in_dir``."""
    import statistics
    from collections import Counter
    docs = pq.read_table(os.path.join(in_dir, "documents.parquet")).to_pydict()
    vecs = pq.read_table(os.path.join(in_dir, "embeddings.parquet")).to_pydict()
    texts = docs["text"]
    n = len(texts)
    words = sorted(len(t.split(" ")) for t in texts)
    q = statistics.quantiles(words, n=4)
    copies = Counter(texts)
    per_source = Counter(docs["source"])
    langs = Counter(docs["lang"])
    per_label = Counter(vecs["label"])
    norms = [sum(x * x for x in v) ** 0.5 for v in vecs["embedding"]]
    # median cosine of each vector to its label's centroid: near 0 when
    # labels carry no geometry
    cos = []
    for label in per_label:
        vs = [v for v, lab in zip(vecs["embedding"], vecs["label"]) if lab == label]
        c = [sum(col) / len(vs) for col in zip(*vs)]
        cn = sum(x * x for x in c) ** 0.5
        cos += [sum(a * b for a, b in zip(v, c)) / cn for v in vs]
    out = {
        "docs": n, "text_mb": round(sum(len(t.encode()) for t in texts) / 1e6, 4),
        "words_min": words[0], "words_p25": q[0], "words_p50": q[1], "words_p75": q[2],
        "words_max": words[-1],
        "distinct_words": len({w for t in texts for w in t.split(" ")}),
        "exact_dup_share": round(sum(c - 1 for c in copies.values()) / n, 4),
        "near_dup_share": round(near_dup_share(texts), 4),
        "sources": len(per_source), "docs_per_source_min": min(per_source.values()),
        "docs_per_source_max": max(per_source.values())}
    out.update({"lang_" + k: round(langs[k] / n, 4) for k in ("en", "zh", "es", "fr", "de")})
    out.update({
        "vecs": len(norms), "dim": len(vecs["embedding"][0]), "labels": len(per_label),
        "vecs_per_label_min": min(per_label.values()),
        "vecs_per_label_max": max(per_label.values()),
        "norm_min": round(min(norms), 4), "norm_max": round(max(norms), 4),
        "label_cos_p50": round(statistics.median(cos), 4)})
    return out


if __name__ == "__main__":
    import argparse
    import tempfile
    ap = argparse.ArgumentParser(description="print corpus_stats for a corpus")
    ap.add_argument("dir", nargs="?", help="directory with documents/embeddings.parquet")
    ap.add_argument("--seed", type=int, help="generate the full corpus for this seed instead")
    a = ap.parse_args()
    if a.seed is not None:
        with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as d:
            corpus(d, a.seed, **CORPUS_FULL)
            stats = corpus_stats(d)
    elif a.dir:
        stats = corpus_stats(a.dir)
    else:
        ap.error("give a directory or --seed")
    print(json.dumps(stats, indent=1))
