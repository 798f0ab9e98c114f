"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size constants below): the same
seed writes byte-identical inputs. Each writes into its own directory and
finishes with a `manifest.json` holding the sizes, shares and the counts the
correctness checks expect; a directory with a manifest is complete and is
reused as a cache.

The shapes follow the repository's sf0.1 fixtures (which the benchmark may
not read: it runs in a checkout that holds only the repository's files).
etl_daily's feeds are laid out as the program's soak test builds them from
sf0.1 (customers as listings, a 100-day calendar per listing, orders as
reviews), at a third of that size (see ETL). corpus_curation's documents
copy the sf0.1 `documents` table's shape: a 30-word vocabulary, 10 to 100
tokens a document, 20 sources and the same language mix.
"""
import gzip
import io
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# the vocabulary of the sf0.1 `documents` fixture
WORDS = np.array(("merge window customer spark part group stream filter the sort "
                  "scan vector join query big hash column data agg table line small "
                  "slow key fast order row value a batch").split())

# etl_daily: a first load and `days` rerun days. The soak test's sf0.1 feeds
# have 15k listings, 1.5M calendar rows and 150k reviews. In a fresh JVM on
# 4 cores a rerun day costs 18-21 s at a third of that size and 15-19 s at a
# tenth: ~60 Spark jobs and ~200 generated-code compilations a day dominate,
# not the rows. A third of sf0.1 with one rerun day (~30 s + ~19 s) is what
# fits the benchmark's run budget.
ETL = dict(listings=5000, calendar_days=100, reviews=50_000, days=1,
           changed_share=0.10, new_listing_share=0.02, new_reviews=2000)
# corpus_curation: documents, duplicate shares, ingest micro-batches. Near
# duplicates are 1 to 3 token substitutions of an earlier document. Half the
# documents are the backfill; as with etl_daily the cost in a fresh JVM is
# mostly per job and per compiled plan, so 2000 backfill documents (of the
# fixture's 5000) keep a run within the benchmark's budget.
CORPUS = dict(docs=4000, exact_dup_share=0.10, near_dup_share=0.10,
              short_share=0.05, pii_share=0.05, batches=8)
# embeddings for the traced run's registry probes: the sf0.1 `embeddings`
# table's shape (64-dim float vectors around 10 labelled centres), half its size
VECTORS = dict(rows=1000, dim=64, labels=10)


def _done(d):
    return os.path.exists(os.path.join(d, "manifest.json"))


def _finish(d, tmp, manifest):
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    if os.path.exists(d):
        shutil.rmtree(d)
    os.rename(tmp, d)


def _fresh(d):
    tmp = d + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    return tmp


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


# ---------------------------------------------------------------- etl_daily

CITIES = [("United_States", "Hawaii"), ("Spain", "Barcelona")]
HOST_LOCS = np.array(["Honolulu, United States", "Madrid, Spain", "Paris, France",
                      "Berlin, Germany", "Hilo, United States", "Spain", ""])
REVIEW_TEXT = np.array([
    "the stay was great and the host was very kind and the place is warm",
    "la casa es muy bonita y el anfitrion fue muy amable con nosotros",
    "le logement est tres propre et l'hote est vraiment tres gentil",
    "die wohnung ist sehr sauber und der gastgeber war sehr freundlich"])


def _gz_csv(path, cols):
    buf = io.BytesIO()
    pacsv.write_csv(pa.table(cols), buf)
    with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb",
                                                compresslevel=1, mtime=0) as f:
        f.write(buf.getvalue())


def _money(x):
    return np.array([f"${v:,}.00" for v in x.tolist()])


def etl(d, seed):
    """Daily full snapshots (listings, calendar, reviews) for days 0..days,
    one file per city and feed, as Inside Airbnb publishes them.

    Day d keeps every earlier listing, changes `changed_share` of them,
    adds `new_listing_share` new ones, re-sends every earlier review plus
    `new_reviews` new ones, and shifts the calendar window one day.
    """
    if _done(d):
        return json.load(open(os.path.join(d, "manifest.json")))
    tmp = _fresh(d)
    rng = np.random.default_rng([seed, 2])
    c = ETL
    n0 = c["listings"]

    def new_listings(n):
        return {"host_id": rng.integers(0, n0 // 3, n),
                "host_name": np.char.add("host_", rng.integers(0, 10_000, n).astype(str)),
                "host_location": HOST_LOCS[rng.integers(0, len(HOST_LOCS), n)],
                "neigh": np.char.add("Area ", rng.integers(0, 40, n).astype(str)),
                "lat": 19.5 + rng.integers(0, 100_000, n) / 1e4,
                "lon": -155.5 + rng.integers(0, 100_000, n) / 1e4,
                "price": rng.integers(40, 1500, n),
                "nrev": rng.integers(0, 200, n),
                "rating": 3.0 + rng.integers(0, 200, n) / 100.0,
                "hcount": rng.integers(1, 6, n)}

    L = new_listings(n0)
    L["id"] = np.arange(10_000, 10_000 + n0)
    R = {"listing_id": np.zeros(0, "int64"), "id": np.zeros(0, "int64"),
         "date": np.zeros(0, "datetime64[D]"), "reviewer_id": np.zeros(0, "int64"),
         "comments": np.zeros(0, REVIEW_TEXT.dtype)}

    def add_reviews(n, day):
        first = 1_000_000 + len(R["id"])
        lang = rng.integers(0, len(REVIEW_TEXT), n)
        new = {"listing_id": L["id"][rng.integers(0, len(L["id"]), n)],
               "id": np.arange(first, first + n),
               "date": np.datetime64("2024-01-01") + rng.integers(0, 540 + day, n),
               "reviewer_id": rng.integers(0, 50_000, n),
               "comments": np.char.add(np.char.add(REVIEW_TEXT[lang], " "),
                                       rng.integers(0, 10**6, n).astype(str))}
        for k in R:
            R[k] = np.concatenate([R[k], new[k]])

    add_reviews(c["reviews"], 0)
    days = []
    for day in range(c["days"] + 1):
        changed = new = 0
        if day > 0:
            pick = rng.choice(len(L["id"]), int(len(L["id"]) * c["changed_share"]),
                              replace=False)
            L["price"][pick] += 1 + rng.integers(0, 50, len(pick))
            L["nrev"][pick] += 1
            changed = len(pick)
            new = int(n0 * c["new_listing_share"])
            add = new_listings(new)
            add["id"] = L["id"].max() + 1 + np.arange(new)
            L = {k: np.concatenate([L[k], add[k]]) for k in L}
            add_reviews(c["new_reviews"], day)
        ddir = os.path.join(tmp, f"day{day}")
        date = str(np.datetime64("2025-06-01") + day)
        start = np.datetime64("2025-06-01") + day
        window = np.array([str(start + k) for k in range(c["calendar_days"])])
        geo = L["id"] % len(CITIES)
        price_s = _money(L["price"])
        # calendar price: the listing's price plus a weekday markup
        week_price = np.stack([_money(L["price"] + k * 5) for k in range(7)], axis=1)
        for sub in ("listings", "calendar", "reviews"):
            os.makedirs(os.path.join(ddir, sub))
        rgeo = R["listing_id"] % len(CITIES)
        for g, (country, city) in enumerate(CITIES):
            s = geo == g
            _gz_csv(os.path.join(ddir, "listings", f"{country}_{city}_listings_{date}.csv.gz"), {
                "id": L["id"][s], "host_id": L["host_id"][s], "host_name": L["host_name"][s],
                "host_location": L["host_location"][s],
                "neighbourhood_cleansed": L["neigh"][s],
                "latitude": np.char.mod("%.6f", L["lat"][s]),
                "longitude": np.char.mod("%.6f", L["lon"][s]),
                "price": price_s[s], "number_of_reviews": L["nrev"][s],
                "review_scores_rating": np.char.mod("%.2f", L["rating"][s]),
                "calculated_host_listings_count": L["hcount"][s]})
            idx = np.nonzero(s)[0]
            li = np.repeat(idx, len(window))
            k = np.tile(np.arange(len(window)), len(idx))
            _gz_csv(os.path.join(ddir, "calendar", f"{country}_{city}_calendar_{date}.csv.gz"), {
                "listing_id": L["id"][li], "date": window[k],
                "available": np.where((L["id"][li] + k + day) % 3 != 0, "t", "f"),
                "price": week_price[li, k % 7]})
            r = rgeo == g
            _gz_csv(os.path.join(ddir, "reviews", f"{country}_{city}_reviews_{date}.csv.gz"), {
                "listing_id": R["listing_id"][r], "id": R["id"][r],
                "date": R["date"][r].astype(str), "reviewer_id": R["reviewer_id"][r],
                "reviewer_name": np.char.add("reviewer_", R["reviewer_id"][r].astype(str)),
                "comments": R["comments"][r]})
        gz_bytes = sum(os.path.getsize(os.path.join(r, f))
                       for r, _, fs in os.walk(ddir) for f in fs)
        weeks = len({_week(start + k) for k in range(c["calendar_days"])})
        n = len(L["id"])
        days.append({"day": day, "listings": n, "changed": changed,
                     "new_listings": new if day else n,
                     "reviews": len(R["id"]),
                     "new_reviews": c["new_reviews"] if day else len(R["id"]),
                     "calendar_rows": n * len(window),
                     "calendar_weeks": weeks * n,
                     "gzip_bytes": gz_bytes})
    m = {"seed": seed, "config": c, "days": days}
    _finish(d, tmp, m)
    return m


def _week(day):
    # Monday-start week, as CleanFns.weekStart computes it
    dow = (day.astype("datetime64[D]").astype("int64") + 3) % 7
    return str(day - dow)


# ----------------------------------------------------------- corpus_curation

LANGS = np.array(["en"] * 8 + ["zh", "zh", "zh", "es", "es", "es", "fr", "fr", "fr",
                                "de", "de", "de"])


def corpus(d, seed):
    """Documents with stated shares of exact and near duplicates.

    The first half is the backfill (`documents.parquet`, the fixture's
    schema). The second half is cut into `batches` ingest micro-batches
    whose duplicates point at backfill documents. Short documents, and
    exact copies of fresh or short ones, are always rejected. Whether the
    band gate catches a near copy (or a copy of one), or rejects a fresh
    document whose band keys collide with indexed ones, depends on MinHash
    signatures, which the check recomputes independently.
    """
    if _done(d):
        return json.load(open(os.path.join(d, "manifest.json")))
    tmp = _fresh(d)
    rng = np.random.default_rng([seed, 3])
    c = CORPUS
    n = c["docs"]
    half = n // 2
    texts, kinds, roots = [], [], []  # roots: the kind an exact copy's text began as

    def words(k):
        return WORDS[rng.integers(0, len(WORDS), k)].tolist()

    def fresh():
        t = " ".join(words(int(rng.integers(25, 101))))
        if rng.random() < c["pii_share"]:
            t += f" contact user{int(rng.integers(0, 999))}@example.com now"
        return t

    def near(t):
        toks = t.split(" ")
        for i in rng.choice(len(toks), int(rng.integers(1, 4)), replace=False):
            if "@" not in toks[i]:
                toks[i] = WORDS[int(rng.integers(0, len(WORDS)))]
        return " ".join(toks)

    for i in range(n):
        pool = half if i >= half else i
        r = rng.random()
        if pool and r < c["exact_dup_share"]:
            j = int(rng.integers(0, pool))
            texts.append(texts[j]); kinds.append("exact"); roots.append(roots[j])
        elif pool and r < c["exact_dup_share"] + c["near_dup_share"]:
            texts.append(near(texts[int(rng.integers(0, pool))]))
            kinds.append("near"); roots.append("near")
        elif r < c["exact_dup_share"] + c["near_dup_share"] + c["short_share"]:
            texts.append(" ".join(words(int(rng.integers(3, 15)))))
            kinds.append("short"); roots.append("short")
        else:
            texts.append(fresh()); kinds.append("fresh"); roots.append("fresh")
    ids = np.arange(n, dtype="int64") * 7 + 3
    cols = {"doc_id": ids, "text": np.array(texts, dtype=object),
            "lang": LANGS[rng.integers(0, len(LANGS), n)],
            "source": np.char.add("src", (np.arange(n) % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype="int64")}
    _write(os.path.join(tmp, "documents.parquet"), {k: v[:half] for k, v in cols.items()})
    bsz = (n - half + c["batches"] - 1) // c["batches"]
    os.makedirs(os.path.join(tmp, "batches"))
    batches = []
    for b in range(c["batches"]):
        lo, hi = half + b * bsz, min(n, half + (b + 1) * bsz)
        _write(os.path.join(tmp, "batches", f"b{b:03d}.parquet"),
               {"doc_id": ids[lo:hi], "text": cols["text"][lo:hi]})
        k, rt, bid = kinds[lo:hi], roots[lo:hi], ids[lo:hi].tolist()
        # a fresh backfill document always survives the backfill, so a copy
        # of one (or of a short one) is always rejected; a copy of a near
        # duplicate is rejected only if its source was
        batches.append({"rows": hi - lo, "exact": k.count("exact"),
                        "near": k.count("near"), "short": k.count("short"),
                        "rejected_ids": [x for x, kk, r in zip(bid, k, rt)
                                         if kk == "short" or (kk == "exact" and r != "near")]})
    v = VECTORS
    centres = rng.normal(0, 0.15, (v["labels"], v["dim"]))
    label = rng.integers(0, v["labels"], v["rows"])
    emb = (centres[label] + rng.normal(0, 0.05, (v["rows"], v["dim"]))).astype("float32")
    _write(os.path.join(tmp, "embeddings.parquet"), {
        "vec_id": np.arange(v["rows"], dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": label.astype("int32")})
    m = {"seed": seed, "config": c, "vectors": v, "backfill_rows": half,
         "backfill_kinds": {k: kinds[:half].count(k) for k in sorted(set(kinds))},
         "batches": batches}
    _finish(d, tmp, m)
    return m


GENERATORS = {"etl_daily": etl, "corpus_curation": corpus}
