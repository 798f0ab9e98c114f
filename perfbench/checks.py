"""Correctness checks (run after the timed region) and the workload-named
metrics. `run` returns a list of problems; an empty list means every check
passed."""
import json
import os
import statistics

import duckdb

from stats import summary

def canon(rows, cols, digits=9):
    """Rows as sorted strings, columns ordered by name, floats to `digits`
    significant digits (the registry's oracle comparison)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = "%.*g" % (digits, v)
            elif isinstance(v, bytes):
                v = v.hex()
            vals.append(str(v))
        out.append("\x01".join(vals))
    return sorted(out)


def compare(con, name, spark_sql, oracle_sql, digits=9):
    s = con.sql(spark_sql)
    s_cols, s_rows = list(s.columns), s.fetchall()
    o = con.sql(oracle_sql)
    o_cols, o_rows = list(o.columns), o.fetchall()
    if sorted(s_cols) != sorted(o_cols):
        return [f"{name}: columns {sorted(s_cols)} != {sorted(o_cols)}"]
    if len(s_rows) != len(o_rows):
        return [f"{name}: {len(s_rows)} rows != oracle {len(o_rows)}"]
    sc, oc = canon(s_rows, s_cols, digits), canon(o_rows, o_cols, digits)
    if sc != oc:
        i = next(i for i, (x, y) in enumerate(zip(sc, oc)) if x != y)
        return [f"{name}: row {i} spark={sc[i][:160]!r} oracle={oc[i][:160]!r}"]
    return []


def run(workload, res, data, manifest, work):
    return {"etl_daily": check_etl,
            "corpus_curation": check_corpus}[workload](res, data, manifest, work)


VIEWS = {
    "vw_local_foreign_analysis": """
        SELECT property_country, property_city, latitude, longitude, is_local_host,
               COUNT(*) AS total_listings, AVG(price) AS avg_price,
               AVG(review_scores_rating) AS avg_rating,
               SUM(number_of_reviews) AS total_reviews
        FROM dim_listings
        GROUP BY property_country, property_city, latitude, longitude, is_local_host""",
    "vw_neighborhood_performance": """
        SELECT property_country, property_city, property_neighbourhood, latitude,
               longitude, COUNT(*) AS listing_count, AVG(price) AS avg_price,
               AVG(review_scores_rating) AS avg_rating,
               AVG(number_of_reviews) AS avg_reviews
        FROM dim_listings
        GROUP BY property_country, property_city, property_neighbourhood, latitude,
                 longitude""",
    "vw_host_activity": """
        SELECT host_country, host_city, latitude, longitude,
               COUNT(DISTINCT host_id) AS unique_hosts, COUNT(*) AS total_listings,
               AVG(price) AS avg_price
        FROM dim_listings
        GROUP BY host_country, host_city, latitude, longitude""",
}


def check_etl(res, data, manifest, work):
    wh = res["values"].get("warehouse")
    if not wh:
        return ["etl_daily: no completed cycle"]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW dim_listings AS SELECT * FROM "
                f"read_parquet('{wh}/dim_listings_enriched/*.parquet')")
    out = []
    for name, sql in VIEWS.items():
        spark_sql = f"SELECT * FROM read_parquet('{work}/views/{name}/*.parquet')"
        # averages to 6 decimals, the scale of Spark's DECIMAL average
        cols = [c for c in con.sql(sql).columns]
        rounded = lambda q: "SELECT " + ", ".join(
            f"ROUND(CAST({c} AS DOUBLE), 6) AS {c}" if c.startswith("avg_") else c
            for c in cols) + f" FROM ({q})"
        out += compare(con, name, rounded(spark_sql), rounded(sql))
    return out


def check_corpus(res, data, manifest, work):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(work, "corpus_oracle.sql")) as f:
        oracle = f.read()
    surv = res["values"]["corpus_survivors"]
    out = compare(con, "corpus backfill",
                  f"SELECT doc_id, md5(text) AS text_fp, split FROM "
                  f"read_parquet('{surv}/*.parquet')", oracle)
    with open(os.path.join(work, "gate.json")) as f:
        gate = json.load(f)
    done = len(res["values"]["corpus_accepted"])
    inputs = [f"{surv}/*.parquet"] + [os.path.join(data, "batches", f"b{i:03d}.parquet")
                                      for i in range(done)]
    replica = ingest_replica(con, gate, inputs)[1:]
    for i, (got, exp, gen) in enumerate(zip(res["values"]["corpus_accepted"], replica,
                                            manifest["batches"])):
        got = set(got)
        if got != exp:
            out.append(f"ingest batch {i + 1}: accepted {len(got)} != replica {len(exp)} "
                       f"(missing {sorted(exp - got)[:5]}, unexpected {sorted(got - exp)[:5]})")
        # fresh documents are not asserted accepted: a band-key collision
        # (an LSH false positive, which the replay reproduces) may reject one
        kept = sorted(set(gen["rejected_ids"]) & got)[:5]
        if kept:
            out.append(f"ingest batch {i + 1}: duplicate or short documents accepted {kept}")
    rows = res["values"].get("query_rows")
    if rows is not None:  # the traced run's registry probes
        with open(os.path.join(work, "query_oracles.json")) as f:
            oracles = json.load(f)
        for name in rows:
            out += compare(con, name, f"SELECT * FROM read_parquet("
                           f"'{work}/queries/{name}/*.parquet')", oracles[name])
    return out


def ingest_replica(con, gate, inputs):
    """The ingest gate (Streams.corpusIngestBatch) replayed in DuckDB over
    the batches in order: token floor, PII scrub, first copy of each text
    within the batch, then documents whose md5 or any MinHash band key is
    already indexed are rejected; the accepted documents join both indexes.
    Returns each batch's accepted doc ids."""
    perms, k = gate["perms"], gate["shingle_k"]
    rows = len(perms) // 2
    shingle = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    sig = ",\n".join(f"min((h * {a} + {b}) % {gate['p']}) AS m{i}"
                      for i, (a, b) in enumerate(perms))
    band = lambda j: "concat_ws('-', " + ", ".join(
        f"m{i}" for i in range(j * rows, (j + 1) * rows)) + ")"
    bands_of = lambda src: f"""
        toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM {src}),
        shd AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(t) - {k - 2}),
                  i -> {shingle})) AS sh
                FROM toks WHERE len(t) >= {k}),
        hashed AS (SELECT doc_id, {gate['poly_hash_sql']} AS h FROM shd),
        sig AS (SELECT doc_id, {sig} FROM hashed GROUP BY doc_id),
        bands AS (SELECT doc_id, 0 AS band_idx, {band(0)} AS band_key FROM sig
                  UNION ALL SELECT doc_id, 1, {band(1)} FROM sig)"""
    con.execute("CREATE OR REPLACE TABLE fp_idx (fp VARCHAR)")
    con.execute("CREATE OR REPLACE TABLE band_idx (band_idx INTEGER, band_key VARCHAR)")
    accepted = []
    for path in inputs:
        con.execute(f"""
            CREATE OR REPLACE TABLE acc AS
            WITH gated AS (
              SELECT doc_id, regexp_replace(regexp_replace(text, '{gate['email_re']}',
                       '[EMAIL]', 'g'), '{gate['phone_re']}', '[PHONE]', 'g') AS text
              FROM read_parquet('{path}')
              WHERE len(string_split_regex(trim(text), '\\s+')) >= {gate['min_tokens']}),
            ex AS (SELECT doc_id, text FROM gated
                   WHERE doc_id IN (SELECT MIN(doc_id) FROM gated GROUP BY text)
                     AND md5(text) NOT IN (SELECT fp FROM fp_idx)),
            {bands_of("ex")}
            SELECT doc_id, text FROM ex WHERE doc_id NOT IN (
              SELECT doc_id FROM bands JOIN band_idx USING (band_idx, band_key))""")
        con.execute("INSERT INTO fp_idx SELECT DISTINCT md5(text) FROM acc")
        con.execute(f"INSERT INTO band_idx WITH {bands_of('acc')} "
                    f"SELECT DISTINCT band_idx, band_key FROM bands")
        accepted.append({r[0] for r in con.execute("SELECT doc_id FROM acc").fetchall()})
    return accepted


def named_metrics(workload, samples, res):
    """The workload's metrics under their own names, with sample counts.
    `*_cpu_*` is the JVM's CPU time (all threads) over the operation, median."""
    op, bulk = summary(samples["op_ms"]), summary(samples["bulk_s"])
    def cpu(key):
        return statistics.median(samples[key]) if samples.get(key) else 0.0
    def m(value, unit, n, **kw):
        return dict(value=value, unit=unit, n=n, **kw)
    if workload == "etl_daily":
        w = res["values"].get("wh_bytes_per_feed_byte", 0.0)
        out = {"etl_first_load_s": m(bulk["p50"], "s", bulk["n"]),
               "etl_rerun_s": m(op["p50"] / 1e3, "s", op["n"]),
               "etl_first_load_cpu_s": m(cpu("bulk_cpu_s"), "s", bulk["n"]),
               "etl_rerun_cpu_s": m(cpu("op_cpu_ms") / 1e3, "s", op["n"]),
               "wh_bytes_per_feed_byte": m(w, "ratio", 1),
               "layers": {"airbnb.wh_bytes_per_feed_byte": w}}
    else:
        out = {"corpus_backfill_s": m(bulk["p50"], "s", bulk["n"]),
               "ingest_batch_p50_ms": m(op["p50"], "ms", op["n"]),
               "ingest_batch_tail_ms": m(op["tail"], "ms", op["n"], pct=op["tail_pct"]),
               "corpus_backfill_cpu_s": m(cpu("bulk_cpu_s"), "s", bulk["n"]),
               "ingest_batch_cpu_ms": m(cpu("op_cpu_ms"), "ms", op["n"])}
    v = res["values"]
    out["work_s"] = m(v.get("work_s", 0.0), "s", 1)
    out["work_cpu_s"] = m(v.get("work_cpu_s", 0.0), "s", 1)
    out["peak_heap_mb"] = m(res["peak_heap_mb"], "MB", len(samples["heap_mb"]))
    out["setup_s"] = m(summary(samples["setup_s"])["p50"], "s", len(samples["setup_s"]))
    return out
