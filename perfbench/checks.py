"""Result checks: every measured operation's output is compared with an
independent expectation, and a wrong result counts as a failed operation.

- datagen_loop, per batch: the running counters equal the round-robin
  arithmetic per (topic, partition) and no record was counted under the
  parse-error cluster (the key, timestamp and payload parse flags of the
  `gen_roundtrip_counts` query); the truncation decisions equal the depth
  rule replayed here; `Liveness` reads UP with the expected totals.
- assembly_refresh, per refresh: the manifest equals the query's
  `oracleSql` run in DuckDB on the same derived fixture, and every
  `incr_match` is true.
"""
import duckdb


def counts_below(topics, partitions, m):
    """Records per (topic, partition) among ids 0..m-1: topic
    `id % len(topics)` (round-robin routing), partition `id % partitions`."""
    period = len(topics) * partitions
    out = {}
    for r in range(period):
        key = (topics[r % len(topics)], r % partitions)
        out[key] = out.get(key, 0) + (m - r + period - 1) // period
    return out


def check_datagen(batches, extra):
    """Returns (attempted, failed, problems) over the loop's batches;
    batch k holds ids [k*n, (k+1)*n)."""
    n = extra["records_per_batch"]
    keys = counts_below(extra["topics"], extra["partitions"], 0)
    earliest = {k: 0 for k in keys}
    failed, problems = 0, []
    for k, b in enumerate(batches):
        bad = []
        if b["batch"] != k:
            bad.append(f"batch index {b['batch']} at position {k}")
        cum = counts_below(extra["topics"], extra["partitions"], (k + 1) * n)
        got = {}
        for cluster, topic, partition, count in b.get("counts") or []:
            if cluster != extra["cluster"]:
                bad.append(f"{count} records counted under {cluster}")
            got[(topic, partition)] = count
        if got != cum:
            bad.append(f"counters {sorted(got.items())} != {sorted(cum.items())}")
        want = []
        for key in sorted(keys):
            if cum[key] - earliest[key] >= extra["max_depth"]:
                want.append([key[0], key[1], cum[key]])
                earliest[key] = cum[key]
        if sorted(b.get("truncations") or []) != want:
            bad.append(f"truncations {b.get('truncations')} != {want}")
        h = b.get("health") or {}
        if not (h.get("up") and h.get("status_up")
                and h.get("records") == (k + 1) * n and h.get("partitions") == len(keys)):
            bad.append(f"liveness {h}")
        if bad:
            failed += 1
            problems.append(f"batch {k}: " + "; ".join(bad))
    return len(batches), failed, problems


def canon(columns, rows):
    """Rows as strings over sorted column names, floats rounded to 6 dp
    (the repo's oracle canonical form)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6) + 0.0
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(columns), sorted(out)


def oracle(fixture_dir, sql):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{fixture_dir}/documents.parquet'")
    rel = con.sql(sql)
    return canon(rel.columns, rel.fetchall())


def check_refresh(outputs, expected):
    """Returns (attempted, failed, problems) over the measured refreshes."""
    failed, problems = 0, []
    for k, out in enumerate(outputs):
        cols, rows = out["columns"], out["rows"]
        bad = []
        if canon(cols, rows) != expected:
            bad.append(f"manifest {rows} != oracle {expected[1]}")
        if "incr_match" not in cols:
            bad.append("no incr_match column")
        else:
            i = cols.index("incr_match")
            if not rows or not all(r[i] is True for r in rows):
                bad.append("incremental refresh != rebuild")
        if bad:
            failed += 1
            problems.append(f"refresh {k}: " + "; ".join(bad))
    return len(outputs), failed, problems
