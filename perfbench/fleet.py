"""Seeded fleet of `openmrs_<site>/<table>` source directories for the
fleet_etl workload, and the reports the two pipelines must write for it,
computed independently with DuckDB.

    obs       <- lineitem (event time l_shipdate)
    encounter <- orders   (event time o_orderdate)
    orders    <- events   (event time ts)

Every row goes to one site at random and carries a `voided` flag. A few
sites lack one table, so the pipelines' skip path runs. The destination
census (what the warehouse holds) is the live count per site and table
with seeded drift, one row missing and one destination-only row.
"""
import datetime
import math
import os
import shutil

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCES = 4
SKIPPED = 1
VOIDED_SHARE = 0.05
TABLES = [("obs", "lineitem", "l_shipdate"),
          ("encounter", "orders", "o_orderdate"),
          ("orders", "events", "ts")]

M = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M


def _round(acc, lane):
    acc = (acc + lane * P2) & M
    return (_rotl(acc, 31) * P1) & M


def _merge(h, v):
    h ^= _round(0, v)
    return (h * P1 + P4) & M


def xxhash64(data, seed=42):
    """XXH64 of bytes, as Spark's `xxhash64` computes it for a string."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M, (seed + P2) & M, seed & M, (seed - P1) & M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], int.from_bytes(data[i + 8 * k:i + 8 * k + 8], "little"))
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M
        for k in range(4):
            h = _merge(h, v[k])
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i:i + 4], "little") * P1) & M
        h = (_rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (_rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h - (1 << 64) if h >= 1 << 63 else h


def site_id(name):
    """pmod(xxhash64(name), Int.MaxValue), the pipelines' site key."""
    return xxhash64(name.encode()) % 2147483647


def generate(seed, corpus, out):
    """Write the fleet under `out`; returns the plan (dict of strings)."""
    rng = np.random.default_rng(seed)
    if os.path.exists(out):
        shutil.rmtree(out)
    names = [f"openmrs_s{i:02d}" for i in range(SOURCES)]
    skipped = sorted(rng.choice(names, SKIPPED, replace=False).tolist())
    lacks = {s: TABLES[int(rng.integers(len(TABLES)))][0] for s in skipped}
    for table, base, _ in TABLES:
        t = pq.read_table(os.path.join(corpus, base + ".parquet"))
        site = rng.integers(0, SOURCES, t.num_rows)
        voided = (rng.random(t.num_rows) < VOIDED_SHARE).astype(np.int32)
        t = t.append_column("voided", pa.array(voided))
        for i, name in enumerate(names):
            if lacks.get(name) == table:
                continue
            d = os.path.join(out, "sources", name, table)
            os.makedirs(d)
            pq.write_table(t.filter(pa.array(site == i)), os.path.join(d, "part-00000.parquet"))
    # destination census: live counts with drift, one gap, one extra row
    con = duckdb.connect()
    live = [(name, table) for name in names if name not in skipped for table, _, _ in TABLES]
    rows = []
    for name, table in live:
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('{out}/sources/{name}/{table}/*.parquet') "
            "WHERE voided = 0").fetchone()[0]
        drift = int(rng.integers(-3, 4)) if rng.random() < 0.3 else 0
        rows.append((site_id(name), table, n + drift))
    del rows[int(rng.integers(len(rows)))]
    rows.append((site_id("openmrs_retired"), "obs", int(rng.integers(1, 100))))
    os.makedirs(os.path.join(out, "destination"))
    pq.write_table(pa.table({
        "site_id": pa.array([r[0] for r in rows], pa.int32()),
        "table_name": pa.array([r[1] for r in rows], pa.string()),
        "record_count": pa.array([r[2] for r in rows], pa.int64())}),
        os.path.join(out, "destination", "part-00000.parquet"))
    cutoff = (datetime.datetime(2024, 1, 8) +
              datetime.timedelta(days=int(rng.integers(0, 15)))).strftime("%Y-%m-%d %H:%M:%S")
    fresh, recon = expected(con, out, names, skipped, cutoff)
    con.close()
    return {"sources": ",".join(names), "skipped": ",".join(skipped), "cutoff": cutoff,
            "freshness_rows": str(fresh), "reconciliation_rows": str(recon)}


def expected(con, out, names, skipped, cutoff):
    """The two reports, written as expected_<kind>.parquet; returns row counts."""
    today = datetime.datetime.now(datetime.timezone.utc).date()
    live = [n for n in names if n not in skipped]
    fresh = {"facility_id": [], "facility_name": [], "std_dev": [], "date_created": []}
    for table, _, _ in TABLES:
        fresh[f"{table}_max_date"] = []
    for name in live:
        fresh["facility_id"].append(site_id(name))
        fresh["facility_name"].append(name)
        ordinals = []
        for table, _, ts in TABLES:
            (mx,) = con.execute(
                f"SELECT max(CAST({ts} AS DATE)) FROM read_parquet('{out}/sources/{name}/{table}/*.parquet') "
                f"WHERE {ts} < TIMESTAMP '{cutoff}'").fetchone()
            fresh[f"{table}_max_date"].append(mx)
            if mx is not None:
                ordinals.append(float(mx.toordinal()))
        # the engine's row-wise sample stddev, in its order of operations
        n = float(len(ordinals))
        s = s2 = 0.0
        for x in ordinals:
            s = s + x
        for x in ordinals:
            s2 = s2 + x * x
        fresh["std_dev"].append(
            float(round(math.sqrt(max((s2 - s * s / n) / (n - 1.0), 0.0)))) if n >= 2 else None)
        fresh["date_created"].append(today)
    pq.write_table(pa.table(fresh), os.path.join(out, "expected_freshness.parquet"))
    census = " UNION ALL ".join(
        f"SELECT {site_id(name)}::INTEGER AS site_id, '{table}' AS table_name, count(*) AS record_count "
        f"FROM read_parquet('{out}/sources/{name}/{table}/*.parquet') WHERE voided = 0 HAVING count(*) > 0"
        for name in live for table, _, _ in TABLES)
    recon = con.execute(f"""
        COPY (
          SELECT coalesce(s.site_id, d.site_id) AS site_id,
                 coalesce(s.table_name, d.table_name) AS table_name,
                 s.record_count AS record_count_source,
                 d.record_count AS record_count_ohdl,
                 s.record_count - d.record_count AS variance,
                 DATE '{today.isoformat()}' AS date_created
          FROM ({census}) s
          FULL OUTER JOIN read_parquet('{out}/destination/*.parquet') d
            ON s.site_id = d.site_id AND s.table_name = d.table_name
        ) TO '{out}/expected_reconciliation.parquet' (FORMAT parquet)""").fetchone()[0]
    return len(live), recon
