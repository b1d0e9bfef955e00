#!/usr/bin/env python3
"""Dev-only oracle parity checker (mimics the driver's t2 gate).

Usage: python3 dev/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet written by graft.Verify, runs the
matching SQL from oracle_sql.json in DuckDB over the sfDir tables, and
compares values EXACTLY. Round-12 rewrite: the r11 version pulled both
sides through pandas ``fetchdf()``, which renders DECIMAL(38,0) as
float64 — two values differing in the last ~4 digits at 2^64 magnitude
compared EQUAL, so x302 shipped "green" locally and failed the driver's
exact hash. The comparison now never leaves DuckDB: every cell is CAST
to VARCHAR inside the engine (DECIMAL/HUGEINT render all digits) and the
two sides are diffed with EXCEPT ALL both ways.

HONESTY NOTE (round 13, replacing the r12 claim "at least as strict as
the driver"): VARCHAR-rendered value equality is NOT as strict as the
driver's hash, which is representation-sensitive — a DuckDB HUGEINT
column whose values fit int64 renders identically to a BIGINT here yet
hash-fails the driver (x388/x389, round 12). This checker therefore
ALSO lints the oracle SQL's DESCRIBE'd output types and FAILS any
column wider than int64 (HUGEINT/UHUGEINT/UBIGINT, or DECIMAL with >18
integer digits): DuckDB's SUM(BIGINT) returns HUGEINT and `//` keeps
it, so any milli/ratio expression must be wrapped in
CAST(... AS BIGINT). Value check + type lint together cover both
observed driver-failure classes (x302 values, x388/x389 types).

The connection pins TimeZone='UTC': Spark-written parquet timestamps
load as TIMESTAMPTZ and CAST(.. AS TIMESTAMP) renders in the session
zone, so on a non-UTC box the Spark side would shift off midnight
against the oracle's DATE side. Not part of the shipped library —
local iteration tooling only.

Every CTE of an oracle query runs AS MATERIALIZED (materialize_ctes;
the registry's oracle SQL is untouched). DuckDB 1.0 inlines CTEs, and
x160's chained label-propagation CTEs each reference the previous level
twice, so inlined the work doubles per level: the check spilled more
than 10 GB and did not finish. Materialized, it checks in seconds, and
no other query's result changes. Spill goes to a temp dir under /tmp,
capped at TEMP_CAP, so a runaway query fails instead of filling the
disk of the working directory.
"""
import json
import os
import re
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
TEMP_CAP = "5GB"

# A CTE head: `WITH [RECURSIVE] name [(cols)] AS (` or, after the previous
# CTE's closing paren, `, name [(cols)] AS (`.
CTE_HEAD = re.compile(
    r"(\bWITH\s+(?:RECURSIVE\s+)?|\)\s*,\s*)(\w+(?:\s*\([^()]*\))?\s+AS)\s*\(",
    re.IGNORECASE)


def materialize_ctes(sql):
    """`sql` with every CTE marked AS MATERIALIZED (see module doc)."""
    return CTE_HEAD.sub(r"\1\2 MATERIALIZED (", sql)


def cols_of(con, rel_sql):
    return [(r[0], r[1]) for r in
            con.execute(f"DESCRIBE {rel_sql}").fetchall()]


def varchar_sel(cols):
    # sorted column order mirrors the driver's sort-columns-by-name hash.
    # DATE and TIMESTAMP unify through TIMESTAMP before rendering: Spark's
    # date_trunc('day', ...) writes a midnight TIMESTAMP where the oracle
    # SQL produces a DATE — same value, different VARCHAR — and the
    # driver's hash treats them as equal (x134/x166-family are green in
    # every CORRECTNESS round). Everything else renders exactly: DECIMAL/
    # HUGEINT keep all digits, which is the point of this rewrite.
    parts = []
    for c, t in sorted(cols):
        if "TIMESTAMP" in t or t == "DATE":
            parts.append(f'CAST(CAST("{c}" AS TIMESTAMP) AS VARCHAR) AS "{c}"')
        else:
            parts.append(f'CAST("{c}" AS VARCHAR) AS "{c}"')
    return ", ".join(parts)


def wide_type_lint(cols):
    """Oracle output columns wider than int64 — the x388/x389 class.

    The driver's hash distinguishes representations even when values
    fit int64, so a HUGEINT (DuckDB SUM/`//` default) or wide-DECIMAL
    oracle column against Spark's BIGINT fails the driver while the
    VARCHAR value diff passes. Trip red here instead.
    """
    bad = []
    for c, t in cols:
        tu = t.upper()
        if any(w in tu for w in ("HUGEINT", "UHUGEINT", "UBIGINT")):
            bad.append((c, t))
        else:
            m = re.match(r"DECIMAL\((\d+),(\d+)\)", tu)
            if m and int(m.group(1)) - int(m.group(2)) > 18:
                bad.append((c, t))
    return bad


def type_diff(gcols, wcols):
    """Per-column DESCRIBE'd type diff between the Spark parquet side and
    the oracle side (r13 ADVICE #2): the wide-type lint only catches
    >int64 oracle columns, but the driver hash is representation-
    sensitive in BOTH directions — a NARROW mismatch (DuckDB INTEGER or
    DECIMAL(12,0) vs Spark BIGINT) renders identical VARCHAR here yet
    can fail the driver. The TIMESTAMP/DATE family deliberately unifies
    (varchar_sel renders both through TIMESTAMP; the x134/x166 family is
    driver-green across every CORRECTNESS round, so the driver hash
    treats them as equal).
    """
    def norm(t):
        tu = t.upper()
        if "TIMESTAMP" in tu or tu == "DATE":
            return "TS"
        return tu
    g = {c: norm(t) for c, t in gcols}
    w = {c: norm(t) for c, t in wcols}
    return [(c, g[c], w[c])
            for c in sorted(set(g) & set(w)) if g[c] != w[c]]


def check_one(con, name, sql, out_dir):
    got_rel = f"SELECT * FROM '{out_dir}/{name}/*.parquet'"
    gcols = cols_of(con, f"({got_rel})")
    try:
        wcols = cols_of(con, f"({sql})")
    except Exception as e:  # noqa: BLE001
        return f"FAIL {name}: oracle SQL error: {e}"
    wide = wide_type_lint(wcols)
    if wide:
        return (f"FAIL {name}: oracle type lint — columns wider than "
                f"int64 (driver hash is representation-sensitive): {wide}")
    gnames, wnames = [c for c, _ in gcols], [c for c, _ in wcols]
    if sorted(gnames) != sorted(wnames):
        return f"FAIL {name}: columns {sorted(gnames)} != {sorted(wnames)}"
    tdiff = type_diff(gcols, wcols)
    if tdiff:
        return (f"FAIL {name}: type diff spark-vs-oracle (driver hash is "
                f"representation-sensitive): {tdiff}")
    ng = con.execute(f"SELECT COUNT(*) FROM ({got_rel})").fetchone()[0]
    nw = con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0]
    if ng != nw:
        return f"FAIL {name}: rows {ng} != {nw}"
    sel_g, sel_w = varchar_sel(gcols), varchar_sel(wcols)
    extra = con.execute(
        f"SELECT {sel_g} FROM ({got_rel}) EXCEPT ALL "
        f"SELECT {sel_w} FROM ({sql})").fetchall()
    missing = con.execute(
        f"SELECT {sel_w} FROM ({sql}) EXCEPT ALL "
        f"SELECT {sel_g} FROM ({got_rel})").fetchall()
    if extra or missing:
        msg = f"FAIL {name}: value mismatch"
        for tag, rows in (("spark-only", extra), ("oracle-only", missing)):
            for r in rows[:2]:
                msg += f"\n  {tag} row: {r!r}"
        return msg
    return f"ok   {name} ({ng} rows)"


def main(sf_dir, out_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='/tmp/check_oracle_{os.getpid()}'")
    con.execute(f"SET max_temp_directory_size='{TEMP_CAP}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = n_skip = 0
    for name, sql in sorted(oracle.items()):
        if not os.path.isdir(f"{out_dir}/{name}"):
            n_skip += 1  # SPARK_GRAFT_ONLY run: query not materialized
            continue
        try:
            line = check_one(con, name, materialize_ctes(sql), out_dir)
        except Exception as e:  # noqa: BLE001
            line = f"FAIL {name}: {e}"
        print(line)
        if line.startswith("ok"):
            n_ok += 1
        else:
            n_bad += 1
    print(f"== {n_ok} ok, {n_bad} fail, {n_skip} skipped")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
