#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate: for each Verify output
parquet, run the corresponding oracle SQL in DuckDB over the same testdata
parquet tables and compare (columns sorted by name, exact value compare).

Usage: check_oracle.py <verify_out_dir> <sf_dir> [--staged] [names...]

--staged runs every oracle through the CTE stager (below); with names given,
only those queries are checked. In default mode a query whose monolithic SQL
fails (DuckDB out-of-temp-disk at big SFs — the round-16 sf10 gate lost 5
mirrors this way) is automatically retried staged.

Staging: the oracle SQL is a single WITH-chain by contract. The stager
materializes each top-level CTE as a TEMP TABLE in order — so a CTE
referenced N times is computed once, and each intermediate spills or frees
independently instead of one monolithic pipeline holding every hash table at
once. Staging stops at the first self-referencing (recursive) CTE: it and
everything after it stay a WITH-prefix on the final SELECT (a recursive CTE
cannot be a temp table, and later CTEs may reference it). Environment:
DUCKDB_MEM / DUCKDB_TMP set memory_limit / temp_directory for big runs.

Driver-side tooling only (duckdb/pandas/pyarrow are not available to the
Scala library) — this script exists so the builder can self-check before the
driver runs the real gate.
"""
import json, re, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def strip_comments(sql):
    """Remove SQL comments (-- to end-of-line, NESTED /* */ as DuckDB and
    Postgres define them) outside string literals AND double-quoted
    identifiers, quote-aware ('' and "" escapes). The paren/quote scanner
    in split_ctes is NOT comment-aware — a comment containing an
    unbalanced paren or apostrophe would desynchronize it and stage wrong
    SQL — so comments are stripped up front. DuckDB block comments NEST
    (/* a /* b */ c */ is ONE comment), and a `--` inside a quoted
    identifier is part of the name, so both are tracked here; getting
    either wrong would desynchronize the scanner in exactly the way this
    function exists to prevent. A line comment is replaced by nothing
    (its newline survives as the separator); a block comment by one
    space."""
    out, i, n, in_sq, in_dq = [], 0, len(sql), False, False
    while i < n:
        c = sql[i]
        if in_sq:
            out.append(c)
            if c == "'":
                if i + 1 < n and sql[i + 1] == "'":
                    out.append("'")
                    i += 1
                else:
                    in_sq = False
            i += 1
        elif in_dq:
            out.append(c)
            if c == '"':
                if i + 1 < n and sql[i + 1] == '"':
                    out.append('"')
                    i += 1
                else:
                    in_dq = False
            i += 1
        elif c == "'":
            in_sq = True
            out.append(c)
            i += 1
        elif c == '"':
            in_dq = True
            out.append(c)
            i += 1
        elif c == '-' and i + 1 < n and sql[i + 1] == '-':
            j = sql.find('\n', i)
            i = n if j < 0 else j
        elif c == '/' and i + 1 < n and sql[i + 1] == '*':
            depth, i = 1, i + 2
            while i < n and depth:
                if sql.startswith('/*', i):
                    depth += 1
                    i += 2
                elif sql.startswith('*/', i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
            out.append(' ')
        else:
            out.append(c)
            i += 1
    return ''.join(out)

def split_ctes(sql):
    """Parse `WITH [RECURSIVE] n1 AS (...), n2(cols) AS (...) <final>` into
    (recursive, [(name, collist_or_None, body), ...], final). Returns None
    when the SQL is not a plain top-level WITH-chain. Quote- and
    paren-aware: parens inside a '…' string or a "…" identifier do not
    count, and '' / "" escape the quote inside them. Comments are stripped
    first (see strip_comments) — the staged SQL therefore runs
    comment-free, which is semantics-preserving."""
    s = strip_comments(sql).lstrip()
    m = re.match(r'(?is)^WITH\s+(RECURSIVE\s+)?', s)
    if not m:
        return None
    recursive = bool(m.group(1))
    i = m.end()
    ctes = []
    while True:
        mm = re.match(r'\s*("?[A-Za-z_][A-Za-z0-9_]*"?)\s*(\([^()]*\))?\s+AS\s*\(',
                      s[i:], re.I | re.S)
        if not mm:
            return None
        name, cols = mm.group(1), mm.group(2)
        j = i + mm.end()
        depth, k, n, quote = 1, i + mm.end(), len(s), None
        while k < n and depth:
            c = s[k]
            if quote:
                if c == quote:
                    if k + 1 < n and s[k + 1] == quote:
                        k += 1
                    else:
                        quote = None
            elif c in "'\"":
                quote = c
            elif c == '(':
                depth += 1
            elif c == ')':
                depth -= 1
            k += 1
        if depth:
            return None
        ctes.append((name, cols, s[j:k - 1]))
        mm2 = re.match(r'\s*,', s[k:])
        if mm2:
            i = k + mm2.end()
        else:
            return recursive, ctes, s[k:].lstrip()

def run_staged(make_con, sql):
    """Execute a WITH-chain oracle with each stageable CTE materialized as a
    TEMP TABLE on a FRESH connection (temp tables are per-connection, so
    queries never see each other's). Returns the final DataFrame, or None
    when the SQL isn't a stageable WITH-chain."""
    parsed = split_ctes(sql)
    if not parsed:
        return None
    recursive, ctes, final = parsed
    con = make_con()
    rest = []
    for name, cols, body in ctes:
        selfref = recursive and re.search(r'\b%s\b' % re.escape(name.strip('"')), body)
        if rest or selfref:
            rest.append((name, cols, body))  # recursive tail stays a WITH-prefix
        elif cols:  # rename via a derived-table alias when a column list rides the CTE
            con.execute('CREATE TEMP TABLE %s AS SELECT * FROM (%s) _t%s' % (name, body, cols))
        else:
            con.execute('CREATE TEMP TABLE %s AS %s' % (name, body))
    if rest:
        prefix = 'WITH RECURSIVE ' if recursive else 'WITH '
        final = (prefix
                 + ', '.join('%s%s AS (%s)' % (n, c or '', b) for n, c, b in rest)
                 + ' ' + final)
    return con.execute(final).df()

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes for comparison
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.reset_index(drop=True)

def connect(sf_dir):
    """A fresh DuckDB connection with one view per testdata table found in
    `sf_dir`, under the DUCKDB_* settings named above."""
    c = duckdb.connect()
    if os.environ.get("DUCKDB_MEM"):
        c.execute(f"SET memory_limit='{os.environ['DUCKDB_MEM']}'")
    if os.environ.get("DUCKDB_TMP"):
        c.execute(f"SET temp_directory='{os.environ['DUCKDB_TMP']}'")
    if os.environ.get("DUCKDB_THREADS"):
        c.execute(f"SET threads={int(os.environ['DUCKDB_THREADS'])}")
    if os.environ.get("DUCKDB_NO_ORDER"):
        # safe for the oracle contract: every oracle's FINAL select has
        # a deterministic ORDER BY, which still applies; this only
        # releases insertion-order guarantees inside joins/aggregates
        # (a large spill-pressure win on the temp-disk-bound mirrors)
        c.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return c

def unmirrored(out_dir, oracle):
    """The Verify output directories (one per query) with no oracle entry."""
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)) and d not in oracle)

def main(out_dir: str, sf_dir: str, staged_all: bool = False, only=()) -> int:
    def make_con():
        return connect(sf_dir)
    con = make_con()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in unmirrored(out_dir, oracle):
        if only and name not in only:
            continue
        print(f"FAIL {name}: spark output with no oracle entry")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        qdir = f"{out_dir}/{name}"
        parts = sorted(glob.glob(f"{qdir}/*.parquet"))
        if not parts:
            print(f"FAIL {name}: no spark output at {qdir}")
            n_fail += 1
            continue
        try:
            spark_df = norm(pd.concat([pd.read_parquet(p) for p in parts]))
            if staged_all:
                duck = run_staged(make_con, sql)
                if duck is None:  # not a WITH-chain: nothing to stage
                    duck = con.execute(sql).df()
                else:
                    name = f"{name} [staged]"
                duck_df = norm(duck)
            else:
                try:
                    duck_df = norm(con.execute(sql).df())
                except Exception as e1:
                    duck = run_staged(make_con, sql)  # out-of-temp-disk retry
                    if duck is None:
                        raise e1
                    print(f"  ({name}: monolithic oracle failed [{e1}]; staged retry)")
                    duck_df = norm(duck)
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns spark={list(spark_df.columns)} duck={list(duck_df.columns)}")
            n_fail += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows spark={len(spark_df)} duck={len(duck_df)}")
            n_fail += 1
            continue
        if spark_df.equals(duck_df):
            print(f"PASS {name} ({len(spark_df)} rows)")
            n_pass += 1
        else:
            neq = (spark_df != duck_df) & ~(spark_df.isna() & duck_df.isna())
            bad = neq.any(axis=1)
            print(f"FAIL {name}: {int(bad.sum())}/{len(spark_df)} rows differ; first diffs:")
            for i in spark_df.index[bad][:3]:
                cols = [c for c in spark_df.columns if neq.at[i, c]]
                for c in cols[:4]:
                    print(f"   row {i} col {c}: spark={spark_df.at[i, c]!r} duck={duck_df.at[i, c]!r}")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    args = sys.argv[3:]
    staged = "--staged" in args
    names = tuple(a for a in args if a != "--staged")
    sys.exit(main(sys.argv[1], sys.argv[2], staged_all=staged, only=names))
