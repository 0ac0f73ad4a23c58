"""Correctness checks for perfbench runs, computed in DuckDB apart from graft.

Every check compares what graft produced with an expectation built without
graft code:
  * CDC workloads: the final table state (MOR, CoW, and every fingerprinted
    read under the delta backlog) equals a max-by-LSN reduction of the WAL
    files; lookups return exactly the reduction's rows for their keys; the
    derived token table equals token counts over the reduction; a
    re-delivered batch is skipped without a new snapshot; each ingest
    snapshot's LSN range equals its segment's.
  * operator_suite: each query's output equals its oracle SQL in DuckDB,
    compared as tools/compare_oracle.py does (column-name-sorted, row-sorted,
    floats rounded to 9 digits).
With perturb=True every check's expected value is altered slightly; each
check must then fail (the self-test asserts this).
"""
import glob
import math
import os

import duckdb

# expectation: last event per url by LSN; a final delete means absent
REDUCTION = """
CREATE TABLE final AS
SELECT w.url, w.lsn AS _lsn, w.text, w.lang, w.warc_ts, w.html
FROM wal w JOIN (SELECT url, max(lsn) AS m FROM wal GROUP BY url) x
  ON w.url = x.url AND w.lsn = x.m
WHERE w.op <> 'D'
"""
FINGERPRINT = """
SELECT count(*), sum(_lsn), sum((_lsn % 9973) * length(text)),
       sum(length(url) * (_lsn % 101)), sum(octet_length(html))
FROM final
"""
STATE_COLS = "url, _lsn, text, lang, warc_ts, html"


def _connect():
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _same_rows(con, expected_sql, got_sql):
    n_exp = con.execute(f"SELECT count(*) FROM ({expected_sql})").fetchone()[0]
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM ({expected_sql} EXCEPT ALL {got_sql})").fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM ({got_sql} EXCEPT ALL {expected_sql})").fetchone()[0]
    ok = n_exp == n_got and missing == 0 and extra == 0
    return ok, f"rows {n_got} vs {n_exp}, missing {missing}, extra {extra}"


def cdc(c, perturb):
    con = _connect()
    con.execute(f"CREATE VIEW wal AS SELECT * FROM read_parquet('{c['wal_glob']}')")
    con.execute(REDUCTION)
    if perturb:  # the expected state of one url moves to another LSN
        con.execute("UPDATE final SET _lsn = _lsn + 1 "
                    "WHERE url = (SELECT min(url) FROM final)")
    out = []
    for name, path in c["states"].items():
        out.append((f"state_{name}",) + _same_rows(
            con, f"SELECT {STATE_COLS} FROM final",
            f"SELECT {STATE_COLS} FROM read_parquet('{path}/*.parquet')"))
    if "fingerprints" in c:
        want = [int(v) for v in con.execute(FINGERPRINT).fetchone()]
        bad = [f for f in c["fingerprints"] if [int(v) for v in f[1:]] != want]
        out.append(("fingerprints", not bad and bool(c["fingerprints"]),
                    f"{len(c['fingerprints'])} reads, {len(bad)} differ"))
    if "lookups" in c:
        bad = 0
        for i, lk in enumerate(c["lookups"]):
            keys = ", ".join("'" + k.replace("'", "''") + "'" for k in lk["keys"])
            want = set(con.execute(
                f"SELECT url, _lsn FROM final WHERE url IN ({keys})").fetchall())
            if perturb and i == 0:
                want = {(u, l + 1) for u, l in want} or {("absent", 0)}
            bad += want != {(u, l) for u, l in lk["rows"]}
        out.append(("lookups", bad == 0 and bool(c["lookups"]),
                    f"{len(c['lookups'])} lookups, {bad} differ"))
    if "tokens_dir" in c:
        bump = " + 1" if perturb else ""
        out.append(("derived_tokens",) + _same_rows(
            con,
            "SELECT url, CAST(len(string_split(text, ' ')) AS BIGINT)"
            f" + CASE WHEN url = (SELECT min(url) FROM final) THEN 0{bump} ELSE 0 END"
            " AS n_tok FROM final",
            f"SELECT url, n_tok FROM read_parquet('{c['tokens_dir']}/*.parquet')"))
    r = c["redeliver"]
    grow = 1 if perturb else 0
    out.append(("redeliver_skipped",
                r["skipped"] and r["snapshots_after"] == r["snapshots_before"] + grow
                and r["current_after"] == r["current_before"],
                f"batch {r['batch_id']} skipped={r['skipped']} snapshots "
                f"{r['snapshots_before']}->{r['snapshots_after']}"))
    # segment k is the batch with id k
    ranges = {k: con.execute(f"SELECT min(lsn), max(lsn) FROM read_parquet('{p}')"
                             ).fetchone() for k, p in enumerate(c["segments"])}
    snaps = c["ingest_snapshots"]
    shift = 1 if perturb else 0
    bad = [s["batch_id"] for s in snaps
           if ranges.get(s["batch_id"]) != (s["lsn_min"] + shift, s["lsn_max"])]
    out.append(("snapshot_lsn_ranges", not bad and bool(snaps),
                f"{len(snaps)} ingest snapshots, {len(bad)} differ"))
    return out


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    return v


def _perturbed(rows, ncols):
    """The same rows with the first non-null value of the first row moved;
    one made-up row when there are none."""
    if not rows:
        return [("absent",) * ncols]
    first = list(rows[0])
    for i, v in enumerate(first):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            first[i] = v + 1
            break
        if isinstance(v, str):
            first[i] = v + "x"
            break
    else:
        return rows[1:]
    return [tuple(first)] + rows[1:]


def suite(s, perturb):
    con = _connect()
    for p in glob.glob(os.path.join(s["data_dir"], "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}')")
    out = []
    for q, sql in sorted(s["oracle_sql"].items()):
        rdir = os.path.join(s["result_dir"], q)
        try:
            want = con.sql(sql)
            want_cols = [c.lower() for c in want.columns]
            want_rows = con.sql(
                f"SELECT * FROM ({sql.rstrip().rstrip(';')})").fetchall()
            got = con.sql(f"SELECT * FROM read_parquet('{rdir}/*.parquet')")
            got_cols = [c.lower() for c in got.columns]
            got_rows = got.fetchall()
        except Exception as e:  # noqa: BLE001 - reported as a failed check
            out.append((f"oracle_{q}", False, str(e).splitlines()[0][:200]))
            continue
        if perturb:
            want_rows = _perturbed(want_rows, len(want_cols))
        if sorted(want_cols) != sorted(got_cols):
            out.append((f"oracle_{q}", False, f"cols {got_cols} != {want_cols}"))
            continue
        cols = sorted(want_cols)
        wi = [want_cols.index(c) for c in cols]
        gi = [got_cols.index(c) for c in cols]
        key = lambda row: tuple((v is None, str(v)) for v in row)  # noqa: E731
        w = sorted((tuple(_norm(r[i]) for i in wi) for r in want_rows), key=key)
        g = sorted((tuple(_norm(r[i]) for i in gi) for r in got_rows), key=key)
        out.append((f"oracle_{q}", w == g, f"{len(g)} rows vs {len(w)}"))
    return out


def run_all(res, perturb=False):
    """List of (check name, passed, detail) for one run's result document."""
    ck = res["checks"]
    out = []
    if "cdc" in ck:
        out += cdc(ck["cdc"], perturb)
    if "suite" in ck:
        out += suite(ck["suite"], perturb)
    return out
