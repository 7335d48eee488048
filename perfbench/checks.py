"""Output checks for the benchmark.

Each registry query's output (a parquet dump written outside the timed
window) is compared with its DuckDB oracle under the rules of
`tools/check.py`, whose row canonicalization and cell comparison it reuses:
columns sorted by name, rows sorted by their string form, integer widths
treated alike, cells compared exactly. An export is checked for one row per
synthetic creator in both artifacts, and for the twelve flagship columns of
the `ig_report_synth` oracle.
"""
import csv
import glob
import hashlib
import os
import pickle
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))
from check import canon, cells_equal  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}

FLAGSHIP = ["username", "follower_count", "creator_size", "gender",
            "ig_account_type", "creator_type", "tier",
            "total_posts_last_3_months", "average_engagement_rate",
            "collaboration_status", "total_collaborations",
            "posts_analyzed_for_hashtags"]


def type_class(t):
    return "int64ish" if t in INT_TYPES else t


class Checker:
    """Compares dumps against oracles. Oracle results depend only on the
    oracle SQL and the input files, so they are cached under `cache_dir`
    keyed by both."""

    def __init__(self, data_dir, cache_dir):
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        inventory = []
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
                st = os.stat(p)
                inventory.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
        self.inventory = "|".join(inventory)

    def oracle(self, sql):
        key = hashlib.sha256((self.inventory + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        types = {r[0]: r[1] for r in self.con.execute(f"DESCRIBE {sql}").fetchall()}
        got = (cols, rows, types)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(got, f)
        os.replace(tmp, path)
        return got

    def compare(self, ocols, orows, otypes, scols, srows, stypes):
        """Returns None when equal, else a one-line reason."""
        oc, orr = canon(orows, ocols)
        sc, srr = canon(srows, scols)
        if oc != sc:
            return f"schema mismatch spark={sc} oracle={oc}"
        if stypes is not None:
            for c in oc:
                if type_class(otypes.get(c)) != type_class(stypes.get(c)):
                    return f"type of {c}: oracle={otypes.get(c)} spark={stypes.get(c)}"
        if len(orr) != len(srr):
            return f"rowcount spark={len(srr)} oracle={len(orr)}"
        for i, (ro, rs) in enumerate(zip(orr, srr)):
            for j, (a, b) in enumerate(zip(ro, rs)):
                if not cells_equal(a, b):
                    return f"row {i} col {oc[j]}: oracle={a!r} spark={b!r}"
        return None

    def check_query(self, check_dir, name):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not files:
            return "no output written"
        with open(os.path.join(check_dir, f"{name}.sql")) as f:
            sql = f.read()
        try:
            ocols, orows, otypes = self.oracle(sql)
        except duckdb.Error as e:
            return f"oracle error: {e}"
        res = self.con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols = [d[0] for d in res.description]
        srows = res.fetchall()
        stypes = {r[0]: r[1] for r in self.con.execute(
            f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()}
        return self.compare(ocols, orows, otypes, scols, srows, stypes)

    def check_export(self, export_dir, report_sql):
        """The analyzed JSON lines and the CSV of one export."""
        n_creators = self.con.execute("SELECT count(*) FROM customer").fetchone()[0]
        jsonl = glob.glob(os.path.join(export_dir, "jsonl", "creators", "*.json"))
        csvs = glob.glob(os.path.join(export_dir, "csv", "*.csv"))
        if not jsonl or not csvs:
            return "export artifacts missing"
        ocols, orows, otypes = self.oracle(report_sql)
        res = self.con.execute(
            f"SELECT {', '.join(FLAGSHIP)} FROM read_json_auto({jsonl!r}, format='newline_delimited')")
        jcols = [d[0] for d in res.description]
        jrows = res.fetchall()
        if len(jrows) != n_creators:
            return f"jsonl has {len(jrows)} rows for {n_creators} creators"
        why = self.compare(ocols, orows, otypes, jcols, jrows, None)
        if why:
            return f"jsonl: {why}"
        csv_rows = []
        for p in sorted(csvs):
            with open(p, newline="", encoding="utf-8") as f:
                csv_rows.extend(csv.DictReader(f))
        if len(csv_rows) != n_creators:
            return f"csv has {len(csv_rows)} rows for {n_creators} creators"
        # CSV cells are text: compare each flagship column the CSV carries
        # against the oracle value in Spark's string form
        by_user = {r[ocols.index("username")]: r for r in orows}
        for row in csv_rows:
            want = by_user.get(row.get("username"))
            if want is None:
                return f"csv: creator {row.get('username')!r} not in the oracle"
            for c in FLAGSHIP:
                if c not in row:
                    continue
                v = want[ocols.index(c)]
                if not csv_cell_equal(row[c], v):
                    return f"csv: {row['username']} col {c}: oracle={v!r} csv={row[c]!r}"
        return None


def csv_cell_equal(cell, value):
    if value is None:
        return cell == ""
    if isinstance(value, bool):
        return cell == ("True" if value else "False")
    if isinstance(value, float):
        try:
            return float(cell) == value
        except ValueError:
            return False
    return cell == str(value)
