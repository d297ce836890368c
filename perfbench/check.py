"""Output checks of the benchmark, run after the timed passes.

Query items are compared with the DuckDB oracle (``SparkEntry.oracleSql``)
by the rules of ``tools/check_oracle.py``: the Spark result must have no
decimal or nested column, the same column names (sorted), the same type
kind per column, the same row count, and the same rows once both sides are
sorted by every column in name order. A timestamp outside the
``datetime64[ns]`` range fails. Floats match when equal or within
``FLOAT_REL_TOL``; integers compare by value, whatever their width.

The oracle is slow at sf0.1, so expected results are cached under
``.bench_build/oracle``, keyed by the SQL text and the generated tables.

MapReduce items are compared with what the corpus generator recorded while
writing the corpus: exact word counts, and the multiset of lines holding
the planted token. Native and pipe word count must also agree.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os

import duckdb

FLOAT_REL_TOL = 1e-9
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)

INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER", "UBIGINT"}


def duck_kind(t):
    """Type kind of a DuckDB column as the pandas frame of
    ``tools/check_oracle.py`` sees it: HUGEINT and DECIMAL arrive as
    float64 there."""
    t = str(t).upper()
    if t in INT_TYPES:
        return "i"
    if t in ("HUGEINT", "UHUGEINT", "FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        return "f"
    if t == "VARCHAR":
        return "s"
    if t == "BOOLEAN":
        return "b"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "t"
    return "x"


def _micros(v):
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    return (v - EPOCH.date()).days * 86_400_000_000


# the datetime64[ns] range, in microseconds since the epoch
NS_MIN = _micros(datetime.datetime(1677, 9, 22))
NS_MAX = _micros(datetime.datetime(2262, 4, 10))


def _canon(v, kind):
    if v is None:
        return None
    if kind == "t":
        return _micros(v)
    if kind == "f":
        return float(v)
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


class Oracle:
    def __init__(self, tables_dir, tables_key, cache_dir, tmp_dir):
        self.tables_dir = tables_dir
        self.tmp_dir = tmp_dir
        self.tables_key = tables_key
        self.cache_dir = cache_dir
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.execute("SET threads TO 2")
            self._con.execute(f"SET temp_directory = '{self.tmp_dir}'")
            for t in TABLES:
                p = os.path.join(self.tables_dir, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def expected(self, sql):
        """{"cols": [[name, kind]], "rows": [...]} for ``sql``, cached."""
        key = hashlib.sha256((sql + "\0" + self.tables_key).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        rel = self._connect().sql(sql.replace("__SF_DIR__", self.tables_dir))
        kinds = [duck_kind(t) for t in rel.types]
        rows = [[_canon(v, k) for v, k in zip(r, kinds)] for r in rel.fetchall()]
        res = {"cols": [[c, k] for c, k in zip(rel.columns, kinds)], "rows": rows}
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "w") as fh:
            json.dump(res, fh)
        os.replace(path + ".tmp", path)
        return res


def _sort_key(row):
    return tuple((1, 0) if v is None else (0, v) for v in row)


def _float(v):
    return float(v) if isinstance(v, str) else v


def _same(a, b, kind):
    if a is None or b is None:
        return a is None and b is None
    if kind == "f":
        a, b = _float(a), _float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or math.isclose(a, b, rel_tol=FLOAT_REL_TOL, abs_tol=1e-12)
    if kind == "i":
        return int(a) == int(b)
    return type(a) is type(b) and a == b


def compare(got, want):
    """None when the Spark result ``got`` matches ``want``, else the reason."""
    gcols, wcols = dict(got["cols"]), dict(want["cols"])
    bad = [(c, k) for c, k in gcols.items() if k in ("d", "x")]
    if bad:
        return f"decimal or nested column type(s) {bad}"
    names = sorted(gcols)
    if names != sorted(wcols):
        return f"columns {names} vs {sorted(wcols)}"
    kinds = [(c, gcols[c], wcols[c]) for c in names if gcols[c] != wcols[c]]
    if kinds:
        return f"type kinds diverge (spark vs oracle): {kinds}"
    gi = [[c for c, _ in got["cols"]].index(c) for c in names]
    wi = [[c for c, _ in want["cols"]].index(c) for c in names]
    g = sorted(([r[i] for i in gi] for r in got["rows"]), key=_sort_key)
    w = sorted(([r[i] for i in wi] for r in want["rows"]), key=_sort_key)
    if len(g) != len(w):
        return f"rows {len(g)} vs {len(w)}"
    ts = [j for j, c in enumerate(names) if gcols[c] == "t"]
    for r in g:
        if any(r[j] is not None and not NS_MIN <= r[j] <= NS_MAX for j in ts):
            return "timestamp outside the datetime64[ns] range"
    for n, (a, b) in enumerate(zip(g, w)):
        for j, c in enumerate(names):
            if not _same(a[j], b[j], gcols[c]):
                return f"row {n} column {c}: {a[j]!r} vs {b[j]!r}"
    return None


def read_parts(d):
    lines = []
    for f in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            lines += fh.read().splitlines()
    return lines


def word_counts(lines):
    out = {}
    for ln in lines:
        k, _, v = ln.partition("\t")
        if k in out or not v.isdigit():
            return None
        out[k] = int(v)
    return out


def check_mr_pass(out_dir, expected):
    """Failure reason per MapReduce job of one pass (None when correct)."""
    res, counts = {}, {}
    for job in ("wc", "wc_pipe"):
        d = os.path.join(out_dir, job)
        counts[job] = word_counts(read_parts(d)) if os.path.isdir(d) else None
        if counts[job] is None:
            res[job] = "missing or malformed output"
        elif counts[job] != expected["counts"]:
            diff = sorted(set(counts[job].items()) ^ set(expected["counts"].items()))[:3]
            res[job] = f"word counts differ from the generator's, e.g. {diff}"
        else:
            res[job] = None
    if counts["wc"] is not None and counts["wc"] != counts["wc_pipe"]:
        res["wc_pipe"] = res["wc_pipe"] or "native and pipe word count disagree"
    d = os.path.join(out_dir, "grep")
    got = sorted(read_parts(d)) if os.path.isdir(d) else None
    if got is None:
        res["grep"] = "missing output"
    elif got != sorted(expected["grep"]):
        res["grep"] = f"{len(got)} matched lines vs {len(expected['grep'])} planted"
    else:
        res["grep"] = None
    return res
