"""Oracle check: each query's Spark result against DuckDB running the query's
`SparkEntry.oracleSql` over the same parquet fixtures.

The comparison rules are those of the repo's tools/check_oracle.py, whose
table list and value and type normalisation are imported from it: the same
column names, the same types up to timestamp unit and string width, no
DECIMAL columns, and the same multiset of rows after sorting, with floats
rounded to 9 digits. Expected results are cached in `.oracle_cache/` under a
key made of the oracle SQL text and the fixture bytes, so a changed oracle
or fixture is recomputed; `run.py --rebuild-oracle-cache` recomputes all.
DuckDB runs only after the Spark JVM has exited, with a memory limit and a
spill directory.
"""
import hashlib
import sys
from dataclasses import dataclass
from pathlib import Path

import duckdb
import pyarrow.feather as feather
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave no __pycache__ in the repo's tools/
sys.path.insert(0, str(HERE.parent / "tools"))
from check_oracle import TABLES, norm, norm_type  # noqa: E402

CACHE = HERE / ".oracle_cache"
MEMORY_LIMIT = "3GB"


@dataclass
class Check:
    name: str
    ok: bool
    detail: str
    missing: bool = False  # no result: the execution failed, nothing to judge


def fixture_digest(data):
    h = hashlib.sha256()
    for t in TABLES:
        h.update(t.encode() + b"\0" + (Path(data) / f"{t}.parquet").read_bytes())
    return h.hexdigest()


def connect(data, tmp, cores):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                 "temp_directory": str(tmp),
                                 "threads": str(cores)})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def compare(got, exp):
    """Returns None when the tables match, else what differs."""
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns {gcols} != {ecols}"
    for c in gcols:
        gt, et = norm_type(got.schema.field(c).type), norm_type(exp.schema.field(c).type)
        if gt != et:
            return f"type of {c}: {gt} != {et}"
        if "decimal" in gt or "decimal" in et:
            return f"DECIMAL column {c}"
    rows = [sorted((tuple(norm(r[c]) for c in gcols) for r in t.to_pylist()), key=repr)
            for t in (got, exp)]
    if rows[0] == rows[1]:
        return None
    for i, (g, e) in enumerate(zip(*rows)):
        if g != e:
            return f"row {i}: got {g} expected {e}"
    return f"{len(rows[0])} rows, expected {len(rows[1])}"


class Expected:
    def __init__(self, data, tmp, cores):
        self.data, self.tmp, self.cores = data, tmp, cores
        self.digest = fixture_digest(data)
        self.con = None

    def path(self, sql):
        key = hashlib.sha256(f"{sql}\0{self.digest}".encode()).hexdigest()
        return CACHE / f"{key}.arrow"

    def compute(self, sql):
        if self.con is None:
            self.con = connect(self.data, self.tmp, self.cores)
        table = self.con.execute(sql).fetch_arrow_table()
        CACHE.mkdir(exist_ok=True)
        p = self.path(sql)
        part = p.with_suffix(".part")
        feather.write_feather(table, part, compression="uncompressed")
        part.replace(p)
        return table

    def get(self, sql):
        p = self.path(sql)
        return feather.read_table(p) if p.is_file() else self.compute(sql)


def check_all(oracle_sql, results, data, tmp, cores):
    expected = Expected(data, tmp, cores)
    checks = []
    for name, sql in sorted(oracle_sql.items()):
        if not sql:
            checks.append(Check(name, False, "no oracle SQL"))
            continue
        try:
            got = pq.read_table(Path(results) / name)
        except Exception as e:  # the cold-pass execution failed
            checks.append(Check(name, False, f"no result ({e})", missing=True))
            continue
        try:
            diff = compare(got, expected.get(sql))
        except Exception as e:
            checks.append(Check(name, False, f"oracle error: {e}"))
            continue
        checks.append(Check(name, diff is None, diff or f"{got.num_rows} rows"))
    return checks


def rebuild(oracle_sql, data, tmp, cores):
    expected = Expected(data, tmp, cores)
    for name, sql in sorted(oracle_sql.items()):
        expected.compute(sql)
        print(f"[perfbench] cached oracle result of {name}", flush=True)

