"""Records the oracle digests the correctness gate checks against.

    python3 perfbench/oracle.py        # from the repository root

For every query the workloads run, it takes graft's own oracle SQL
(SparkEntry.oracleSql), runs it in DuckDB over the benchmark's parquet
files, and stores the row count and the digest of DuckDB's answer in
oracle/sf0.001.json. The digest's canonical form is the one
Digest.scala computes over Spark's rows. Rerun only when an oracle's SQL
or the data changes; the benchmark itself never runs DuckDB.
"""
import datetime
import decimal
import hashlib
import json
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def _decimal(d: decimal.Decimal) -> str:
    s = format(d.quantize(decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_EVEN), "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return "0" if s == "-0" else s


def cell(v) -> str:
    """Canonical text of one value; mirrors Digest.cell."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "inf" if v > 0 else "-inf"
        return _decimal(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _decimal(v)
    if isinstance(v, datetime.datetime):
        t = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
        delta = t - EPOCH
        return str((delta.days * 86400 + delta.seconds) * 1000000 + delta.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def digest(columns, rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order).encode("utf-8") for r in rows)
    h = hashlib.sha256("\x1f".join(columns[i] for i in order).encode("utf-8"))
    for line in lines:
        h.update(b"\x1e" + line)
    return {"rows": len(rows), "sha256": h.hexdigest()}


def main() -> int:
    import duckdb

    root = Path.cwd().resolve()
    classes, _ = build.build(root)
    listing = build.build_dir(root) / "oracle_sql.json"
    done = run.jvm(root, classes, ["--list-oracle", str(listing)])
    if done.returncode != 0:
        sys.stderr.write(done.stderr[-4000:])
        return 1
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{run.DATA / (t + '.parquet')}')")
    digests = {}
    for name, sql in sorted(json.loads(listing.read_text()).items()):
        cur = con.execute(sql)
        digests[name] = digest([d[0] for d in cur.description], cur.fetchall())
        print(f"{name}: {digests[name]['rows']} rows", file=sys.stderr)
    out = {"data": run.DATA.name, "engine": f"duckdb {duckdb.__version__}", "digests": digests}
    run.ORACLE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
