"""How closely the generated `warehouse` tables match the sf0.1 fixture.

    python3 perfbench/fixture_match.py <sf0.1 fixture dir> [seed ...]

The benchmark reads nothing outside its checkout, so `warehouse` runs on
tables `gen.warehouse` draws from the seed instead of on the fixture.
This script generates the tables of each seed (default 1 and 1009) into
a temporary directory and prints, as a markdown table, statistics of the
fixture beside the generated ones: row counts, per-column distinct
counts, ranges, means and spreads, category shares, and the joint shapes
the mix's joins, windows and as-of lookups depend on (lines per order,
orders per customer, ship-to-order lag, event gaps, events per user).
The last column is the largest relative difference over the seeds.
"""
import statistics
import sys
import tempfile
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent))
import gen  # noqa: E402

TABLES = ("customer", "supplier", "part", "orders", "lineitem", "events")

JOINT = {
    "lines per order: mean": "SELECT avg(c) FROM (SELECT count(*) c "
    "FROM lineitem GROUP BY l_orderkey)",
    "lines per order: sd": "SELECT stddev(c) FROM (SELECT count(*) c "
    "FROM lineitem GROUP BY l_orderkey)",
    "orders per customer: sd": "SELECT stddev(c) FROM (SELECT count(*) c "
    "FROM orders GROUP BY o_custkey)",
    "events per user: sd": "SELECT stddev(c) FROM (SELECT count(*) c "
    "FROM events GROUP BY user_id)",
    "ship - order days: mean": "SELECT avg(date_diff('day', o_orderdate, "
    "l_shipdate)) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "ship - order days: sd": "SELECT stddev(date_diff('day', o_orderdate, "
    "l_shipdate)) FROM lineitem JOIN orders ON l_orderkey = o_orderkey",
    "event gap s: mean": "SELECT avg(g) FROM (SELECT epoch(ts) - "
    "epoch(lag(ts) OVER (ORDER BY ts)) g FROM events)",
    "event gap s: sd": "SELECT stddev(g) FROM (SELECT epoch(ts) - "
    "epoch(lag(ts) OVER (ORDER BY ts)) g FROM events)",
    "duplicate (order, line number) pairs": "SELECT count(*) FROM (SELECT "
    "l_orderkey, l_linenumber FROM lineitem GROUP BY 1, 2 "
    "HAVING count(*) > 1)",
}


def stats(d: str) -> dict:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    out = {}
    for t in TABLES:
        out[f"{t}: rows"] = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
        for c, ty, *_ in con.execute(f"DESCRIBE {t}").fetchall():
            out[f"{t}.{c}: distinct"] = con.execute(
                f"SELECT count(DISTINCT {c}) FROM {t}").fetchone()[0]
            if ty == "VARCHAR":
                out[f"{t}.{c}: top share"] = con.execute(
                    f"SELECT max(n) / sum(n) FROM (SELECT count(*) n FROM {t} "
                    f"GROUP BY {c})").fetchone()[0]
                continue
            x = f"epoch({c})" if ty.startswith("TIMESTAMP") else c
            lo, hi, mean, sd = con.execute(
                f"SELECT min({x}), max({x}), avg({x}), stddev({x}) "
                f"FROM {t}").fetchone()
            out.update({f"{t}.{c}: min": lo, f"{t}.{c}: max": hi,
                        f"{t}.{c}: mean": mean, f"{t}.{c}: sd": sd})
    for k, sql in JOINT.items():
        out[k] = con.execute(sql).fetchone()[0]
    return out


def rel(a: float, b: float) -> float:
    return abs(b - a) / abs(a) if a else float(b != a)


def main() -> int:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    fixture = stats(sys.argv[1])
    seeds = [int(s) for s in sys.argv[2:]] or [1, 1009]
    generated = []
    for s in seeds:
        with tempfile.TemporaryDirectory() as d:
            gen.warehouse(d, s)
            generated.append(stats(d))
    print("| statistic | fixture | " +
          " | ".join(f"seed {s}" for s in seeds) + " | max rel. diff |")
    print("|---|---" + "|---" * len(seeds) + "|---|")
    diffs = []
    for k, v in fixture.items():
        g = [float(x[k]) for x in generated]
        d = max(rel(float(v), x) for x in g)
        diffs.append(d)
        print(f"| {k} | {float(v):.6g} | " +
              " | ".join(f"{x:.6g}" for x in g) + f" | {d:.4f} |")
    print(f"\n{len(diffs)} statistics; relative difference median "
          f"{statistics.median(diffs):.4f}, max {max(diffs):.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
