"""Turn recording runs into the benchmark's expected outputs.

  python3 perfbench/run.py --record OUT1      # one JVM per recording
  python3 perfbench/run.py --record OUT2
  python3 perfbench/record.py OUT1 OUT2

writes `expected/sweep.json` (every registry query) and
`expected/dashboard.json` (every dashboard panel and grid page). An output
whose hash differs between or within recordings is marked unstable and is
checked by row count only. A query's reference time `ref_ms` is the median
of its recorded warm noop times.

Every query with an oracle is also cross-checked once against its DuckDB
oracle SQL on the benchmark fixture, with the repository's correctness rule
(same column names, same row count, same hash of the canonical rows). A
query whose Spark output disagrees with its oracle is recorded as
`"oracle": "fail: ..."`: a known defect, which counts as a failed operation
in every run that executes it.
"""
import glob
import hashlib
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else f"{v:.9g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for ln in sorted("\x01".join(canon(r[i]) for i in order) for r in rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_verdicts(rec_dir, fixture):
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    with open(os.path.join(rec_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(rec_dir, "results", name, "*.parquet"))
        if not files:
            out[name] = "fail: no spark result"
            continue
        t = pq.read_table(files[0])
        s_rows = [tuple(d[c] for c in t.column_names) for d in t.to_pylist()]
        try:
            res = con.execute(sql)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            out[name] = f"fail: duckdb error: {str(e)[:200]}"
            continue
        if sorted(t.column_names) != sorted(d_cols):
            out[name] = f"fail: columns {sorted(t.column_names)} vs {sorted(d_cols)}"
        elif len(s_rows) != len(d_rows):
            out[name] = f"fail: rows spark={len(s_rows)} duckdb={len(d_rows)}"
        elif table_hash(t.column_names, s_rows) != table_hash(d_cols, d_rows):
            out[name] = f"fail: hash mismatch ({len(s_rows)} rows)"
        else:
            out[name] = "pass"
    return out


def merge(raws):
    """One expectation per key across recordings."""
    merged = {}
    for key in sorted(set().union(*raws)):
        seen = [r[key] for r in raws if key in r]
        e = dict(seen[0])
        e["stable"] = (len(seen) == len(raws) and all(s["stable"] for s in seen)
                       and len({s["hash"] for s in seen}) == 1
                       and len({s["rows"] for s in seen}) == 1)
        if "ref_ms" in e:
            e["ref_ms"] = round(statistics.median(s["ref_ms"] for s in seen), 3)
        merged[key] = e
    return merged


def main(dirs):
    fixture = build.fixture()
    load = lambda d, f: json.load(open(os.path.join(d, f)))
    sweep = merge([load(d, "sweep_raw.json") for d in dirs])
    dash = merge([load(d, "dashboard_raw.json") for d in dirs])
    verdicts = oracle_verdicts(dirs[0], fixture)
    for name, e in sweep.items():
        e["oracle"] = verdicts.get(name, "none")
    note = ("Expected outputs on the benchmark fixture (perfbench/fixture.py, "
            f"{os.path.basename(fixture)}), from {len(dirs)} recording runs.")
    out = os.path.join(build.HERE, "expected")
    os.makedirs(out, exist_ok=True)
    for fname, outputs in (("sweep.json", sweep), ("dashboard.json", dash)):
        with open(os.path.join(out, fname), "w") as f:
            json.dump({"note": note, "outputs": outputs}, f, indent=1, sort_keys=True)
            f.write("\n")
    fails = {k: v for k, v in verdicts.items() if v != "pass"}
    print(json.dumps({"queries": len(sweep), "with_oracle": len(verdicts),
                      "oracle_pass": len(verdicts) - len(fails), "oracle_fail": fails,
                      "unstable": sorted(k for k, e in {**sweep, **dash}.items()
                                         if not e["stable"])}, indent=1))


if __name__ == "__main__":
    main(sys.argv[1:])
