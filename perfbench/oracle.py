"""Output check against the DuckDB oracle.

The harness fingerprints each query's output inside the timed
materialization (row count plus per-column aggregates, see
`Fingerprint` in Harness.scala). This module computes the same aggregates
over the rows of the query's oracle SQL (`SparkEntry.oracleSql`), run by
DuckDB on the same generated tables, and compares them.
"""
import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
_con = {}


def _connect(data):
    if data not in _con:
        con = duckdb.connect()
        con.execute("SET threads=4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        _con[data] = con
    return _con[data]


def expected_days(data):
    """The days of January 2024 that have events, as YYYY-MM-DD."""
    rows = _connect(data).execute(
        "SELECT DISTINCT strftime(ts, '%Y-%m-%d') FROM events "
        "WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01' ORDER BY 1").fetchall()
    return [r[0] for r in rows]


def _aggs(i, name, kind):
    c = '"' + name.replace('"', '""') + '"'
    out = [f"count({c}) AS c{i}_nn"]
    if kind == "num":
        out += [f"sum({c}::DOUBLE) AS c{i}_sum", f"sum(abs({c}::DOUBLE)) AS c{i}_abs"]
    elif kind == "str":
        out.append(f"sum(length({c})) AS c{i}_len")
    elif kind == "bool":
        out.append(f"sum({c}::INTEGER) AS c{i}_true")
    elif kind == "time":
        out.append(f"sum(year({c})) AS c{i}_year")
    elif kind == "arr":
        out.append(f"sum(coalesce(len({c}), 0)) AS c{i}_size")
    return out


def _close(a, b, scale):
    return abs(a - b) <= 1e-9 * max(1.0, abs(scale)) + 1e-6


def compare(data, sql, fp):
    """None when the fingerprint `fp` matches the oracle's rows, else a
    one-line reason. Queries without oracle SQL must return rows."""
    values = fp["values"]
    if sql is None:
        return None if int(values["n"]) > 0 else "no rows (rows-only check)"
    con = _connect(data)
    cols = fp["columns"]
    got = [d[0] for d in con.execute(f"DESCRIBE SELECT * FROM ({sql}) q").fetchall()]
    if sorted(got) != sorted(c["name"] for c in cols):
        return f"columns differ: oracle {sorted(got)}"
    aggs = ["count(*) AS n"] + [a for i, c in enumerate(cols) for a in _aggs(i, c["name"], c["kind"])]
    cur = con.execute(f"SELECT {', '.join(aggs)} FROM ({sql}) q")
    names = [d[0] for d in cur.description]
    exp = dict(zip(names, cur.fetchone()))
    for k, e in exp.items():
        g = values.get(k)
        if g is None or e is None:
            if (g is None) != (e is None) and not (e in (0, None) and g in ("0", None)):
                return f"{k}: engine {g}, oracle {e}"
            continue
        if k.endswith("_sum"):
            ok = _close(float(g), float(e), float(exp.get(k[:-4] + "_abs") or 0.0))
        elif k.endswith("_abs"):
            ok = _close(float(g), float(e), float(e))
        else:
            ok = int(float(g)) == int(e)
        if not ok:
            return f"{k}: engine {g}, oracle {e}"
    return None
