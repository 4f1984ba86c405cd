"""Output checks: the program's landed results against DuckDB oracles.

The oracles are the project's own oracle SQL (``SparkEntry.oracleSql``,
exported by the benchmark's JVM side as ``oracle.json``) run over the same
generated parquet the program read; the comparison follows
``tools/check_oracle.py``: columns by name, row count, values with rows
sorted, floats within 1e-9 relative.
"""
import glob
import json
import os

import duckdb

TABLES = ["events", "documents"]


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    keys = sorted(df.columns, key=lambda c: (df[c].dtype.kind == "f", c))
    return df.sort_values(by=keys, ignore_index=True)


def same(got, want):
    """None when equal, else a one-line reason."""
    g, w = _norm(got), _norm(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            af, bf = a.astype(float).fillna(-9e99), b.astype(float).fillna(-9e99)
            if not ((af - bf).abs() <= 1e-9 * (1 + bf.abs())).all():
                return f"column {c} differs"
        elif not (a.astype(str) == b.astype(str)).all():
            return f"column {c} differs"
    return None


def _con(table_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _read(pattern, hive=False, drop=()):
    files = sorted(glob.glob(pattern))
    if not files:
        return None
    df = duckdb.sql(
        f"SELECT * FROM read_parquet({files!r}, hive_partitioning={str(hive).lower()})").df()
    return df.drop(columns=[c for c in drop if c in df.columns])


def _one(name, got, con, sql, errors):
    if got is None:
        errors.append(f"{name}: no output landed")
        return
    why = same(got, con.execute(sql).df())
    if why:
        errors.append(f"{name}: {why}")


def check(workload, data, facts, oracle):
    """Return (checks made, list of failures)."""
    errors = []
    n = 0
    if workload == "corpus_build":
        # the oracle runs on the check corpus the warm-up build landed; the
        # timed builds must each land identical summaries (checked in the JVM)
        n += 1
        _one("p14_training_build",
             _read(f"{facts['corpus_check_out']}/split=*/*.parquet", hive=True),
             _con(f"{data}/check"), oracle["p14_training_build"], errors)
    elif workload == "table_serve":
        n += 1
        applied = int(facts["batches_applied"])
        con = _con(data)
        con.execute(f"CREATE VIEW changes AS SELECT * FROM "
                    f"read_parquet('{data}/changes.parquet') WHERE batch < {applied}")
        # argmax(seq) per key over base ∪ every applied batch; a newer
        # change keeps the stored source (new keys have none)
        want = """
          WITH base AS (
            SELECT doc_id, lang, source, text, 0::BIGINT AS seq, false AS deleted
            FROM documents),
          alll AS (
            SELECT doc_id, lang, text, seq, deleted FROM base
            UNION ALL
            SELECT doc_id, lang, new_text, seq, op = 'delete' FROM changes),
          win AS (
            SELECT doc_id, lang, arg_max(text, seq) AS text,
                   arg_max(deleted, seq) AS deleted
            FROM alll GROUP BY doc_id, lang)
          SELECT w.doc_id, b.source, w.text, w.lang
          FROM win w LEFT JOIN base b ON b.doc_id = w.doc_id AND b.lang = w.lang
          WHERE NOT w.deleted"""
        _one("final table", _read(f"{facts['table_final']}/*.parquet"),
             con, want, errors)
    elif workload == "event_stream":
        con = _con(data)
        for kind, key in (("st02", "st02_stream_session"), ("st18", "st18_stream_join")):
            if kind in facts:
                n += 1
                _one(key, _read(f"{facts[kind]}/*.parquet"), con, oracle[key], errors)
    return n, errors


if __name__ == "__main__":
    import sys
    w, data, facts_json, oracle_json = sys.argv[1:5]
    print(check(w, data, json.load(open(facts_json)), json.load(open(oracle_json))))
