"""Output checks that do not use the program's code.

* ingest outputs against the generator manifest (pyarrow);
* query results against the DuckDB oracle SQL, with the registry gate's
  cell canonicalization;
* the sealed export against a DuckDB sessionization of the delivered
  events.

Each check returns {op id: "what is wrong"} for the ops it fails.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

SPARK_ROW_META = b"org.apache.spark.sql.parquet.row.metadata"


def _close(a, b):
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _field_meta(path):
    """Column metadata Spark stored in the parquet footer: name -> dict."""
    part = sorted(glob.glob(os.path.join(path, "*.parquet")))[0]
    kv = pq.read_metadata(part).metadata or {}
    schema = json.loads(kv[SPARK_ROW_META])
    return {f["name"]: f.get("metadata", {}) for f in schema["fields"]}, kv


def _sum(table, col):
    return sum(v for v in table.column(col).to_pylist() if v is not None)


def _check_sums(table, files, cols):
    for c in cols:
        want = sum(f["sums"][c] for f in files if c in f["sums"])
        got = _sum(table, c)
        if not _close(got, want):
            return f"column {c} sums to {got}, manifest {want}"
    return None


def _check_file_hash(meta, f):
    fh = meta.get("file_hash", {})
    if fh.get("hash") != f["blake2b"] or fh.get("file") != f["name"]:
        return f"file_hash {fh} for {f['name']}, expected BLAKE2b {f['blake2b']}"
    return None


def _unit_key(kind):
    return "units" if kind == "HFM" else "unit"


def _check_units(field_meta, units, kind):
    key = _unit_key(kind)
    for c, u in units.items():
        got = field_meta.get(c, {}).get(key)
        if got != u:
            return f"column {c} {key}={got!r}, expected {u!r}"
    return None


def ingest(report, manifest):
    files = manifest["files"]
    by_path = {f["path"]: f for f in files}
    bad = {}
    for op in report["ops"]:
        if not op["ok"] or "out" not in op:
            continue
        kind = op["format"]
        try:
            if op["op"] == "convert":
                err = _convert(op, by_path[op["file"]], kind)
            else:
                shard_files = sorted((f for f in files if f["shard"] == op["shard"] and f["kind"] == kind),
                                     key=lambda f: f["path"])
                err = _fleet(op, shard_files, kind)
        except Exception as e:  # an unreadable output is a wrong output
            err = f"{type(e).__name__}: {e}"
        if err:
            bad[op["id"]] = err
    return bad


def _convert(op, f, kind):
    out = op["out"]
    t = pq.read_table(out)
    if t.num_rows != f["rows"]:
        return f"{t.num_rows} rows, manifest {f['rows']}"
    cols = list(f["sums"])
    if t.column_names != cols:
        return f"columns {t.column_names}, expected {cols}"
    err = _check_sums(t, [f], cols)
    if err:
        return err
    field_meta, kv = _field_meta(out)
    err = _check_units(field_meta, f["units"], kind)
    if err:
        return err
    if kv.get(b"type", b"").decode() != kind:
        return f"footer type {kv.get(b'type')}, expected {kind}"
    meta = json.loads(kv[b"file_metadata"])
    return _check_file_hash(meta, f)


def _fleet(op, files, kind):
    out = op["out"]
    t = pq.read_table(os.path.join(out, "data"))
    want_rows = sum(f["rows"] for f in files)
    if t.num_rows != want_rows:
        return f"{t.num_rows} rows, manifest {want_rows}"
    head = files[0]
    cols = [c for c in t.column_names if c not in ("source_file", "run_type")]
    if kind != "HFM" and cols != list(head["sums"]):
        return f"columns {cols}, head file has {list(head['sums'])}"
    err = _check_sums(t, files, cols)
    if err:
        return err
    if len(set(t.column("source_file").to_pylist())) != len(files):
        return "source_file does not name every file"
    field_meta, _ = _field_meta(os.path.join(out, "data"))
    err = _check_units(field_meta, head["units"], kind)
    if err:
        return err
    m = pq.read_table(os.path.join(out, "meta")).to_pylist()
    if len(m) != len(files):
        return f"metadata table has {len(m)} rows for {len(files)} files"
    by_name = {f["name"]: f for f in files}
    for row in m:
        if row["type"] != kind:
            return f"metadata type {row['type']}, expected {kind}"
        f = by_name.get(row["source_file"].rsplit("/", 1)[-1])
        if f is None:
            return f"metadata row for unknown file {row['source_file']}"
        err = _check_file_hash(json.loads(row["file_metadata"]), f)
        if err:
            return err
    return None


# ------------------------------------------------------------- query oracle

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(df):
    """Columns sorted by name, rows as sorted tuples of canonical cells:
    the same canonicalization as the registry's DuckDB gate."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    rows = sorted(tuple(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    return df.columns.tolist(), rows


def _duck(data_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def queries(report, data_dir):
    """{query: problem} for every query whose result differs from its oracle."""
    con = _duck(data_dir)
    wrong = dict(report.get("result_errors", {}))
    for name, sql in sorted(report["oracle_sql"].items()):
        if name in wrong:
            continue
        if sql is None:
            wrong[name] = "no oracle SQL"
            continue
        files = glob.glob(os.path.join(report["results_dir"], name, "*.parquet"))
        try:
            spark_df = pq.read_table(files[0]).to_pandas()
            duck_df = con.execute(sql).fetchdf()
        except Exception as e:
            wrong[name] = f"{type(e).__name__}: {e}"
            continue
        sc, sr = _norm(spark_df)
        dc, dr = _norm(duck_df)
        if sc != dc:
            wrong[name] = f"columns {sc} vs oracle {dc}"
        elif sr != dr:
            diff = sum(1 for a, b in zip(sr, dr) if a != b) + abs(len(sr) - len(dr))
            wrong[name] = f"{diff} of {len(dr)} oracle rows differ"
    return wrong


# ----------------------------------------------------------- sealed export

def sealed_export(stream, data_dir):
    """None when the export holds exactly the sessions sealed by the
    final watermark over the delivered slices, each once."""
    lo, span, n, gap = stream["lo_us"], stream["span_us"], stream["delivered"], stream["gap_us"]
    con = _duck(data_dir)
    want = {r[0] for r in con.execute(f"""
        WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_id FROM events
                   WHERE epoch_us(ts) >= {lo} AND epoch_us(ts) < {lo + n * span}),
        p AS (SELECT *, lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt FROM e),
        s AS (SELECT user_id, t, sum(CASE WHEN pt IS NULL OR t - pt > {gap} THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM p),
        l AS (SELECT user_id, sid, max(t) AS lt FROM s GROUP BY 1, 2)
        SELECT user_id * 1000000 + sid FROM l WHERE lt <= (SELECT max(t) FROM e) - {gap}
        """).fetchall()}
    got = []
    for path in glob.glob(os.path.join(stream["out"], "**", "*"), recursive=True):
        name = os.path.basename(path)
        if os.path.isfile(path) and not name.startswith((".", "_")):
            with open(path) as f:
                got += [json.loads(line)["ck"] for line in f if line.strip()]
    if len(got) != len(set(got)):
        return f"{len(got) - len(set(got))} conversations exported more than once"
    if set(got) != want:
        return (f"exported {len(got)} conversations, {len(want)} sealed; "
                f"{len(set(got) - want)} unexpected, {len(want - set(got))} missing")
    return None
