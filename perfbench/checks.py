"""Output checks for the benchmark, independent of the engine's code:
conversion stores are read back with pyarrow and compared with what the
generator planted; query results are compared with each query's DuckDB
oracle over the same generated tables."""

import glob
import os
import struct
from collections import Counter, defaultdict

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def out_name(dataset, gz_name):
    """<FILE>.gz -> <FILE>.parquet, with SURF* -> SUR* for the SUR set."""
    base = gz_name[:-3] if gz_name.endswith(".gz") else gz_name
    if dataset == "SUR" and base.startswith("SURF"):
        base = "SUR" + base[4:]
    return base + ".parquet"


def _parts(store):
    return sorted(glob.glob(os.path.join(store, "**", "*.parquet"),
                            recursive=True))


def _dir_value(path, key):
    for seg in path.split(os.sep):
        if seg.startswith(key + "="):
            return seg[len(key) + 1:]
    return None


def _same(expected, actual, where):
    if isinstance(expected, dict):
        for k, v in expected.items():
            if k in actual:
                p = _same(v, actual[k], f"{where}.{k}")
                if p:
                    return p
        return None
    if isinstance(expected, list):
        if len(expected) != len(actual):
            return f"{where}: {len(actual)} entries, want {len(expected)}"
        for i, (e, a) in enumerate(zip(expected, actual)):
            p = _same(e, a, f"{where}[{i}]")
            if p:
                return p
        return None
    if expected != actual:
        return f"{where}: {actual!r}, want {expected!r}"
    return None


def _check_parts(parts, cells, rows_by_file, file_of):
    """Geohash order within every part file, geohash3 = the directory's
    cell, and per-source-file cast numbers collected."""
    for part in parts:
        cols = ["castNumber", "geohash"] + (["src_file"] if file_of else [])
        t = pq.read_table(part, columns=cols)
        gh = t.column("geohash").to_pylist()
        if any(a > b for a, b in zip(gh, gh[1:])):
            return f"{part}: rows not sorted by geohash"
        cell = _dir_value(part, "geohash3")
        if any(g[:3] != cell for g in gh):
            return f"{part}: geohash outside its geohash3={cell} directory"
        cells[cell] += len(gh)
        nums = t.column("castNumber").to_pylist()
        srcs = (t.column("src_file").to_pylist() if file_of
                else [None] * len(nums))
        for n, s in zip(nums, srcs):
            rows_by_file[file_of(s) if file_of else None].append(n)
    return None


def _sample(parts, sample, dataset_of):
    """Sampled casts match the generator field by field."""
    want = {(r["dataset"], r["castNumber"]): r for r in sample}
    found = {}
    numbers = [r["castNumber"] for r in sample]
    for part in parts:
        t = pq.read_table(part)
        t = t.filter(pc.is_in(t.column("castNumber"),
                              value_set=pa.array(numbers)))
        for row in t.to_pylist():
            row.setdefault("dataset", dataset_of(part))
            row["geohash3"] = _dir_value(part, "geohash3")
            key = (row["dataset"], row["castNumber"])
            if key in want:
                found[key] = row
    for key, exp in want.items():
        if key not in found:
            return f"sampled cast {key} missing"
        got = found[key]
        wkb = struct.pack("<BIdd", 1, 1, exp["longitude"], exp["latitude"])
        if got.get("geometry") != wkb:
            return f"cast {key}: geometry is not the WKB point"
        p = _same(exp, got, f"cast {key}")
        if p:
            return p
    return None


def check_conversion(out, manifest, bulk):
    """Full check of one conversion output. Returns (problems, complete
    casts of a truncated member that the conversion dropped)."""
    problems = []
    cells = Counter()
    if bulk:
        root = os.path.join(out, "bulk", "casts")
        stores = [root] + [os.path.join(root, f"dataset={d}", "level=OBS")
                           for d in manifest["datasets"]]
        for s in stores:
            if not os.path.exists(os.path.join(s, "_SUCCESS")):
                problems.append(f"{s}: no _SUCCESS")
        rows_by_file = defaultdict(list)
        p = _check_parts(_parts(root), cells, rows_by_file,
                         lambda s: os.path.basename(s))
        if p:
            problems.append(p)
        errs = defaultdict(list)
        for part in _parts(os.path.join(out, "bulk", "errors")):
            t = pq.read_table(part, columns=["src_file", "castNumber"])
            for s, n in zip(t.column("src_file").to_pylist(),
                            t.column("castNumber").to_pylist()):
                errs[os.path.basename(s)].append(n)
        rows = {f["file"]: rows_by_file.get(f["file"], [])
                for f in manifest["files"]}
        err_rows = {f["file"]: errs.get(f["file"], []) for f in manifest["files"]}
        parts = _parts(root)
        dataset_of = lambda part: _dir_value(part, "dataset")  # noqa: E731
    else:
        rows, err_rows, parts = {}, {}, []
        for f in manifest["files"]:
            name = out_name(f["dataset"], f["file"])
            store = os.path.join(out, "yearly", f["dataset"], "OBS", name)
            if not os.path.exists(os.path.join(store, "_SUCCESS")):
                problems.append(f"{store}: no _SUCCESS")
            by = defaultdict(list)
            p = _check_parts(_parts(store), cells, by, None)
            if p:
                problems.append(p)
            rows[f["file"]] = by[None]
            parts += _parts(store)
            estore = os.path.join(out, "error", f["dataset"], "OBS", name)
            e = []
            for part in _parts(estore):
                e += pq.read_table(part, columns=["castNumber"]) \
                    .column("castNumber").to_pylist()
            want_err = len(f["errors"]) + int(f["truncated"])
            if want_err and not os.path.exists(os.path.join(estore, "_SUCCESS")):
                problems.append(f"{estore}: no _SUCCESS")
            err_rows[f["file"]] = e
        dataset_of = lambda part: None  # noqa: E731
    lost = 0
    want_cells = Counter()
    for f in manifest["files"]:
        want, want_c = f["valid_numbers"], f["valid_cells"]
        got = sorted(rows[f["file"]])
        if f["truncated"] and got:
            # A truncated member must yield a prefix of its complete
            # casts, in file order; the casts it drops are reported.
            lost = len(want) - len(got)
            want, want_c = want[:len(got)], want_c[:len(got)]
        want_cells.update(want_c)
        if got != sorted(want):
            problems.append(f"{f['file']}: {len(rows[f['file']])} cast rows, "
                            f"want the {f['valid']} valid casts")
        want = sorted(f["errors"] + ([-1] if f["truncated"] else []))
        if sorted(err_rows[f["file"]]) != want:
            problems.append(f"{f['file']}: error rows {sorted(err_rows[f['file']])}"
                            f", want {want}")
    if cells != want_cells:
        problems.append("per-geohash3 cast counts differ from the generator's")
    # (a sampled cast a truncated member dropped is covered above)
    kept = {n for f in manifest["files"] for n in rows[f["file"]]}
    p = _sample(parts, [r for r in manifest["sample"] if r["castNumber"] in kept],
                dataset_of)
    if p:
        problems.append(p)
    return problems, lost


def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def check_oracle(tables, oracle_dir, oracle_sql):
    """Each query's untimed result against its DuckDB oracle. Returns
    {query: problem} for the queries that differ."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(tables, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name in sorted(os.listdir(oracle_dir)):
        got_dir = os.path.join(oracle_dir, name)
        if name not in oracle_sql:
            bad[name] = "no oracle"
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')").df()
        want = con.sql(oracle_sql[name]).df()
        a, b = _canon(got), _canon(want)
        if list(a.columns) != list(b.columns):
            bad[name] = f"columns {list(a.columns)} != {list(b.columns)}"
        elif len(a) != len(b):
            bad[name] = f"{len(a)} rows, oracle {len(b)}"
        elif not a.equals(b):
            diff = (a != b) & ~(a.isna() & b.isna())
            bad[name] = f"{int(diff.values.sum())} cells differ from the oracle"
    return bad
