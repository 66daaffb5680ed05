"""Output checks, run after the timed windows. Each returns a list of
failure messages; an empty list means the output is correct."""
import glob
import os

import duckdb
import numpy as np
import pandas as pd

CATALOG_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"]


def _scan(path: str) -> str:
    """A table reference for a parquet file or a Spark output directory."""
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"read_parquet('{path}')"


# ---------------------------------------------------------------- merge

def merge_output(con, cfg: dict, out: str, dry: list, actual: list) -> list:
    """Check one published merge against its inputs and both reports:

    * the dry run's would_insert equals the rows published from src and
      the real run's would_insert;
    * new ids are unique and contiguous past the destination's max id;
    * every published FK (plain, self and deferred) resolves;
    * published uuids are unique;
    * every artifact (tables, id maps, uuid reports, registry) exists.
    """
    errors = []
    dest = cfg["destination"]["path"]
    by_name = {t["name"]: t for t in cfg["tables"]}
    dry_by = {r["table"]: r for r in dry}
    act_by = {r["table"]: r for r in actual}

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def pub(name):
        return _scan(os.path.join(out, f"{name}.parquet"))

    if set(dry_by) != set(by_name) or set(act_by) != set(by_name):
        return [f"report tables {sorted(dry_by)} / {sorted(act_by)} != config {sorted(by_name)}"]
    for name, t in by_name.items():
        needed = [name] + ([f"{name}__idmap"] if cfg.get("persist") and t["mode"] != "keyless" else [])
        needed += [f"{name}__uuid_report"] if t.get("uuidCol") else []
        missing = [n for n in needed if not glob.glob(os.path.join(out, f"{n}.parquet", "*.parquet"))]
        if missing:
            errors.append(f"{name}: not published: {missing}")
            continue
        d, a = dry_by[name], act_by[name]
        if d["would_insert"] != a["would_insert"]:
            errors.append(f"{name}: dry run would_insert {d['would_insert']} != merge's {a['would_insert']}")
        moved = one(f"SELECT count(*) FROM {pub(name)} WHERE instance = 'src'")
        if moved != d["would_insert"]:
            errors.append(f"{name}: dry run would_insert {d['would_insert']} but {moved} src rows published")
        idc = t.get("idCol")
        if idc:
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT {idc}) FROM {pub(name)}").fetchone()
            if n != distinct:
                errors.append(f"{name}: {n - distinct} duplicate {idc} values published")
        if t["mode"] in ("consolidate", "move"):
            base = one(f"SELECT coalesce(max({idc}), 0) FROM {_scan(os.path.join(dest, name + '.parquet'))}")
            lo, hi, k, kd = con.execute(
                f"SELECT min({idc}), max({idc}), count(*), count(DISTINCT {idc}) "
                f"FROM {pub(name)} WHERE instance = 'src'").fetchone()
            if k and (lo != base + 1 or hi != base + k or kd != k):
                errors.append(f"{name}: new ids [{lo}, {hi}] x{kd} not contiguous past dest max {base}")
        fks = dict(t.get("fks", {}))
        fks.update(t.get("deferredFks", {}))
        fks.update({c: name for c in t.get("selfFks", [])})
        if t["mode"] == "shared_pk":
            fks[idc] = t["sharedPkParent"]
        for col, parent in fks.items():
            pid = by_name[parent]["idCol"]
            dangling = one(
                f"SELECT count(*) FROM {pub(name)} c WHERE c.{col} IS NOT NULL AND c.{col} NOT IN "
                f"(SELECT {pid} FROM {pub(parent)})")
            if dangling:
                errors.append(f"{name}.{col} -> {parent}: {dangling} published values do not resolve")
        if t.get("uuidCol"):
            u = t["uuidCol"]
            n, distinct = con.execute(f"SELECT count(*), count(DISTINCT {u}) FROM {pub(name)}").fetchone()
            if n != distinct:
                errors.append(f"{name}: {n - distinct} duplicate or null {u} values published")
    reg = os.path.join(out, "_merge_sources.parquet")
    if not glob.glob(os.path.join(reg, "*.parquet")):
        errors.append("registry not published")
    elif cfg["source"]["location"] not in {r[0] for r in con.execute(f"SELECT location FROM {_scan(reg)}").fetchall()}:
        errors.append("registry does not record the source location")
    return errors


# -------------------------------------------------------------- catalog

def catalog_connection(data_dir: str):
    con = duckdb.connect()
    for t in CATALOG_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].astype("float64")
    keys = list(df.columns)
    try:
        df = df.sort_values(keys)
    except TypeError:   # unorderable cells (lists, mixed types): order by their text
        df = df.iloc[np.lexsort([df[c].astype(str).to_numpy() for c in reversed(keys)])]
    return df.reset_index(drop=True)


def same_result(got: pd.DataFrame, exp: pd.DataFrame) -> str:
    """'' when equal the way the catalog's oracle gate compares results
    (column-name-sorted, row-sorted, exact values), else why not."""
    g, e = _norm(got), _norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    for c in g.columns:
        if g[c].dtype.kind == "f" and e[c].dtype.kind == "f":
            ok = np.array_equal(g[c].fillna(-9e99).to_numpy(), e[c].fillna(-9e99).to_numpy())
        else:
            ok = (g[c].fillna("<N>").astype(str) == e[c].fillna("<N>").astype(str)).all()
        if not ok:
            return f"column {c} differs"
    return ""


def catalog_result(con, name: str, result_dir: str, oracle_sql) -> list:
    files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
    if not files:
        return [f"{name}: no result written"]
    got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    if oracle_sql is None:
        return [] if len(got) else [f"{name}: empty result"]
    why = same_result(got, con.execute(oracle_sql).df())
    return [f"{name}: {why}"] if why else []
