"""Seeded inputs for the benchmark.

Everything here is a pure function of (seed, scale): the same seed always
writes byte-identical parquet. Two input sets are made:

* ``catalog_inputs`` writes the ten tables the query catalog reads
  (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the column names, types and value ranges of
  the synthetic TPC-H-like data the catalog's queries are written for.
* ``merge_instances`` writes two overlapping instances (``src``/``dest``)
  of a six-table DAG plus the merge config that covers every merge mode
  and FK class the config accepts. The seed sets how much the instances
  overlap and how many source location uuids collide with destination
  uuids.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "small", "hot", "old", "large", "green", "steel"]
PART_NOUN = ["plate", "widget", "ring", "rod", "gizmo", "anvil", "bolt", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.125, 0.125, 0.125, 0.125]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 22)
    return os.path.getsize(path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, ndays, n):
    return (start + rng.integers(0, ndays, n).astype("timedelta64[D]")).astype("datetime64[us]")


def tpch(rng, sf: float) -> dict:
    """The seven star-schema tables at scale factor ``sf``."""
    nc, ns, np_, no, nl = (max(1, int(k * sf)) for k in (150_000, 10_000, 200_000, 1_500_000, 6_000_000))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    pk = np.arange(np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, np_)], " "),
                              np.array(PART_NOUN)[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", (rng.integers(1, 26, np_)).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, EPOCH_1995, 2404, no),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, EPOCH_1995 + np.timedelta64(1, "D"), 2498, nl)})
    return t


def events(rng, sf: float) -> pa.Table:
    n, users = max(100, int(1_000_000 * sf)), max(10, int(15_000 * sf))
    offs = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.maximum(0.01, np.round(rng.exponential(60.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, sf: float) -> pa.Table:
    """Bag-of-words documents; about one in twenty is a near duplicate
    (an earlier document plus a ``dup`` token), which the dedup family
    is there to find."""
    n = max(500, int(50_000 * sf))
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        if i > 4 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 100)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def embeddings(rng, sf: float, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors drawn around ``labels`` centroids."""
    n = 500 if sf <= 0.01 else max(500, int(20_000 * sf))
    lab = rng.integers(0, labels, n)
    cent = rng.normal(0.0, 0.5, (labels, dim))
    v = cent[lab] + rng.normal(0.0, 1.0, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def catalog_inputs(out_dir: str, seed: int, sf: float) -> dict:
    """Write the catalog's ten tables; returns {table: (rows, bytes)}."""
    rng = np.random.default_rng(seed)
    tables = tpch(rng, sf)
    tables["events"] = events(rng, sf)
    tables["documents"] = documents(rng, sf)
    tables["embeddings"] = embeddings(rng, sf)
    return {name: (t.num_rows, _write(t, os.path.join(out_dir, f"{name}.parquet")))
            for name, t in tables.items()}


# ---------------------------------------------------------------- merge

MERGE_TABLES = [
    # metadata: deduped by natural key, uuid collisions repaired
    {"name": "location", "idCol": "location_id", "mode": "consolidate",
     "naturalKey": ["name"], "uuidCol": "uuid"},
    # data chain customer -> orders -> lineitem; customer carries a
    # self FK and a deferred FK that closes the customer <-> orders cycle
    {"name": "customer", "idCol": "c_custkey", "mode": "move", "naturalKey": ["c_name"],
     "fks": {"c_locationkey": "location"}, "selfFks": ["referred_by"],
     "deferredFks": {"first_order": "orders"}},
    {"name": "orders", "idCol": "o_orderkey", "mode": "move", "naturalKey": ["o_ref"],
     "fks": {"o_custkey": "customer"}},
    {"name": "lineitem", "idCol": "l_lineid", "mode": "move", "naturalKey": ["l_ref"],
     "fks": {"l_orderkey": "orders"}},
    # primary key is the parent's key
    {"name": "customer_profile", "idCol": "c_custkey", "mode": "shared_pk",
     "sharedPkParent": "customer"},
    # no own id: rows move by FK rewrite, deduped on the composite key
    {"name": "order_tag", "mode": "keyless", "naturalKey": ["o_orderkey", "tag"],
     "fks": {"o_orderkey": "orders"}},
]


def _uuid(rng, n):
    h = rng.integers(0, 1 << 62, (n, 2), dtype=np.int64)
    return [f"{a:016x}{b:016x}"[:32] for a, b in h]


def _fmt_uuid(hex32):
    return f"{hex32[:8]}-{hex32[8:12]}-{hex32[12:16]}-{hex32[16:20]}-{hex32[20:32]}"


def _dense(keys):
    """Instance-local ids 1..n in base-key order (both instances number
    from 1, so ids collide across instances and must be remapped)."""
    order = np.argsort(keys, kind="stable")
    ids = np.empty(len(keys), np.int64)
    ids[order] = np.arange(1, len(keys) + 1)
    return ids


def merge_instances(out_dir: str, seed: int, sf: float) -> dict:
    """Write ``src`` and ``dest`` instances and ``config.json`` (whose
    ``output`` the harness replaces per merge). Returns the parameters
    the seed chose and each file's rows and bytes."""
    rng = np.random.default_rng(seed)
    overlap = float(rng.uniform(0.30, 0.40))   # share of customers and locations in both instances
    collide = float(rng.uniform(0.05, 0.10))   # share of src-only locations whose uuid is taken
    base = tpch(rng, sf)
    cust, orders, line = (base[k].to_pandas() for k in ("customer", "orders", "lineitem"))
    nc = len(cust)
    # which instance(s) hold each customer: 0 = both, 1 = src only, 2 = dest only
    side = np.where(rng.random(nc) < overlap, 0, np.where(rng.random(nc) < 0.5, 1, 2))
    # an order of a shared customer is shared too half the time; the
    # rest belong to one instance (drawn independently)
    o_side_draw = rng.random(len(orders))
    o_pick = rng.random(len(orders)) < 0.5
    lineid = np.arange(len(line))
    nl = max(50, int(100_000 * sf))
    l_side = np.where(rng.random(nl) < overlap, 0, np.where(rng.random(nl) < 0.5, 1, 2))
    l_uuid = np.array([_fmt_uuid(u) for u in _uuid(rng, nl)])
    c_loc = rng.integers(0, nl, nc)
    tags = rng.integers(0, 4, len(orders))            # 0 = no tags
    tag2 = rng.integers(0, 6, len(orders))
    prof_seg = np.array(SEGMENTS)[rng.integers(0, 5, nc)]
    stats = {"overlap": round(overlap, 4), "uuid_collision_share": round(collide, 4), "files": {}}

    inst = {}
    for name, in_side in (("src", (0, 1)), ("dest", (0, 2))):
        keep_c = np.isin(side, in_side)
        c_side = side[orders["o_custkey"].to_numpy()]
        keep_o = np.isin(c_side, in_side) & ((c_side != 0) | (o_side_draw < 0.5) |
                                            (o_pick == (name == "src")))
        inst[name] = (keep_c, keep_o)

    # src-only locations reusing a dest-only location's uuid: consolidate
    # inserts them and the uuid report gives them fresh uuids
    src_only, dest_only = np.flatnonzero(l_side == 1), np.flatnonzero(l_side == 2)
    n_coll = min(int(round(collide * len(src_only))), len(dest_only))
    src_uuid = l_uuid.copy()
    src_uuid[rng.choice(src_only, n_coll, replace=False)] = l_uuid[rng.choice(dest_only, n_coll, replace=False)]

    for name, (keep_c, keep_o) in inst.items():
        d = os.path.join(out_dir, name)
        lk_ = np.flatnonzero(np.isin(l_side, (0, 1) if name == "src" else (0, 2)))
        loc_id = _dense(lk_)
        id_of_loc = dict(zip(lk_, loc_id))
        tabs = {"location": pa.table({
            "location_id": pa.array(loc_id, pa.int64()),
            "name": [f"LOCATION_{k}" for k in lk_],
            "uuid": (src_uuid if name == "src" else l_uuid)[lk_]})}

        ck = np.flatnonzero(keep_c)
        cid = _dense(ck)
        id_of_c = dict(zip(ck, cid))
        # a customer whose location is not in this instance gets the first one
        cloc = np.array([id_of_loc.get(k, loc_id[0]) for k in c_loc[ck]], np.int64)

        ok = np.flatnonzero(keep_o)
        oid = _dense(ok)
        id_of_o = dict(zip(ok, oid))
        ocust = np.array([id_of_c[c] for c in orders["o_custkey"].to_numpy()[ok]], np.int64)
        first = {}
        for o, c in zip(oid, ocust):
            first[c] = min(first.get(c, o), o)
        ref = np.concatenate([[None], cid[np.argsort(cid)][:-1]])   # previous customer
        referred = np.empty(len(cid), object)
        referred[np.argsort(cid)] = ref
        tabs["customer"] = pa.table({
            "c_custkey": pa.array(cid, pa.int64()),
            "c_name": cust["c_name"].to_numpy()[ck],
            "c_locationkey": pa.array(cloc, pa.int64()),
            "c_acctbal": cust["c_acctbal"].to_numpy()[ck],
            "referred_by": pa.array(list(referred), pa.int64()),
            "first_order": pa.array([first.get(c) for c in cid], pa.int64())})
        tabs["customer_profile"] = pa.table({
            "c_custkey": pa.array(cid, pa.int64()),
            "segment": prof_seg[ck]})
        tabs["orders"] = pa.table({
            "o_orderkey": pa.array(oid, pa.int64()),
            "o_ref": [f"O{k}" for k in ok],
            "o_custkey": pa.array(ocust, pa.int64()),
            "o_totalprice": orders["o_totalprice"].to_numpy()[ok],
            "o_orderdate": pa.array(orders["o_orderdate"].to_numpy()[ok], pa.timestamp("us"))})
        lo = line["l_orderkey"].to_numpy()
        lk = np.flatnonzero(keep_o[lo])
        tabs["lineitem"] = pa.table({
            "l_lineid": pa.array(_dense(lk), pa.int64()),
            "l_ref": [f"L{k}" for k in lineid[lk]],
            "l_orderkey": pa.array([id_of_o[o] for o in lo[lk]], pa.int64()),
            "l_quantity": line["l_quantity"].to_numpy()[lk],
            "l_extendedprice": line["l_extendedprice"].to_numpy()[lk]})
        tk = [(id_of_o[o], f"tag{t}") for o in ok for t in {tag2[o], (tag2[o] + 1) % 6}
              if tags[o] > 0 and (tags[o] > 1 or t == tag2[o])]
        tabs["order_tag"] = pa.table({
            "o_orderkey": pa.array([a for a, _ in tk], pa.int64()),
            "tag": [b for _, b in tk]})
        for t, tab in tabs.items():
            stats["files"][f"{name}/{t}"] = (tab.num_rows,
                                            _write(tab, os.path.join(d, f"{t}.parquet")))

    cfg = {"source": {"path": os.path.join(out_dir, "src"), "location": "instanceB"},
           "destination": {"path": os.path.join(out_dir, "dest")},
           "output": os.path.join(out_dir, "out"),
           "generateNewUuids": False, "persist": True, "tables": MERGE_TABLES}
    with open(os.path.join(out_dir, "config.json"), "w") as f:
        json.dump(cfg, f, indent=1)
    return stats
