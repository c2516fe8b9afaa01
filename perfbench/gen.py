"""Seeded input generator for the benchmark.

Everything a workload feeds the program is made here from `--seed`:
parquet tables shaped like the repository's TPC-H-ish test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), the all-string CSV sheets of the ETL workload,
and each workload's op-mix cycle (`plan.json`), which the client repeats
for as long as a run measures. The same seed gives byte-identical files;
`digest()` is what the benchmark compares to prove it.

Usage (stand-alone): python3 gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "workloads.json")) as _f:
    WORKLOADS = json.load(_f)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = ["cold", "small", "large", "blue", "red", "green", "steel", "soft"]
PART_NOUN = ["widget", "bolt", "rod", "gear", "pipe", "nut", "panel", "valve"]
PART_TYPES = ["ECONOMY", "PROMO", "STANDARD", "LARGE", "MEDIUM", "SMALL"]
DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _write(table, path):
    # fixed writer settings: no pandas metadata, stable byte layout
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng, sizes):
    """The relational + pipeline tables, as pyarrow tables by name."""
    n_c, n_o, n_l = sizes["customer"], sizes["orders"], sizes["lineitem"]
    n_p, n_s = sizes["part"], sizes["supplier"]
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 200) / 10.0, 2)})
    odate = EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)]})
    # lineitem in (l_orderkey, l_linenumber) order: file order is the
    # spreadsheet row order the ETL workload's self[] numbering sees
    okeys = np.sort(rng.integers(0, n_o, n_l))
    line = np.zeros(n_l, dtype=np.int32)
    for i in range(1, n_l):
        line[i] = line[i - 1] + 1 if okeys[i] == okeys[i - 1] else 0
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(line + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(EPOCH_1995 + rng.integers(0, 2404, n_l) * DAY_US,
                               pa.timestamp("us"))})
    n_e = sizes["events"]
    gaps = rng.integers(1, 2 * 30 * DAY_US // max(n_e, 1), n_e)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps) // 2, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_e // 67, 2), n_e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    out["documents"] = documents(rng, sizes["documents"],
                                 sizes.get("dup_share", 0.05))
    out["embeddings"] = embeddings(rng, sizes["embeddings"],
                                   sizes.get("dup_share", 0.05))
    return out


def _text(rng):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                                   rng.integers(8, 90)))


def _perturb(rng, text):
    """A planted near-duplicate: one word swapped plus a " dup" tail."""
    ws = text.split()
    ws[rng.integers(0, len(ws))] = VOCAB[rng.integers(0, len(VOCAB))]
    return " ".join(ws) + " dup"


def documents(rng, n, dup_share):
    """`n` docs; a `dup_share` of them are planted near-duplicates of an
    earlier doc."""
    texts = []
    for i in range(n):
        if texts and rng.random() < dup_share:
            texts.append(_perturb(rng, texts[rng.integers(0, len(texts))]))
        else:
            texts.append(_text(rng))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


_CENTERS = {}


def _centers():
    if "c" not in _CENTERS:
        _CENTERS["c"] = np.random.default_rng(7).normal(0.0, 1.0, (10, DIM))
    return _CENTERS["c"]


def embeddings(rng, n, dup_share):
    """Unit vectors around ten label centres; a `dup_share` of them are
    small perturbations of an earlier vector."""
    labels = rng.integers(0, 10, n)
    vecs = _centers()[labels] + rng.normal(0.0, 0.9, (n, DIM))
    for i in range(1, n):
        if rng.random() < dup_share:
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0, 0.02, DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def _csv(path, header, rows):
    with open(path, "w", newline="") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def _cycle(rng, mix):
    """One op-mix cycle: the exact `mix` counts in shuffled order, so
    every seed runs the same shares and only the order differs."""
    kinds = [k for k, c in mix.items() for _ in range(c)]
    return [kinds[i] for i in rng.permutation(len(kinds))]


def etl_inputs(rng, cfg, out):
    sizes = cfg["sizes"]
    t = tables(rng, dict(sizes, part=50, supplier=10, events=10,
                         documents=1, embeddings=1))
    sheets = os.path.join(out, "sheets")
    os.makedirs(sheets)
    li, od, cu = t["lineitem"], t["orders"], t["customer"]
    date = lambda a: [f"{x:%Y-%m-%d}" for x in a.to_pylist()]
    num = lambda a: [repr(x) for x in a.to_pylist()]
    ints = lambda a: [str(x) for x in a.to_pylist()]
    _csv(os.path.join(sheets, "Source.csv"),
         ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
          "l_discount", "l_returnflag", "l_linestatus", "l_shipdate"],
         zip(ints(li["l_orderkey"]), ints(li["l_linenumber"]),
             num(li["l_quantity"]), num(li["l_extendedprice"]),
             num(li["l_discount"]), li["l_returnflag"].to_pylist(),
             li["l_linestatus"].to_pylist(), date(li["l_shipdate"])))
    _csv(os.path.join(sheets, "Orders.csv"),
         ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"],
         zip(ints(od["o_orderkey"]), ints(od["o_custkey"]),
             od["o_orderstatus"].to_pylist(), num(od["o_totalprice"]),
             date(od["o_orderdate"]), od["o_orderpriority"].to_pylist()))
    _csv(os.path.join(sheets, "Customer.csv"),
         ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
         zip(ints(cu["c_custkey"]), cu["c_name"].to_pylist(),
             ints(cu["c_nationkey"]), num(cu["c_acctbal"]),
             cu["c_mktsegment"].to_pylist()))
    # one rule table per feature, its parameters drawn from the seed
    maps = {}
    for feat in cfg["mix"]:
        q = int(rng.integers(20, 31))
        flag = ("A", "N", "R")[rng.integers(0, 3)]
        tag = f"t{rng.integers(0, 1000)}"
        status = ("F", "O", "P")[rng.integers(0, 3)]
        rules = [("out", "instr")]
        if feat == "join":
            rules += [("_join:Orders", "src[l_orderkey] == other[o_orderkey]"),
                      ("_filter:s", f"eval: src[o_orderstatus] == {status}"),
                      ("OrderKey", "src[l_orderkey]"), ("Line", "src[l_linenumber]"),
                      ("Status", "src[o_orderstatus]"), ("Price", "src[o_totalprice]")]
        else:
            if feat == "type":
                rules += [("_type:l_orderkey", "integer"),
                          ("_type:l_extendedprice", "numeric"),
                          ("_type:l_shipdate", "date"),
                          ("_type:l_returnflag", "nonempty")]
            rules += [("_filter:q", f"eval: src[l_quantity] >= {q} || "
                                    f"src[l_returnflag] == {flag}"),
                      ("OrderKey", "src[l_orderkey]"), ("Line", "src[l_linenumber]")]
            if feat == "self":
                rules += [("Bal", "formula:=src[l_extendedprice]*2"),
                          ("Ref", 'formula:=self[Bal]&"!"')]
            else:
                rules += [("Qty", "src[l_quantity]"), ("Flag", "src[l_returnflag]"),
                          ("Tag", f"constant:{tag}")]
        name = f"Map_{feat}"
        _csv(os.path.join(sheets, name + ".csv"), rules[0],
             [(a, '"' + b.replace('"', '""') + '"') for a, b in rules[1:]])
        maps[name] = {"feature": feat, "q": q, "flag": flag, "tag": tag,
                      "status": status}
    ops = [{"kind": k, "map": f"Map_{k}"} for k in _cycle(rng, cfg["mix"])]
    return {"maps": maps, "ops": ops, "source_rows": sizes["lineitem"]}


def battery_inputs(rng, cfg, out):
    tdir = os.path.join(out, "tables")
    os.makedirs(tdir)
    for name, t in tables(rng, cfg["sizes"]).items():
        _write(t, os.path.join(tdir, name + ".parquet"))
    qs = cfg["queries"]
    return {"ops": [{"kind": qs[i]} for i in rng.permutation(len(qs))]}


GENERATORS = {"etl_mapping": etl_inputs, "battery_multiaction": battery_inputs}


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out`."""
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    plan = GENERATORS[workload](rng, WORKLOADS[workload], out)
    plan.update(workload=workload, seed=seed)
    with open(os.path.join(out, "plan.json"), "w") as f:
        json.dump(plan, f, sort_keys=True)


def digest(root):
    """SHA-256 over every file's relative path and bytes under `root`."""
    h = hashlib.sha256()
    for d, subdirs, files in sorted(os.walk(root)):
        subdirs.sort()
        for name in sorted(files):
            p = os.path.join(d, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(digest(sys.argv[3]))
