"""Seeded fixture generators for the three benchmark workloads.

Each generator writes only under the directory it is given and returns a
manifest: the seed, the rows and bytes of every table it wrote, and the facts
the output checks need (for the battery fleet: cycle count and fade rate per
cell). The same seed always produces the same files.
"""
import json
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes are fixed per workload so that one timed pass costs 2-4 s on a
# 4-core host; see perfbench/README.md for how they were chosen.
ANALYTICS = dict(customer=1_500, supplier=100, part=2_000, orders=15_000,
                 lineitem=60_000, events=20_000)
CURATION = dict(docs=2_000, multibyte_share=0.15, vocab=10_000, embeddings=2_000)
BATTERY = dict(cells=2, cycles=(30, 36), rows_per_cycle=150)


def _write(out: Path, name: str, table: pa.Table) -> None:
    pq.write_table(table, out / f"{name}.parquet")


def _dims(rng, out: Path, n_cust: int, n_supp: int, n_part: int) -> None:
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                    "BUILDING", "HOUSEHOLD"], n_cust)}))
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    adj = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
    noun = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 999.9, n_part), 1)}))


def analytics(out: Path, seed: int) -> dict:
    """TPC-H-shaped star schema plus an event stream and partsupp, with the
    schemas and value domains of the engine's reference testdata."""
    rng = np.random.default_rng(seed)
    n = ANALYTICS
    _dims(rng, out, n["customer"], n["supplier"], n["part"])
    n_ord, n_li, n_ev = n["orders"], n["lineitem"], n["events"]
    day_ms = np.timedelta64(1, "D").astype("timedelta64[us]")
    odate = np.datetime64("1995-01-01", "us") + rng.integers(0, 2404, n_ord) * day_ms
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}))
    ship = np.datetime64("1995-01-02", "us") + rng.integers(0, 2498, n_li) * day_ms
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.uniform(0, 0.10, n_li), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(ship, pa.timestamp("us"))}))
    span_us = 30 * 24 * 3600 * 10**6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(out, "events", pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_ev // 67, n_ev), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_ev),
        "value": np.round(np.clip(rng.exponential(50.0, n_ev), 0, 1000), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]}))
    pk = np.repeat(np.arange(n["part"], dtype=np.int64), 4)
    off = np.tile(np.array([0, 23, 51, 77], dtype=np.int64), n["part"])
    _write(out, "partsupp", pa.table({
        "ps_partkey": pa.array(pk, pa.int64()),
        "ps_suppkey": pa.array((pk + off) % n["supplier"], pa.int64()),
        "ps_availqty": pa.array(rng.integers(1, 10_000, pk.size), pa.int32()),
        "ps_supplycost": np.round(rng.uniform(1.0, 1000.0, pk.size), 2)}))
    return {}


def _vocab(rng, n: int, alphabet: str, lo: int, hi: int) -> np.ndarray:
    letters = np.array(list(alphabet))
    seen, words = set(), []
    while len(words) < n:
        w = "".join(rng.choice(letters, int(rng.integers(lo, hi))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words)


def curation(out: Path, seed: int) -> dict:
    """Natural-vocabulary corpus (zipf 1.1 over 10k pseudo-words, the shape
    of `scripts/make_natural.py`) with a seeded share of multibyte-script
    documents, planted exact and near duplicates, and unit-norm embeddings."""
    rng = np.random.default_rng(seed)
    c = CURATION
    n_doc = c["docs"]
    ascii_v = _vocab(rng, c["vocab"], "abcdefghijklmnopqrstuvwxyz", 3, 11)
    # Cyrillic, Greek and CJK letters: 2- and 3-byte UTF-8 code points
    mb_v = _vocab(rng, c["vocab"] // 4,
                  "абвгдежзиклмнопрстуфхцчшэюя" "αβγδεζηθικλμνξοπρστυφχψω"
                  "的一是不了人我在有他这中大来上国个到说们为子和你地出道也时年", 2, 7)
    zipf = lambda n: (lambda w: w / w.sum())(1.0 / np.arange(1, n + 1) ** 1.1)
    p_ascii, p_mb = zipf(ascii_v.size), zipf(mb_v.size)
    multibyte = rng.random(n_doc) < c["multibyte_share"]
    n_words = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(mb_v, k, p=p_mb)) if m
             else " ".join(rng.choice(ascii_v, k, p=p_ascii))
             for k, m in zip(n_words, multibyte)]
    n_dup = max(1, n_doc * 8 // 5000)
    for i in rng.choice(n_doc, n_dup, replace=False):
        j = int(rng.integers(0, n_doc))
        texts[i], multibyte[i] = texts[j], multibyte[j]
    for i in rng.choice(n_doc, n_dup, replace=False):
        j = int(rng.integers(0, n_doc))
        words = texts[j].split(" ")
        for _ in range(int(rng.integers(1, 3))):
            words[int(rng.integers(0, len(words)))] = str(rng.choice(ascii_v, 1, p=p_ascii)[0])
        texts[i], multibyte[i] = " ".join(words), multibyte[j]
    _write(out, "documents", pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "zh", "fr", "es"], n_doc,
                           p=[0.412, 0.147, 0.147, 0.147, 0.147]),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    n_emb = c["embeddings"]
    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))
    return {"multibyte_docs": int(multibyte.sum())}


def _cell_csv(path: Path, vendor: str, cycles: int, fade: float, per_cycle: int,
              rng) -> int:
    """One cycler export in the Arbin (comma, A/V/Ah) or Neware (semicolon,
    mA/mV/mAh, positive discharge current) dialect. Discharge capacity falls
    linearly by `fade` of its first-cycle value per cycle."""
    n_chg, n_rest = per_cycle * 3 // 5, 5
    n_dis = per_cycle - n_chg - n_rest
    cyc = np.repeat(np.arange(1, cycles + 1), per_cycle)
    scale = 1.0 - fade * (cyc - 1)
    pos = np.tile(np.arange(per_cycle), cycles)
    is_chg, is_rest = pos < n_chg, pos >= n_chg + n_dis
    is_dis = ~is_chg & ~is_rest
    step = np.where(is_chg, 1, np.where(is_dis, 2, 3))
    mode = np.where(is_chg, "CC Charge", np.where(is_dis, "CC Discharge", "Rest"))
    f = np.clip((pos - n_chg) / (n_dis - 1), 0.0, 1.0)
    dis_v = np.where(f < 0.1, 4.15 - 3.5 * f,
                     np.where(f < 0.9, 3.80 - 0.15 * (f - 0.1) / 0.8, 3.65 - 6.5 * (f - 0.9)))
    dis_f = np.where(f < 0.1, f, np.where(f < 0.9, 0.10 + (f - 0.1), 0.90 + (f - 0.9)))
    volt = np.where(is_chg, 3.0 + 1.2 * pos / (n_chg - 1), np.where(is_dis, dis_v, 3.0))
    chg = np.where(is_chg, 1.5 * scale * (pos + 1) / n_chg, 1.5 * scale)
    dis = np.where(is_dis, 1.45 * scale * dis_f, np.where(is_rest, 1.45 * scale, 0.0))
    temp = np.where(is_dis, 25.5, 25.0) + np.round(rng.normal(0, 0.05, cyc.size), 2)
    t0 = np.datetime64("2024-01-01T00:00:00", "s")
    stamps = np.datetime_as_string(t0 + 10 * np.arange(cyc.size), unit="s")
    stamps = np.char.replace(stamps, "T", " ")
    if vendor == "arbin":
        cur = np.where(is_chg, 1.5, np.where(is_dis, -1.5, 0.0))
        header = ("Date_Time,Cycle_Index,Step_Index,Step_Name,Current(A),Voltage(V),"
                  "Temperature(C),Charge_Capacity(Ah),Discharge_Capacity(Ah)")
        cols = [stamps, cyc, step, mode, cur, np.round(volt, 4), temp,
                np.round(chg, 6), np.round(dis, 6)]
        sep = ","
    else:
        cur = np.where(is_rest, 0.0, 1500.0)
        header = ("Record Time;Cycle;Step;Mode;Current(mA);Voltage(mV);NTC;"
                  "Capacity Charge(mAh);Capacity Discharge(mAh);Remark")
        cols = [stamps, cyc, step, mode, cur, np.round(volt * 1000, 1), temp,
                np.round(chg * 1000, 3), np.round(dis * 1000, 3),
                np.full(cyc.size, "ok")]
        sep = ";"
    with open(path, "w") as fh:
        fh.write(header + "\n")
        fh.write("\n".join(sep.join(map(str, row)) for row in zip(*cols)))
        fh.write("\n")
    return int(cyc.size)


def battery(out: Path, seed: int) -> dict:
    """A fleet of cycler CSVs alternating Arbin and Neware dialects; each
    cell has its own cycle count and fade rate, recorded as the check facts."""
    rng = np.random.default_rng(seed)
    b = BATTERY
    cells = []
    for i in range(b["cells"]):
        vendor = "arbin" if i % 2 == 0 else "neware"
        cycles = int(rng.integers(b["cycles"][0], b["cycles"][1] + 1))
        fade = float(np.round(rng.uniform(0.0003, 0.0009), 6))
        name = f"CELL{i:02d}"
        rows = _cell_csv(out / f"{name}.csv", vendor, cycles, fade,
                         b["rows_per_cycle"], rng)
        cells.append({"cell": name, "vendor": vendor, "csv": f"{name}.csv",
                      "cycles": cycles, "fade_pct_per_cycle": -100.0 * fade,
                      "rows": rows})
    return {"cells": cells}


GENERATORS = {"analytics": analytics, "curation_nat": curation,
              "battery_fleet": battery}


def generate(workload: str, out: Path, seed: int) -> dict:
    """Write the workload's fixture for `seed` into `out` (created fresh)
    and return its manifest."""
    out.mkdir(parents=True, exist_ok=False)
    t0 = time.perf_counter()
    facts = GENERATORS[workload](out, seed)
    gen_s = time.perf_counter() - t0
    tables = {}
    for p in sorted(out.iterdir()):
        rows = (pq.ParquetFile(p).metadata.num_rows if p.suffix == ".parquet"
                else sum(1 for _ in open(p, "rb")) - 1)
        tables[p.stem] = {"rows": rows, "bytes": p.stat().st_size}
    manifest = {"workload": workload, "seed": seed, "generate_s": gen_s,
                "tables": tables, **facts}
    (out / "manifest.json").write_text(json.dumps(manifest, indent=1))
    return manifest
