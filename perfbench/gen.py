"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed:

* `write_tables` - the relational/text/vector star schema the query
  registry runs on (`region nation customer supplier part orders
  lineitem events documents embeddings`, one parquet file each), with
  the same schemas and value distributions as the synthetic tables the
  query registry was written against.
* `write_fleet` - a fleet of instrument files (Netzsch STA text export in
  both its VAL and DES variants, FAA MCC text, TA HFM UTF-16 reports in
  both run modes) sharded into per-day directories, plus a manifest of
  what each file must parse to: rows, per-column sums, units, the table
  `type` tag and the file's BLAKE2b digest (computed with `hashlib`,
  independently of the program's own hash).

The same seed always gives byte-identical files.
"""
import calendar
import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- tables

WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_tables(out_dir, seed, sf):
    """Write the ten tables at scale factor `sf` (lineitem = 6M * sf rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": REGIONS})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = np.array(P_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(P_NOUN)[rng.integers(0, 8, n_part)]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(P_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, n_ord)]})
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2499)})
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * 30 * 86400 * 1000000 // max(n_ev, 1), n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(1, int(15000 * sf)), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: ~5% are an earlier document's text with " dup" appended
    texts = []
    lens = rng.integers(10, 101, n_doc)
    word_ids = rng.integers(0, len(WORDS), int(lens.sum()))
    dup = rng.random(n_doc) < 0.05
    src = rng.integers(0, np.maximum(np.arange(n_doc), 1))
    pos = 0
    for i in range(n_doc):
        n = int(lens[i])
        if dup[i] and i > 0:
            texts.append(texts[int(src[i])] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in word_ids[pos:pos + n]))
        pos += n
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

# ----------------------------------------------------------------- fleet

STA_VAL_HEADER = ["Temp./°C", "Time/min", "Mass(subtr.)/%", "DSC(subtr.)/(mW/mg)",
                  "DTG(subtr.)/(%/min)", "Sensit./(uV/mW)", "Segment"]
STA_DES_HEADER = ["Temp./°C", "Time/min", "Mass(subtr.2)/%", "DSC(subtr.2)/(mW/mg)",
                  "DTG(subtr.2)/(%/min)", "Sensit./(uV/mW)"]
STA_COLS = ["temperature", "time", "mass", "dsc", "dtg", "sensitivity", "segment"]
STA_UNITS = {"temperature": "°C", "time": "min", "mass": "%", "dsc": "mW/mg",
             "dtg": "%/min", "sensitivity": "uV/mW", "segment": None}
MCC_HEADER = ["Time (s)", "Temperature (C)", "N2 flow rate (cc/min)",
              "O2 flow rate (cc/min)", "Flow Rate (cc/min)", "Oxygen (%)",
              "HRR (W/g)", "Heating rate (C/s)"]
MCC_COLS = ["time", "temperature", "n2_flow_rate", "o2_flow_rate", "flow_rate",
            "oxygen", "hrr", "heating_rate"]
MCC_UNITS = {"time": "s", "temperature": "°C", "n2_flow_rate": "ml/min",
             "o2_flow_rate": "ml/min", "flow_rate": "ml/min", "oxygen": "%",
             "hrr": "W/g", "heating_rate": "°C/s"}
HFM_K_COLS = ["setpoint", "upper_temperature", "lower_temperature",
              "upper_thermal_conductivity", "lower_thermal_conductivity"]
HFM_K_UNITS = {"upper_temperature": "°C", "lower_temperature": "°C",
               "upper_thermal_conductivity": "W/mK", "lower_thermal_conductivity": "W/mK"}
HFM_C_COLS = ["setpoint", "average_temperature", "volumetric_heat_capacity"]
HFM_C_UNITS = {"average_temperature": "°C", "volumetric_heat_capacity": "J/(m³K)"}


def _fmt_block(arr, decimals):
    """Rows of fixed-decimal numbers; every cell keeps a decimal point so
    CSV type inference reads the column as double."""
    return [[f"{v:.{d}f}" for v, d in zip(row, decimals)] for row in arr]


def _sta(rng, name, variant, when):
    n = int(rng.integers(900, 1300))
    t = np.round(np.linspace(0.0, 60.0 + rng.uniform(0, 5), n), 4)
    temp = np.round(25.0 + 10.0 * t + rng.normal(0, 0.05, n), 3)
    mass = np.round(100.0 - 40.0 * (t / t[-1]) + rng.normal(0, 0.01, n), 3)
    dsc = np.round(rng.normal(0.0, 0.5, n), 4)
    dtg = np.round(rng.normal(-0.5, 0.1, n), 4)
    sens = np.round(np.full(n, 1.5) + rng.normal(0, 0.01, n), 4)
    cols = [temp, t, mass, dsc, dtg, sens]
    header = STA_DES_HEADER if variant == "DES" else STA_VAL_HEADER
    meta = [
        "#EXPORTTYPE:DATA ALL",
        f"#FILE:{name.replace('.csv', '.ngb-ss3')}",
        "#FORMAT:NETZSCH5",
        "#FTYPE:ANSI",
        f"#IDENTITY:{variant}-{int(rng.integers(1000, 9999))}",
        f"#DATE/TIME:{when:%m/%d/%Y %H:%M:%S} (UTC-5)",
        "#INSTRUMENT:NETZSCH STA 449F3A",
        f"#SAMPLE:Sample {int(rng.integers(1, 99))}",
        f"#SAMPLE MASS /mg:{rng.uniform(5, 20):.3f}",
        "#PURGE 1 MFC:NITROGEN,50.0 ml/min",
        "#PURGE 2 MFC:NITROGEN,20.0 ml/min",
        "#SEG. 1:25°C/10.0(K/min)/650°C",
        "#SEGMENT:S1/1",
    ]
    body_rows = _fmt_block(np.column_stack(cols), [3, 4, 3, 4, 4, 4])
    if variant == "VAL":
        seg = rng.integers(1, 4, n)
        for r, s in zip(body_rows, seg):
            r.append(str(int(s)))
        cols.append(seg.astype(np.float64))
    text = "\n".join(meta + ["##" + ",".join(header)] + [",".join(r) for r in body_rows]) + "\n"
    names = STA_COLS if variant == "VAL" else STA_COLS[:6]
    sums = {c: float(np.sum(v)) for c, v in zip(names, cols)}
    return text.encode("iso-8859-1"), n, sums, {c: STA_UNITS[c] for c in names}


def _mcc(rng, name):
    n = int(rng.integers(2300, 2900))
    t = np.round(np.arange(n) * 0.25, 2)
    temp = np.round(75.0 + 1.0 * t + rng.normal(0, 0.1, n), 2)
    n2 = np.round(80.0 + rng.normal(0, 0.05, n), 3)
    o2 = np.round(20.0 + rng.normal(0, 0.05, n), 3)
    flow = np.round(n2 + o2, 3)
    oxy = np.round(20.0 + rng.normal(0, 0.1, n), 3)
    hrr = np.round(np.abs(rng.normal(50.0, 30.0, n)), 3)
    hr = np.round(1.0 + rng.normal(0, 0.01, n), 4)
    cols = [t, temp, n2, o2, flow, oxy, hrr, hr]
    meta = [
        f"Sample ID:\t{name.rsplit('.', 1)[0]}",
        f"Sample Weight (mg):\t{rng.uniform(2, 6):.2f}",
        "Heating Rate (C/s):\t1.00",
        "Combustor Temp (C):\t900",
        "N2 Flow Rate (cc/min):\t80.0",
        "O2 Flow Rate (cc/min):\t20.0",
        "Calibration File:\tcalib_2021.cal",
        "T Correction Coefficients:\t0.000100\t1.010000\t-0.500000",
        f"Time Shift (s):\t{int(rng.integers(10, 20))}",
        "*",
        "\t".join(MCC_HEADER),
    ]
    body = ["\t".join(r) for r in _fmt_block(np.column_stack(cols), [2, 2, 3, 3, 3, 3, 3, 4])]
    text = "\r\n".join(meta + body) + "\r\n"
    sums = {c: float(np.sum(v)) for c, v in zip(MCC_COLS, cols)}
    return text.encode("ascii"), n, sums, dict(MCC_UNITS)


def _hfm(rng, name, mode, when):
    day = calendar.day_name[when.weekday()]
    stamp = f"{day}, {when:%B} {when.day}, {when.year}, Time {when.hour}:{when.minute:02d}"
    n_sp = int(rng.integers(4, 7))
    blocks = n_sp if mode == "conductivity" else n_sp - 1
    lines = [stamp, "", "Instrument: FOX 314", "Serial Number: 1234", "",
             f"Sample Name: {name.rsplit('.', 1)[0]}"]
    if mode == "heat_capacity":
        lines.append("Run Mode: Specific Heat")
        lines.append(f"Transducer Heat Capacity Coefficients: A={rng.uniform(0.1, 1):.4f}, "
                     f"B={rng.uniform(1, 5):.4f}")
    th = rng.uniform(5, 25)
    lines += [f"Thickness: {th:.2f}mm",
              f"Rear Left :{th + 0.01:.2f}mm Rear Right: {th - 0.01:.2f}mm",
              f"Front Left: {th + 0.02:.2f}mm Front Right: {th - 0.02:.2f}mm",
              "[generated report]", "Thickness obtained: from instrument",
              "Calibration used: standard", "Calibration File Id: CAL-7",
              f"Number of Setpoints: {n_sp}", ""]
    rows = []
    for k in range(1, blocks + 1):
        lines.append(f"Block Averages for setpoint {k}")
        for b in range(10):
            lines.append(f"  {b + 1}   {rng.uniform(100, 200):.3f}   {rng.uniform(100, 200):.3f}")
        lines.append(stamp)
        lines.append("")
        lines.append(f"Setpoint No. {k}")
        if mode == "conductivity":
            up, lo = 10.0 + 10 * k, 0.5 + 10 * k
            tu, tl = round(up + rng.uniform(0, 0.05), 2), round(lo + rng.uniform(0, 0.05), 2)
            ku, kl = round(rng.uniform(0.15, 0.25), 4), round(rng.uniform(0.15, 0.25), 4)
            lines += [f"Setpoint Upper: {up:.2f}°C", f"Setpoint Lower: {lo:.2f}°C",
                      f"Temperature Upper: {tu:.2f}°C", f"Temperature Lower: {tl:.2f}°C",
                      f"CalibFactor  Upper: {rng.uniform(100, 130):.3f}",
                      f"CalibFactor  Lower: {rng.uniform(100, 130):.3f}",
                      f"Results Upper: {ku:.4f} W/mK", f"Results Lower: {kl:.4f} W/mK",
                      "Temperature Equilibrium: 0.2", "Between Block HFM Equil.: 5.0",
                      "HFM Percent Change: 2.0", "Min Number of Blocks: 10.0",
                      "Calculation Blocks: 5.0"]
            rows.append([k, tu, tl, ku, kl])
        else:
            ta = round(5.0 + 10 * k + rng.uniform(0, 0.05), 2)
            vhc = int(rng.integers(1000000, 2000000))
            lines += [f"Temperature Average: {ta:.2f}°C",
                      f"Specific Heat: {vhc} J/(m³K)",
                      "Temperature Equilibrium: 0.2", "Calculation Blocks: 5.0"]
            rows.append([k, ta, float(vhc)])
        lines.append("")
    text = "\r\n".join(lines) + "\r\n"
    cols = HFM_K_COLS if mode == "conductivity" else HFM_C_COLS
    units = HFM_K_UNITS if mode == "conductivity" else HFM_C_UNITS
    arr = np.array(rows, dtype=np.float64)
    sums = {c: float(arr[:, i].sum()) for i, c in enumerate(cols)}
    run_type = "conductivity" if mode == "conductivity" else "volumetric_heat_capacity"
    return b"\xff\xfe" + text.encode("utf-16-le"), len(rows), sums, dict(units), run_type


def write_fleet(out_dir, seed, shards, sta_per_shard, mcc_per_shard, hfm_per_shard):
    """Write `shards` per-day directories of instrument files and return
    the manifest (also written to `out_dir/manifest.json`)."""
    rng = np.random.default_rng([seed, 2])
    files = []
    for s in range(shards):
        day = dt.datetime(2024, 3, 1) + dt.timedelta(days=s)
        shard = os.path.join(out_dir, f"day={day:%Y-%m-%d}")
        os.makedirs(shard, exist_ok=True)
        specs = ([("STA", i) for i in range(sta_per_shard)] +
                 [("MCC", i) for i in range(mcc_per_shard)] +
                 [("HFM", i) for i in range(hfm_per_shard)])
        for kind, i in specs:
            when = day + dt.timedelta(minutes=int(rng.integers(0, 1440)))
            entry = {"shard": shard, "kind": kind}
            if kind == "STA":
                variant = "VAL" if rng.random() < 0.5 else "DES"
                name = f"DF_FILED_{variant}_STA_N2_10K_{day:%y%m%d}_R{i + 1}.csv"
                data, n, sums, units = _sta(rng, name, variant, when)
                entry.update(variant=variant)
            elif kind == "MCC":
                name = f"Sample{i + 1}_MCC_30K_min_{day:%y%m%d}_R{i + 1}.txt"
                data, n, sums, units = _mcc(rng, name)
            else:
                mode = "conductivity" if rng.random() < 0.5 else "heat_capacity"
                name = f"Sample{i + 1}_HFM_{mode}_{day:%y%m%d}_R{i + 1}.tst"
                data, n, sums, units, run_type = _hfm(rng, name, mode, when)
                entry.update(run_type=run_type)
            path = os.path.join(shard, name)
            with open(path, "wb") as f:
                f.write(data)
            entry.update(path=path, name=name, bytes=len(data), rows=n, sums=sums,
                         units=units, blake2b=hashlib.blake2b(data).hexdigest())
            files.append(entry)
    manifest = {"seed": seed, "files": files}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest
