"""Seeded input generators for the graft benchmark.

Every generator is a pure function of (seed, size) and runs on one
thread. Each writes under the directory it is given and returns a dict
of input sizes plus the facts the correctness checks need (planted
peaks, expected ring sums, the tail append schedule).
"""
import json
import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, family):
    return np.random.default_rng([seed, family])


# ---------------------------------------------------------------- SPEC

SCAN_LENGTHS = np.array([16, 32, 64, 128])
SCAN_LENGTH_P = np.array([0.3, 0.3, 0.3, 0.1])
# every corpus file also holds one long scan with MCA spectra, a block
# large enough for the reader's read-ahead thread; MCA_SHARE of the
# other scans carry MCA spectra too
LONG_SCAN = 1024
MCA_SHARE = 0.05
MCA_CHANNELS = 128
MOTORS = ["Two Theta", "Theta", "Chi", "Phi"]


def _scan_text(rng, no, with_mca, n=None):
    """One complete `#S` block with a planted Gaussian on the th axis.

    Returns (text, facts) where facts holds the planted centre and
    width and the point count."""
    n = n or int(rng.choice(SCAN_LENGTHS, p=SCAN_LENGTH_P))
    step = 0.01
    x0 = round(float(rng.uniform(5.0, 40.0)), 2)
    xs = x0 + step * np.arange(n)
    sigma = step * float(rng.uniform(2.0, 0.08 * n + 2.0))
    centre = x0 + step * (n - 1) * float(rng.uniform(0.35, 0.65))
    height = float(rng.uniform(2000.0, 20000.0))
    bg = float(rng.uniform(5.0, 50.0))
    mon = rng.integers(9800, 10200, size=n)
    expect = (bg + height * np.exp(-((xs - centre) ** 2) / (2 * sigma * sigma))) * mon / 1e4
    det = rng.poisson(expect)
    h0, k0, l0 = rng.integers(0, 3, size=3)
    hs = h0 + 0.001 * np.arange(n)
    ls = l0 + 0.5 + 0.002 * np.arange(n)
    out = [f"#S {no}  ascan  th {xs[0]:.4f} {xs[-1]:.4f} {n - 1} 1\n",
           "#D Mon Jan 01 00:10:00 2024\n",
           "#T 1  (Seconds)\n",
           "#G0 0 0 1 0 0 1 0 -1 0 0 0 0 0 0 0 0 0 0\n",
           "#G1 3.905 3.905 3.905 90 90 90 1.609 1.609 1.609 90 90 90 0 0 1 1 1 0\n",
           f"#Q {h0} {k0} {l0 + 0.5}\n",
           "#M 10000  (Monitor)\n",
           f"#P0 {2 * x0:.4f} {x0:.4f} 90 0\n",
           "#N 7\n",
           "#L H  K  L  th  Epoch  Monitor  Detector\n"]
    for i in range(n):
        if with_mca:
            ch = rng.integers(0, 50, size=MCA_CHANNELS)
            half = MCA_CHANNELS // 2
            out.append("@A " + " ".join(map(str, ch[:half])) + " \\\n")
            out.append(" ".join(map(str, ch[half:])) + "\n")
        out.append(f"{hs[i]:.4f} {k0} {ls[i]:.4f} {xs[i]:.4f} {i} {mon[i]} {det[i]}\n")
    out.append("\n")
    return "".join(out), {"scan": no, "centre": centre, "sigma": sigma, "points": n}


def _file_header(name):
    return (f"#F {name}\n#E 1704067200\n#D Mon Jan 01 00:00:00 2024\n"
            f"#O0 {'  '.join(MOTORS)}\n\n")


def spec_corpus(out_dir, seed, n_files, n_scans):
    """A multi-file SPEC corpus; scan numbers are unique across files."""
    rng = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    peaks, points, nbytes = [], 0, 0
    per_file = np.array_split(np.arange(1, n_scans + 1), n_files)
    for f, scans in enumerate(per_file):
        name = f"corpus_{f:03d}.spec"
        parts = [_file_header(name)]
        # the seed orders a fixed mix of lengths, so every seed reads
        # the same number of points and bytes
        n = len(scans) - 1
        lengths = np.repeat(SCAN_LENGTHS, np.floor(SCAN_LENGTH_P * n + 0.5).astype(int))
        lengths = np.concatenate([lengths, SCAN_LENGTHS[:max(0, n - len(lengths))]])[:n]
        mca = np.zeros(n, dtype=bool)
        mca[:int(round(MCA_SHARE * n))] = True
        order = rng.permutation(n)
        plan = [(int(lengths[k]), bool(mca[k])) for k in order]
        plan.insert(int(rng.integers(0, n + 1)), (LONG_SCAN, True))
        for no, (length, with_mca) in zip(scans, plan):
            text, facts = _scan_text(rng, int(no), with_mca, length)
            parts.append(text)
            peaks.append(facts)
            points += facts["points"]
        data = "".join(parts).encode()
        nbytes += len(data)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
    return {"files": n_files, "scans": n_scans, "points": points, "bytes": nbytes,
            "peaks": peaks}


def _live_com(text):
    """The LIVE query's background-corrected centre of mass, computed from
    the th and Detector values exactly as the block prints them."""
    rows = [line.split() for line in text.splitlines() if line and line[0] not in "#@"]
    x = np.array([float(r[3]) for r in rows])
    w = np.array([float(r[6]) for r in rows])
    floor = w.min()
    return float((np.sum(x * w) - floor * np.sum(x)) / (np.sum(w) - floor * len(w)))


def spec_tail(out_dir, payload_path, seed, n_files, n_scans):
    """Payload for the tail: scan blocks appended round-robin to
    `n_files` live files, which start with only their header. The
    benchmark replays the blocks in order."""
    rng = _rng(seed, 2)
    os.makedirs(out_dir, exist_ok=True)
    payload = bytearray()
    index, points = [], 0
    for f in range(n_files):
        with open(os.path.join(out_dir, f"live_{f:02d}.spec"), "wb") as fh:
            fh.write(_file_header(f"live_{f:02d}.spec").encode())
    for i in range(n_scans):
        text, facts = _scan_text(rng, i // n_files + 1, False)
        data = text.encode()
        index.append({"file": i % n_files, "offset": len(payload), "length": len(data),
                      "scan": facts["scan"], "points": facts["points"], "com": _live_com(text)})
        payload += data
        points += facts["points"]
    with open(payload_path, "wb") as fh:
        fh.write(payload)
    return {"files": n_files, "scans": n_scans, "points": points, "bytes": len(payload),
            "appends": index}


# ----------------------------------------------------------------- CCD

def ccd_pixels(frame, phase, h, w):
    """Closed-form integer frame: every value fits an unsigned short."""
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return (r * r + c * c + 3 * frame + phase) % 97 + 100 * (frame % 3) + 1000


def ccd_dark(h, w):
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return (r + 2 * c) % 13 + 90


def _ring_sums(pix, cx, cy):
    """Pixel sums per integer radius floor(sqrt(dr² + dc²)) around (cx, cy)."""
    h, w = pix.shape
    r = np.arange(h, dtype=np.int64)[:, None] - cy
    c = np.arange(w, dtype=np.int64)[None, :] - cx
    rbin = np.floor(np.sqrt((r * r + c * c).astype(np.float64))).astype(np.int64).ravel()
    return np.bincount(rbin, weights=pix.ravel().astype(np.float64))


def _edf_header(h, w):
    body = ("{\nHeaderID = EH:000001:000000:000000 ;\nImage = 1 ;\n"
            "ByteOrder = LowByteFirst ;\nDataType = UnsignedShort ;\n"
            f"Dim_1 = {w} ;\nDim_2 = {h} ;\nSize = {w * h * 2} ;\n")
    total = -(-(len(body) + 2) // 512) * 512
    return (body + " " * (total - len(body) - 2) + "}\n").encode()


def _tiff_stack(frames, h, w):
    """Little-endian multi-page uint16 TIFF, one strip per page."""
    out = bytearray(b"II*\x00\x00\x00\x00\x00")
    prev_next = 4
    for pix in frames:
        data_off = len(out)
        out += pix.astype("<u2").tobytes()
        ifd_off = len(out)
        struct.pack_into("<I", out, prev_next, ifd_off)
        tags = [(256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 16), (259, 3, 1, 1),
                (273, 4, 1, data_off), (277, 3, 1, 1), (279, 4, 1, w * h * 2),
                (339, 3, 1, 1)]
        out += struct.pack("<H", len(tags))
        for tag, typ, cnt, val in tags:
            out += struct.pack("<HHI", tag, typ, cnt)
            out += struct.pack("<HH", val, 0) if typ == 3 else struct.pack("<I", val)
        prev_next = len(out)
        out += b"\x00\x00\x00\x00"
    return bytes(out)


def ccd_stacks(out_dir, seed, n_edf, n_tiff, frames_per_file, size):
    """EDF and TIFF stacks of closed-form frames plus the dark frame, and
    the exact dark-subtracted ring sums of every frame keyed
    `<file>#<frame>`."""
    rng = _rng(seed, 3)
    os.makedirs(os.path.join(out_dir, "edf"), exist_ok=True)
    os.makedirs(os.path.join(out_dir, "tiff"), exist_ok=True)
    h = w = size
    # the beam centre is an instrument constant: the same for every seed,
    # so the warm-up input plans exactly the same profile
    cx, cy = w // 2 - 7, h // 2 + 5
    dark = ccd_dark(h, w)
    expected, nbytes, frame_no = {}, 0, 0
    for kind, n_files in (("edf", n_edf), ("tiff", n_tiff)):
        for f in range(n_files):
            name = f"{kind}_{f:03d}.{kind}"
            frames = []
            phase = int(rng.integers(0, 97))
            for k in range(frames_per_file):
                frames.append(ccd_pixels(frame_no, phase, h, w))
                frame_no += 1
            if kind == "edf":
                data = b"".join(_edf_header(h, w) + p.astype("<u2").tobytes() for p in frames)
            else:
                data = _tiff_stack(frames, h, w)
            nbytes += len(data)
            with open(os.path.join(out_dir, kind, name), "wb") as fh:
                fh.write(data)
            for k, pix in enumerate(frames):
                sums = _ring_sums(pix - dark, cx, cy)
                expected[f"{name}#{k}"] = [int(round(v)) for v in sums]
    with open(os.path.join(out_dir, "dark.json"), "w") as fh:
        json.dump({"width": w, "height": h, "pixels": dark.ravel().tolist()}, fh)
    return {"files": n_edf + n_tiff, "frames": frame_no, "pixels": frame_no * h * w,
            "bytes": nbytes, "cx": cx, "cy": cy, "ring_sums": expected}


# -------------------------------------------------------------- tables

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group big "
         "sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts(values_us):
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def tables(out_dir, seed, sf):
    """The star-schema + text + embedding tables the gates read, at
    scale factor `sf` (lineitem ~ 6M x sf rows)."""
    rng = _rng(seed, 4)
    os.makedirs(out_dir, exist_ok=True)
    n_supp = max(10, int(1000 * sf * 10) // 10)
    n_cust, n_part = int(150000 * sf), int(200000 * sf)
    n_orders, n_events = int(1500000 * sf), int(1000000 * sf)
    n_docs, n_vecs, n_users = int(50000 * sf), max(500, int(20000 * sf)), max(150, int(15000 * sf))
    day_us = 86400 * 10**6
    epoch95 = np.datetime64("1995-01-01", "us").astype(np.int64)

    _write(out_dir, "region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                               "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    segments = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    adj = np.array(["small", "red", "hot", "old", "big", "blue"])
    noun = np.array(["plate", "widget", "ring", "rod", "gear", "bolt"])
    types = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 6, n_part)], " "),
                              noun[rng.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = epoch95 + rng.integers(0, 2404, n_orders) * day_us
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_orders)]})
    lines = np.clip(rng.poisson(3.1, n_orders) + 1, 1, 13)
    lines[rng.random(n_orders) < 0.017] = 0
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines if k]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, n_li) * day_us)})
    ets = np.datetime64("2024-01-01", "us").astype(np.int64) + \
        np.sort(rng.integers(0, 30 * day_us, n_events))
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ets),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[
            rng.integers(0, 5, n_events)],
        "value": np.round(np.maximum(rng.exponential(49.6, n_events), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    words = np.array(WORDS)
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vec = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    nbytes = sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
    return {"tables": 10, "lineitem_rows": n_li, "orders_rows": n_orders,
            "documents_rows": n_docs, "events_rows": n_events, "bytes": nbytes}
