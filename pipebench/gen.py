#!/usr/bin/env python3
"""Seeded input generators for the three benchmark workloads.

Every byte is written here from the public format specifications (WMO FM 92
GRIB2, Unidata NetCDF classic, TIFF 6.0 + GeoTIFF, ESRI shapefile + dBASE III),
never by graft's own writers, so a matching benchmark output cross-checks the
format readers too. Each generator also writes expected-value parquet files
computed from the generating formula; the DuckDB oracle (oracle.py) replays the
pipelines over those.

The same (workload, seed, size) always yields byte-identical files.

Usage: gen.py <flood_e2e|deforestation_zonal|curation_dedup> <seed> <out_dir> [full|tiny]
"""
import json
import os
import struct
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes. `full` is what the benchmark times; `tiny` is the smoke test's.
SIZES = {
    "full": {
        "flood": {"n": 40, "members": 12, "steps": 8},
        "deforestation": {"px": 1000, "tile": 256, "basins": 8},
        "curation": {"docs": 800},
    },
    "tiny": {
        "flood": {"n": 12, "members": 4, "steps": 4},
        "deforestation": {"px": 300, "tile": 128, "basins": 3},
        "curation": {"docs": 600},
    },
}


def rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, salt]))


def write_parquet(cols: dict, path: str) -> None:
    pq.write_table(pa.table(cols), path, compression="zstd")


# ---------------------------------------------------------------- flood ---
# Ensemble grid: a window of the GloFAS 0.05-degree lattice. Coordinates are
# packed as micro-degrees, and both sides derive them as micro / 1e6.
LA1_U, LO1_U, D_U = 15_975_000, 12_025_000, 50_000
RP_PAD = 6  # threshold grids extend this many cells beyond the window
RP_VARS = {2: "2yRP_GloFASv4", 5: "5yRP_GloFASv4", 20: "20yRP_GloFASv4"}


def _grib_sec(num: int, body: bytes) -> bytes:
    return struct.pack(">IB", 5 + len(body), num) + body


def grib_message(ens_type, number, n_members, step_days, n, values) -> bytes:
    """One GRIB2 message: template 3.0 lat/lon grid, 4.1 ensemble product,
    5.0 simple packing with R=0, E=0, D=0 (16-bit integers, exact)."""
    s1 = _grib_sec(1, struct.pack(">HHBBBHBBBBBBB", 98, 0, 2, 1, 1,
                                  2026, 1, 1, 0, 0, 0, 0, 1))
    t3 = struct.pack(">BBIBIBIIIII", 6, 0, 0, 0, 0, 0, 0, n, n, 0, 0)
    t3 += struct.pack(">iI", LA1_U, LO1_U)
    t3 += struct.pack(">B", 0x30)
    t3 += struct.pack(">iI", LA1_U - (n - 1) * D_U, LO1_U + (n - 1) * D_U)
    t3 += struct.pack(">IIB", D_U, D_U, 0)
    s3 = _grib_sec(3, struct.pack(">BIBBH", 0, n * n, 0, 0, 0) + t3)
    t4 = struct.pack(">BBBBBHBBi", 0, 192, 2, 0, 0, 0, 0, 1, 24 * step_days)
    t4 += struct.pack(">BbI", 1, 0, 0) + struct.pack(">BbI", 255, 0, 0)
    t4 += struct.pack(">BBB", ens_type, number, n_members)
    s4 = _grib_sec(4, struct.pack(">HH", 0, 1) + t4)
    s5 = _grib_sec(5, struct.pack(">IHfhhBB", n * n, 0, 0.0, 0, 0, 16, 0))
    s6 = _grib_sec(6, struct.pack(">B", 255))
    s7 = _grib_sec(7, values.astype(">u2").tobytes())
    body = s1 + s3 + s4 + s5 + s6 + s7 + b"7777"
    return b"GRIB" + struct.pack(">HBBQ", 0, 0, 2, 16 + len(body)) + body


def _pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def _cdf_name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">I", len(b)) + _pad4(b)


def write_cdf1(path, lats, lons, var, grid) -> None:
    """NetCDF classic (CDF-1): lat(f8) descending, lon(f8), var(lat, lon) f4."""
    datas = [_pad4(np.asarray(lats, ">f8").tobytes()),
             _pad4(np.asarray(lons, ">f8").tobytes()),
             _pad4(np.asarray(grid, ">f4").tobytes())]

    def entry(nm, dims, typ, size, begin):
        return (_cdf_name(nm) + struct.pack(">I", len(dims)) +
                b"".join(struct.pack(">I", d) for d in dims) +
                struct.pack(">II", 0, 0) + struct.pack(">III", typ, size, begin))

    def header(begins):
        h = b"CDF\x01" + struct.pack(">I", 0)
        h += struct.pack(">II", 0x0A, 2)
        h += _cdf_name("lat") + struct.pack(">I", len(lats))
        h += _cdf_name("lon") + struct.pack(">I", len(lons))
        h += struct.pack(">II", 0, 0)
        h += struct.pack(">II", 0x0B, 3)
        h += entry("lat", [0], 6, len(datas[0]), begins[0])
        h += entry("lon", [1], 6, len(datas[1]), begins[1])
        h += entry(var, [0, 1], 5, len(datas[2]), begins[2])
        return h

    b0 = len(header([0, 0, 0]))
    b0 += -b0 % 4
    begins = [b0, b0 + len(datas[0]), b0 + len(datas[0]) + len(datas[1])]
    h = header(begins)
    with open(path, "wb") as f:
        f.write(h + b"\x00" * (b0 - len(h)) + b"".join(datas))


def gen_flood(seed: int, out: str, n: int, members: int, steps: int) -> dict:
    r = rng(seed, 1)
    cells = n * n
    # per-cell 2-year return level; 5y/20y scale it (integer-valued floats)
    pad = n + 2 * RP_PAD
    base_pad = r.integers(200, 1200, size=(pad, pad))
    t2 = base_pad.astype(np.float64)
    t5 = np.round(t2 * 1.5)
    t20 = np.round(t2 * 2.2)
    base = base_pad[RP_PAD:RP_PAD + n, RP_PAD:RP_PAD + n].reshape(cells)
    # ~40% of cells see a flood wave peaking at a seeded lead day
    flood = r.random(cells) < 0.4
    peak_day = r.integers(1, steps + 1, size=cells)
    height = np.where(flood, r.uniform(1.1, 2.6, size=cells), r.uniform(0.4, 0.9, size=cells))

    def field(m: int, s: int) -> np.ndarray:
        shape = 1.0 + (height - 1.0) * np.exp(-((s - peak_day) / 2.5) ** 2)
        noise = 1.0 + 0.25 * rng(seed, 1000 + m * 997 + s).standard_normal(cells)
        return np.clip(np.round(base * shape * noise), 0, 65535).astype(np.int64)

    n_members = members + 1
    with open(os.path.join(out, "cf.grib2"), "wb") as fc, \
            open(os.path.join(out, "pf.grib2"), "wb") as fp:
        for s in range(1, steps + 1):
            fc.write(grib_message(1, 0, n_members, s, n, field(0, s)))
            for m in range(1, members + 1):
                fp.write(grib_message(3, m, n_members, s, n, field(m, s)))

    la1, lo1, d = LA1_U / 1e6, LO1_U / 1e6, D_U / 1e6
    j, i = np.divmod(np.arange(cells), n)
    lat, lon = la1 - j * d, lo1 + i * d
    ms = [(m, s) for s in range(1, steps + 1) for m in range(0, members + 1)]
    write_parquet({
        "number": pa.array(np.repeat([m for m, _ in ms], cells), pa.int32()),
        "step_hours": pa.array(np.repeat([24 * s for _, s in ms], cells), pa.int32()),
        "latitude": np.tile(lat, len(ms)),
        "longitude": np.tile(lon, len(ms)),
        "value": np.concatenate([field(m, s) for m, s in ms]).astype(np.float64),
    }, os.path.join(out, "forecast_expected.parquet"))

    rp_lats = [(LA1_U + RP_PAD * D_U - k * D_U) / 1e6 for k in range(pad)]
    rp_lons = [(LO1_U - RP_PAD * D_U + k * D_U) / 1e6 for k in range(pad)]
    for rp, grid in ((2, t2), (5, t5), (20, t20)):
        write_cdf1(os.path.join(out, f"rp{rp}.nc"), rp_lats, rp_lons, RP_VARS[rp], grid)
    pj, pi = np.divmod(np.arange(pad * pad), pad)
    write_parquet({
        "latitude": np.asarray(rp_lats)[pj], "longitude": np.asarray(rp_lons)[pi],
        "threshold_2y": t2.reshape(-1), "threshold_5y": t5.reshape(-1),
        "threshold_20y": t20.reshape(-1),
    }, os.path.join(out, "thresholds_expected.parquet"))
    return {"n": n, "members": members, "steps": steps,
            "la1": la1, "lo1": lo1, "res": d,
            "lat_min": la1 - (n - 1) * d, "lat_max": la1,
            "lon_min": lo1, "lon_max": lo1 + (n - 1) * d,
            "input_rows": cells * n_members * steps,
            "input_bytes": sum(os.path.getsize(os.path.join(out, f))
                               for f in ("cf.grib2", "pf.grib2")),
            "nc_bytes": sum(os.path.getsize(os.path.join(out, f"rp{p}.nc"))
                            for p in RP_VARS)}


# -------------------------------------------------------- deforestation ---
RES = 0.00025          # GFC ~30 m pixels, in degrees
OX, OY = 10.0, 0.5     # top-left corner of the raster


def _ifd(tag, typ, count, value) -> bytes:
    return struct.pack("<HHII", tag, typ, count, value)


def write_tiled_tiff(path, img, tile) -> None:
    """Little-endian classic TIFF, one 8-bit band, DEFLATE tiles with zero
    padding at the right/bottom edges, GeoTIFF pixel scale + tiepoint."""
    h, w = img.shape
    th, tw = -(-h // tile), -(-w // tile)
    padded = np.zeros((th * tile, tw * tile), np.uint8)
    padded[:h, :w] = img
    blocks = [zlib.compress(padded[a * tile:(a + 1) * tile, b * tile:(b + 1) * tile].tobytes(), 6)
              for a in range(th) for b in range(tw)]
    scale = struct.pack("<3d", RES, RES, 0.0)
    tie = struct.pack("<6d", 0.0, 0.0, 0.0, OX, OY, 0.0)
    nb = len(blocks)
    scale_off = 8
    tie_off = scale_off + len(scale)
    offs_off = tie_off + len(tie)
    cnts_off = offs_off + 4 * nb
    pos = cnts_off + 4 * nb
    block_offs = []
    for b in blocks:
        block_offs.append(pos)
        pos += len(b)
    entries = sorted([
        _ifd(256, 4, 1, w), _ifd(257, 4, 1, h), _ifd(258, 3, 1, 8),
        _ifd(259, 3, 1, 8), _ifd(262, 3, 1, 1), _ifd(277, 3, 1, 1),
        _ifd(322, 3, 1, tile), _ifd(323, 3, 1, tile),
        _ifd(324, 4, nb, offs_off), _ifd(325, 4, nb, cnts_off),
        _ifd(339, 3, 1, 1), _ifd(33550, 12, 3, scale_off),
        _ifd(33922, 12, 6, tie_off),
    ], key=lambda e: struct.unpack("<H", e[:2])[0])
    with open(path, "wb") as f:
        f.write(b"II" + struct.pack("<HI", 42, pos) + scale + tie)
        f.write(struct.pack(f"<{nb}I", *block_offs))
        f.write(struct.pack(f"<{nb}I", *[len(b) for b in blocks]))
        for b in blocks:
            f.write(b)
        f.write(struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0))


def write_box_shapefile(stem, boxes) -> None:
    """Polygon shapefile (.shp/.shx/.dbf), one closed 5-point ring per box
    (lon_min, lat_min, lon_max, lat_max), zone id in the HYBAS_ID field."""
    def content(b):
        x0, y0, x1, y1 = b
        xs, ys = [x0, x1, x1, x0, x0], [y0, y0, y1, y1, y0]
        c = struct.pack("<i4d", 5, x0, y0, x1, y1) + struct.pack("<iii", 1, 5, 0)
        return c + b"".join(struct.pack("<2d", x, y) for x, y in zip(xs, ys))

    recs = [content(b[1:]) for b in boxes]
    bbox = (min(b[1] for b in boxes), min(b[2] for b in boxes),
            max(b[3] for b in boxes), max(b[4] for b in boxes))

    def header(words):
        return (struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", words) +
                struct.pack("<ii", 1000, 5) + struct.pack("<4d", *bbox) + b"\x00" * 32)

    body, index, pos = b"", b"", 50
    for k, c in enumerate(recs):
        body += struct.pack(">ii", k + 1, len(c) // 2) + c
        index += struct.pack(">ii", pos, len(c) // 2)
        pos += 4 + len(c) // 2
    with open(stem + ".shp", "wb") as f:
        f.write(header(pos) + body)
    with open(stem + ".shx", "wb") as f:
        f.write(header(50 + len(index) // 2) + index)
    field = b"HYBAS_ID\x00\x00\x00N" + b"\x00" * 4 + bytes([12, 0]) + b"\x00" * 14
    dbf = struct.pack("<BBBBIHH", 3, 126, 1, 1, len(boxes), 65, 13) + b"\x00" * 20
    dbf += field + b"\x0d"
    dbf += b"".join(b" " + str(b[0]).rjust(12).encode() for b in boxes) + b"\x1a"
    with open(stem + ".dbf", "wb") as f:
        f.write(dbf)


def gen_deforestation(seed: int, out: str, px: int, tile: int, basins: int) -> dict:
    r = rng(seed, 2)
    # clustered loss: a coarse field of patch years, ~20% of pixels lost
    coarse = -(-px // 25)
    patch_year = r.integers(1, 23, size=(coarse, coarse))
    patch_on = r.random((coarse, coarse)) < 0.35
    up = np.kron(np.where(patch_on, patch_year, 0), np.ones((25, 25), np.int64))[:px, :px]
    speckle = r.random((px, px)) < 0.57
    img = np.where(speckle, up, 0).astype(np.uint8)
    write_tiled_tiff(os.path.join(out, "lossyear.tif"), img, tile)

    # basin boxes: a seeded irregular grid whose edges sit on pixel edges
    def cuts():
        inner = np.sort(r.choice(np.arange(1, basins * 4), basins - 1, replace=False))
        return np.concatenate([[0], inner * px // (basins * 4), [px]])
    rows, cols = cuts(), cuts()
    boxes = []
    for a in range(basins):
        for b in range(basins):
            k = a * basins + b
            boxes.append((1_060_000_000 + 7 * k,
                          OX + cols[b] * RES, OY - rows[a + 1] * RES,
                          OX + cols[b + 1] * RES, OY - rows[a] * RES))
    write_box_shapefile(os.path.join(out, "basins"), boxes)

    rr, cc = np.divmod(np.arange(px * px), px)
    write_parquet({
        "x": OX + (cc + 0.5) * RES, "y": OY - (rr + 0.5) * RES,
        "lossyear": pa.array(img.reshape(-1), pa.int32()),
    }, os.path.join(out, "pixels_expected.parquet"))
    write_parquet({
        "HYBAS_ID": pa.array([b[0] for b in boxes], pa.int64()),
        "lon_min": [b[1] for b in boxes], "lat_min": [b[2] for b in boxes],
        "lon_max": [b[3] for b in boxes], "lat_max": [b[4] for b in boxes],
    }, os.path.join(out, "basins_expected.parquet"))
    return {"px": px, "res": RES, "ox": OX, "oy": OY, "basin_cell": px * RES / basins,
            "input_rows": px * px,
            "input_bytes": os.path.getsize(os.path.join(out, "lossyear.tif")),
            "shp_bytes": sum(os.path.getsize(os.path.join(out, "basins" + e))
                             for e in (".shp", ".shx", ".dbf"))}


# ------------------------------------------------------------- curation ---
LANGS = ["en", "de", "fr", "es", "it", "pt"]
LANG_P = [0.4, 0.15, 0.15, 0.12, 0.1, 0.08]
SYLL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "da", "fi",
        "go", "hu", "be", "ro", "ta", "ni", "ma", "lu", "qe", "xo", "wi", "ju"]
VOCAB = 6000


def _vocab(r, lang: str) -> list:
    words = set()
    while len(words) < VOCAB:
        lens = r.integers(1, 4, size=VOCAB)
        syl = r.integers(0, len(SYLL), size=(VOCAB, 3))
        for n, row in zip(lens.tolist(), syl.tolist()):
            if len(words) < VOCAB:
                words.add(lang[0] + "".join(SYLL[x] for x in row[:n]))
    return sorted(words)


def gen_curation(seed: int, out: str, docs: int) -> dict:
    r = rng(seed, 3)
    vocab = {lang: _vocab(r, lang) for lang in LANGS}
    zipf = np.cumsum(1.0 / (np.arange(VOCAB) + 2.7) ** 1.05)
    zipf /= zipf[-1]
    lang_cdf = np.cumsum(LANG_P)

    def pick_lang():
        return LANGS[int(np.searchsorted(lang_cdf, r.random() * lang_cdf[-1]))]

    def sentence_text(words):
        out_w, k = [], 0
        while k < len(words):
            n = int(r.integers(7, 15))
            chunk = list(words[k:k + n])
            chunk[0] = chunk[0].capitalize()
            chunk[-1] += "."
            out_w += chunk
            k += n
        return " ".join(out_w)

    ids, langs, texts, kinds, srcs, nwords = [], [], [], [], [], []
    originals = []  # (doc index) of long original docs, copy sources
    for d in range(docs):
        u = r.random()
        if u < 0.01 and originals:            # exact copy of an earlier doc
            s = originals[int(r.integers(0, len(originals)))]
            lang, text, kind, n = langs[s], texts[s], "exact_copy", nwords[s]
        elif u < 0.02 and originals:          # near copy: one word replaced
            s = originals[int(r.integers(0, len(originals)))]
            w = texts[s].split(" ")
            p = int(r.integers(len(w) // 2, len(w) - 1))
            w[p] = "zz" + w[p]
            lang, text, kind, n = langs[s], " ".join(w), "near_copy", nwords[s]
        elif u < 0.07:                        # low-quality repetitive doc
            lang = pick_lang()
            few = [vocab[lang][int(x)] for x in r.integers(0, 20, 3)]
            n = int(r.integers(10, 30))
            text, kind = " ".join(few[int(x)] for x in r.integers(0, 3, n)), "low_quality"
        else:
            lang = pick_lang()
            n = int(r.integers(30, 151))
            ws = [vocab[lang][int(x)] for x in np.searchsorted(zipf, r.random(n))]
            text, kind = sentence_text(ws), "original"
            s = d
            if n >= 50:
                originals.append(d)
        ids.append(d)
        langs.append(lang)
        texts.append(text)
        kinds.append(kind)
        srcs.append(s if kind.endswith("copy") else d)
        nwords.append(n)
    write_parquet({"doc_id": pa.array(ids, pa.int64()), "lang": langs, "text": texts},
                  os.path.join(out, "documents.parquet"))
    write_parquet({"doc_id": pa.array(ids, pa.int64()), "kind": kinds,
                   "src_id": pa.array(srcs, pa.int64()),
                   "n_words": pa.array(nwords, pa.int64())},
                  os.path.join(out, "documents_expected.parquet"))
    return {"docs": docs, "input_rows": docs,
            "input_bytes": os.path.getsize(os.path.join(out, "documents.parquet"))}


GENERATORS = {
    "flood_e2e": ("flood", gen_flood),
    "deforestation_zonal": ("deforestation", gen_deforestation),
    "curation_dedup": ("curation", gen_curation),
}


def generate(workload: str, seed: int, out: str, size: str = "full") -> dict:
    key, fn = GENERATORS[workload]
    os.makedirs(out, exist_ok=True)
    meta = fn(seed, out, **SIZES[size][key])
    meta.update({"workload": workload, "seed": seed, "size": size})
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3],
                              sys.argv[4] if len(sys.argv) > 4 else "full")))
