"""Seeded WOD18 native-ASCII corpus generator for the benchmark.

Written from the public WOD18 ASCII format description, not from the
engine's parser, so the benchmark's inputs do not depend on the code
under test:

  * a cast record starts with the version character ``C``;
  * an integer field is one character giving its digit count, then the
    digits (a count of ``0`` is the value 0; ``-`` would be missing);
  * a real field is three characters -- significant digits, total
    characters, precision -- then ``total`` characters of a signed
    integer; the value is that integer / 10**precision; ``-`` alone
    is a missing value;
  * the second field of a record is its total byte count, header
    included, newlines excluded;
  * header: cast number, 2-char country, cruise, 4-char year, 2-char
    month and day, time (hours), latitude, longitude, level count,
    1-char profile type, 2-char variable count, then per variable its
    code, QC flag and metadata list;
  * then the character-data, secondary-header and biological-header
    sections, each led by its byte count (``0`` = absent); taxonomic
    sets follow the biological header;
  * then, per level, the depth, its two flags, and for each variable a
    value and its two flags (``-`` without flags when not measured);
  * records are space-padded to whole 80-character lines.

The same seed gives byte-identical ``.gz`` files (gzip mtime 0).
"""

import gzip
import json
import os
import random
import zlib
from math import cos, sin
from datetime import datetime, timezone

B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def int_field(v):
    if v == 0:
        return "0"
    s = str(v)
    if v < 0 or len(s) > 9:
        raise ValueError(f"int field out of range: {v}")
    return f"{len(s)}{s}"


def real_field(units, prec):
    """Real field for the value units / 10**prec (units is an int)."""
    s = str(units)
    n = len(s)
    if n > 9 or prec > 9:
        raise ValueError(f"real field out of range: {units}e-{prec}")
    return f"{len(s.lstrip('-0')) or 1}{n}{prec}{s}"


def opt_real(units, prec):
    return "-" if units is None else real_field(units, prec)


def header_fields(cast_number, country, cruise, year, month, day,
                  time, lat, lon, levels, profile_type):
    """Header fields after the byte count; time/lat/lon are
    (units, prec) pairs or None."""
    return "".join([
        int_field(cast_number), country[:2].ljust(2), int_field(cruise),
        f"{year:4d}", f"{month:2d}", f"{day:2d}",
        opt_real(*time) if time else "-",
        opt_real(*lat) if lat else "-",
        opt_real(*lon) if lon else "-",
        int_field(levels), str(profile_type)])


def with_byte_count(body):
    """Prefix ``C`` + the record's total byte count (which counts itself)."""
    for digits in range(1, 10):
        total = 2 + digits + len(body)
        if len(str(total)) == digits:
            return "C" + int_field(total) + body
    raise ValueError("record too long")


def geohash(lat, lon, precision=12):
    lat_lo, lat_hi, lon_lo, lon_hi = -90.0, 90.0, -180.0, 180.0
    out, ch, bits, even = [], 0, 0, True
    while len(out) < precision:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                ch, lon_lo = (ch << 1) | 1, mid
            else:
                ch, lon_hi = ch << 1, mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                ch, lat_lo = (ch << 1) | 1, mid
            else:
                ch, lat_hi = ch << 1, mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(B32[ch])
            ch, bits = 0, 0
    return "".join(out)


def pad80(record):
    n = -len(record) % 80
    return record + " " * n


def to_lines(ascii_records):
    text = "".join(ascii_records)
    return "".join(text[i:i + 80] + "\n" for i in range(0, len(text), 80))


# WOD variable codes with a plausible (surface value, slope per metre,
# precision) so profiles look like real ones.
VARIABLES = {
    1: (18.0, -0.012, 3),    # temperature
    2: (34.2, 0.0004, 3),    # salinity
    3: (6.1, -0.002, 2),     # oxygen
    4: (0.4, 0.001, 2),      # phosphate
    8: (1.2, 0.01, 2),       # nitrate
    25: (1010.0, 1.0, 1),    # pressure
}


class CastSpec:
    """One generated cast plus what the conversion must make of it."""


def make_cast(rng, dataset, number, pos, shape):
    """Build one cast record. pos = (lat_units, lon_units) at 4 d.p."""
    lat_u, lon_u = pos
    country = rng.choice(["GB", "US", "JP", "FR", "DE", "NO", "AU"])
    cruise = rng.randint(1, 99999)
    year = rng.randint(1960, 2020)
    month = rng.randint(1, 12)
    day = rng.randint(1, 28)
    time_u = None if rng.random() < 0.1 else rng.randint(0, 2399)
    n_levels = rng.randint(*shape["levels"])
    codes = sorted(rng.sample(sorted(VARIABLES), rng.randint(*shape["vars"])))
    variables = []
    var_txt = []
    for code in codes:
        qc = rng.randint(0, 2)
        meta = [(rng.choice([1, 3, 4, 5]), rng.randint(1, 9999), 2)
                for _ in range(rng.randint(0, 2))]
        variables.append({"code": code, "qcFlag": qc,
                          "metadata": [{"code": m[0], "value": m[1] / 10 ** m[2]}
                                       for m in meta]})
        var_txt.append(int_field(code) + str(qc) + int_field(len(meta)) +
                       "".join(int_field(c) + real_field(u, p)
                               for c, u, p in meta))

    # character data: originator's cruise id and PIs on some casts
    orig_cruise = None
    pis = []
    char_txt = "0"
    if rng.random() < shape["chardata"]:
        orig_cruise = str(rng.randint(1000, 9999999))
        pis = [(codes[0], rng.randint(1, 999))]
        body = (str(2) + "1" + f"{len(orig_cruise):2d}" + orig_cruise +
                "3" + f"{len(pis):2d}" +
                "".join(int_field(v) + int_field(c) for v, c in pis))
        char_txt = int_field(len(body)) + body

    secondary = []
    sec_txt = "0"
    if rng.random() < shape["secondary"]:
        entries = [(c, rng.randint(0, 99999), 1)
                   for c in sorted(rng.sample(range(1, 40), rng.randint(2, 11)))]
        secondary = [{"code": c, "value": u / 10 ** p} for c, u, p in entries]
        body = int_field(len(entries)) + "".join(
            int_field(c) + real_field(u, p) for c, u, p in entries)
        sec_txt = int_field(len(body)) + body

    biological = []
    taxa = []
    bio_txt = "0"
    if rng.random() < shape["bio"]:
        entries = [(c, rng.randint(1, 9999), 2)
                   for c in sorted(rng.sample(range(1, 30), rng.randint(1, 4)))]
        biological = [{"code": c, "value": u / 10 ** p} for c, u, p in entries]
        body = int_field(len(entries)) + "".join(
            int_field(c) + real_field(u, p) for c, u, p in entries)
        sets = []
        for _ in range(rng.randint(1, 3)):
            ents = [(rng.randint(1, 999), rng.randint(1, 99999), 3,
                     rng.randint(0, 1), rng.randint(0, 1))
                    for _ in range(rng.randint(1, 4))]
            sets.append(ents)
        taxa = [[{"code": c, "value": u / 10 ** p, "qcFlag": q,
                  "originatorsFlag": o} for c, u, p, q, o in s] for s in sets]
        bio_txt = (int_field(len(body)) + body + int_field(len(sets)) +
                   "".join(int_field(len(s)) + "".join(
                       int_field(c) + real_field(u, p) + str(q) + str(o)
                       for c, u, p, q, o in s) for s in sets))

    # profile: depths increase; values drift with depth plus noise;
    # a few values are not measured ('-')
    step = shape["step"]
    levels_txt = []
    depths = []
    depth_u = 0
    var_consts = [(code,) + VARIABLES[code] + (10 ** VARIABLES[code][2],)
                  for code in codes]
    random_ = rng.random
    for _ in range(n_levels):
        data = []
        parts = [real_field(depth_u, 1), "00"]
        for code, base, slope, prec, scale in var_consts:
            # one draw per value: 3% not measured, ~2% with a QC flag,
            # noise in [-0.5, 0.5)
            r = random_()
            if r < 0.03:
                parts.append("-")
                continue
            v = base + slope * depth_u / 10 + (r * 7919.0) % 1.0 - 0.5
            u = int(round(v * scale))
            qc = 0 if r < 0.98 else int(r * 100003) % 9 + 1
            parts += (real_field(u, prec), str(qc), "0")
            data.append((code, u / scale, qc))
        levels_txt.append("".join(parts))
        depths.append((depth_u / 10, data))
        depth_u += step // 2 + int(random_() * step) + 1

    head = header_fields(number, country, cruise, year, month, day,
                         None if time_u is None else (time_u, 2),
                         (lat_u, 4), (lon_u, 4), n_levels, 0)
    body_head = head + f"{len(codes):2d}" + "".join(var_txt)
    body = body_head + char_txt + sec_txt + bio_txt + "".join(levels_txt)
    record = with_byte_count(body)

    c = CastSpec()
    c.number, c.dataset = number, dataset
    c.ascii = record
    c.valid, c.error = True, None
    c.lat, c.lon = lat_u / 10 ** 4, lon_u / 10 ** 4
    time_h = None if time_u is None else time_u / 100
    midnight = int(datetime(year, month, day, tzinfo=timezone.utc)
                   .timestamp()) * 1000
    hours_ms = (time_h or 0.0) * 3600 * 1000
    gh = geohash(c.lat, c.lon)
    c.row = {
        "dataset": dataset, "castNumber": number, "cruiseNumber": cruise,
        "country": country, "originatorsCruise": orig_cruise,
        "latitude": c.lat, "longitude": c.lon, "year": year,
        "month": month, "day": day, "time": time_h,
        "timestamp": midnight + int((hours_ms + 0.5) // 1),
        "geohash": gh, "geohash3": gh[:3],
        "attributes": secondary, "biologicalAttributes": biological,
        "taxonomicDatasets": taxa,
        "principalInvestigators": [{"variable": v, "pi": str(p)}
                                   for v, p in pis],
        "variables": variables, "depths": depths}
    # offset of the first level's depth digit (after its three
    # descriptor characters), for corruption
    c.first_depth_at = len(record) - sum(map(len, levels_txt)) + 3
    return c


def expand(row):
    """The output row of a cast, with its levels as nested records."""
    return dict(row, depths=[
        {"depth": d, "depthErrorFlag": 0, "originatorsFlag": 0,
         "data": [{"variableCode": c, "value": v, "qcFlag": q,
                   "originatorsFlag": 0} for c, v, q in data]}
        for d, data in row["depths"]])


def corrupt_char(c):
    """Bad numeric character inside the first depth value; the byte
    count stays intact, so a reader can resynchronise on the next cast."""
    at = c.first_depth_at
    assert c.ascii[at].isdigit(), c.ascii[at - 3:at + 2]
    c.ascii = c.ascii[:at] + "X" + c.ascii[at + 1:]
    c.valid, c.error = False, "bad-char"


def corrupt_latitude(rng, c, dataset, number, shape):
    """Re-encode the cast with an out-of-range latitude (95.xxxx)."""
    bad = make_cast(rng, dataset, number, (950000 + rng.randint(0, 9999),
                                           int(c.lon * 10 ** 4)), shape)
    bad.valid, bad.error = False, "bad-lat"
    return bad


def track_positions(rng, n, n_tracks):
    """Positions clustered along cruise tracks (so geohash3 cells are
    uneven), in 4-decimal units, avoiding bisection ties."""
    tracks = []
    for _ in range(n_tracks):
        lat = rng.uniform(-65, 70)
        lon = rng.uniform(-179, 179)
        heading = rng.uniform(0, 6.283)
        tracks.append([lat, lon, heading])
    out = []
    for i in range(n):
        t = tracks[rng.randrange(n_tracks)] if rng.random() < 0.3 \
            else tracks[i * n_tracks // max(1, n)]
        t[2] += rng.uniform(-0.3, 0.3)
        t[0] = max(-75.0, min(80.0, t[0] + 0.08 * sin(t[2])))
        t[1] = (t[1] + 0.08 * cos(t[2]) + 180.0) % 360.0 - 180.0
        lat_u = int(round(t[0] * 10 ** 4))
        lon_u = int(round(t[1] * 10 ** 4))
        if lat_u % 625 == 0:
            lat_u += 1
        if lon_u % 625 == 0:
            lon_u += 1
        out.append((lat_u, lon_u))
    return out


def write_file(path, casts, truncate_last=False):
    """Write one gz member; with truncate_last, cut the gzip stream in the
    middle of the last (deep) cast. Returns (ascii_bytes, gz_bytes)."""
    text = to_lines([pad80(c.ascii) for c in casts]).encode("ascii")
    gz = gzip.compress(text, compresslevel=6, mtime=0)
    if truncate_last:
        last = casts[-1]
        n_before = sum(len(pad80(c.ascii)) for c in casts[:-1])
        start = n_before + n_before // 80        # + newlines
        end = start + len(last.ascii) + len(last.ascii) // 80
        target = start + (end - start) // 2

        def decodable(n):
            return len(zlib.decompressobj(31).decompress(gz[:n]))
        lo, hi = 1, len(gz)
        while lo < hi:
            mid = (lo + hi) // 2
            if decodable(mid) >= target:
                hi = mid
            else:
                lo = mid + 1
        got = decodable(lo)
        # every earlier cast decodes well before the cut; the last one
        # cannot complete
        assert got - start >= 24576 and got < end - 1024, (got, start, end)
        gz = gz[:lo]
        last.valid, last.error = False, "truncated"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(gz)
    return len(text), len(gz)


# Corpus shapes per workload. levels/vars are inclusive ranges; the
# probabilities are per cast.
SHALLOW = {"levels": (10, 40), "vars": (1, 2), "step": 50,
           "chardata": 0.3, "secondary": 0.3, "bio": 0.0}
DEEP = {"levels": (200, 400), "vars": (3, 5), "step": 25,
        "chardata": 0.5, "secondary": 0.6, "bio": 0.15}
MEDIUM = {"levels": (20, 80), "vars": (2, 3), "step": 40,
          "chardata": 0.3, "secondary": 0.4, "bio": 0.05}

LAYOUTS = {
    # many small per-file conversions; one SUR file for the rename, one
    # in ten files with malformed casts, one truncated member
    "convert_files": {
        "shape": SHALLOW, "casts": (200, 200),
        "files": [("CTD", f"CTDO{1990 + i}") for i in range(4)] +
                 [("XBT", f"XBTO{1970 + i}") for i in range(4)] +
                 [("OSD", f"OSDO{1980 + i}") for i in range(3)] +
                 [("SUR", "SURF_ALL")],
        "bad_files": 1, "bad_per_file": 3, "truncated": ("XBT", "XBTO1973"),
    },
    # a few large files of deep casts; ~1% malformed; one member with a
    # truncated gzip tail
    "convert_bulk": {
        "shape": DEEP, "casts": (90, 90),
        "files": [("CTD", "CTDO2001"), ("CTD", "CTDO2002"),
                  ("PFL", "PFLO2010"), ("PFL", "PFLO2011"),
                  ("OSD", "OSDO1999"), ("OSD", "OSDO2000")],
        "bad_rate": 0.01, "truncated": ("OSD", "OSDO2000"),
    },
    # small corpus for the DSv2 reads and the geohash-pruned store; three
    # files per dataset, so a DSv2 read is twelve tasks on four cores (with
    # four, one late task stretched a read from 0.2 to 0.35 s)
    "query_mix": {
        "shape": MEDIUM, "casts": (60, 60),
        "files": [(ds, f"{ds}O{y}") for ds in ("CTD", "XBT", "OSD", "PFL")
                  for y in (2005, 2006, 2007)],
        "bad_files": 2, "bad_per_file": 2, "truncated": None,
    },
}


def generate(workload, seed, root):
    """Generate the workload's corpus under root/input; write
    root/manifest.json with everything the output checks need."""
    lay = LAYOUTS[workload]
    rng = random.Random(f"{workload}:{seed}")
    shape = lay["shape"]
    files = lay["files"]
    bad_files = set()
    if lay.get("bad_files"):
        bad_files = set(rng.sample(range(len(files)), lay["bad_files"]))
    next_number = rng.randint(1000000, 5000000)
    manifest = {"workload": workload, "seed": seed, "files": [],
                "ascii_bytes": 0, "gz_bytes": 0}
    all_valid = []
    for idx, (ds, name) in enumerate(files):
        n = rng.randint(*lay["casts"])
        positions = track_positions(rng, n, 3)
        casts = []
        for i in range(n):
            casts.append(make_cast(rng, ds, next_number, positions[i], shape))
            next_number += rng.randint(1, 7)
        bad_idx = set()
        if idx in bad_files:
            bad_idx = set(rng.sample(range(1, n - 1), lay["bad_per_file"]))
        elif lay.get("bad_rate"):
            bad_idx = {i for i in range(n) if rng.random() < lay["bad_rate"]}
        for i in sorted(bad_idx):
            if rng.random() < 0.5:
                corrupt_char(casts[i])
            else:
                casts[i] = corrupt_latitude(rng, casts[i], ds,
                                            casts[i].number, shape)
        truncated = lay.get("truncated") == (ds, name)
        if truncated:
            deep = dict(shape, levels=(2500, 2600), vars=(2, 2))
            casts.append(make_cast(rng, ds, next_number,
                                   positions[-1], deep))
            next_number += 1
        path = os.path.join(root, "input", ds, "OBS", name + ".gz")
        ascii_n, gz_n = write_file(path, casts, truncate_last=truncated)
        valid = [c for c in casts if c.valid]
        all_valid += valid
        manifest["files"].append({
            "dataset": ds, "level": "OBS", "file": name + ".gz",
            "path": path, "ascii_bytes": ascii_n, "gz_bytes": gz_n,
            "casts": len(casts), "levels": sum(len(c.row["depths"])
                                               for c in casts),
            "valid": len(valid),
            "valid_numbers": [c.number for c in valid],
            "valid_cells": [c.row["geohash3"] for c in valid],
            "errors": [c.number for c in casts
                       if not c.valid and c.error != "truncated"],
            "truncated": truncated})
        manifest["ascii_bytes"] += ascii_n
        manifest["gz_bytes"] += gz_n
    manifest["valid"] = len(all_valid)
    manifest["errors"] = sum(len(f["errors"]) + f["truncated"]
                             for f in manifest["files"])
    manifest["injected"] = sum(len(f["errors"]) for f in manifest["files"])
    manifest["datasets"] = sorted({ds for ds, _ in files})
    # a seeded sample of valid casts, checked field by field
    sample = rng.sample(all_valid, min(12, len(all_valid)))
    manifest["sample"] = [expand(c.row) for c in sample]
    # a geohash prefix with rows, for the pruned store read: the
    # 4-char prefix of a sampled cast
    prefix = sample[0].row["geohash"][:4]
    manifest["like_prefix"] = prefix
    manifest["like_rows"] = sum(1 for c in all_valid
                                if c.row["geohash"].startswith(prefix))
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


if __name__ == "__main__":
    import sys
    import time
    t0 = time.time()
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: m[k] for k in ("valid", "errors", "injected",
                                        "ascii_bytes", "gz_bytes")}),
          f"{time.time() - t0:.2f}s")
