"""Seeded inputs for the benchmark, and the expected ETL outputs.

Everything here is a pure function of the seed: the opt-out CSV and the
address table the `spray` ETL job reads, and the per-pass request order
of every workload. The expected ETL outputs are computed independently of
the engine, from the same arithmetic the engine's mock geocoder and
distance predicates define (`geo/Geo.scala`, `ops/Wnv.scala`).
"""
import csv
import hashlib
import io
import math
import random

OPTOUT_ROWS = 3000
ADDRESS_ROWS = 30000

STREETS = ["Walnut", "Pearl", "Iliff", "Canyon", "Arapahoe", "Baseline",
           "Broadway", "Folsom", "Valmont", "Table Mesa", "Mapleton",
           "Spruce", "Pine", "Alpine", "Balsam", "Linden", "Kalmia",
           "Norwood", "Hawthorn", "Glenwood"]
SUFFIXES = ["St", "Ave", "Blvd", "Dr", "Ct", "Rd", "Pl", "Way"]
PREDIRS = ["", "", "", "N", "S", "E", "W"]
POSTDIRS = ["", "", "", "", "", "", "N", "S"]
ZIPCODES = ["80301", "80302", "80303", "80304", "80305"]
ADDRESS_HEADER = ["FULLADDR", "ADDRNUM", "UNITID", "PREDIR", "STREETNAME",
                  "STREETSUFF", "POSTDIR", "x", "y"]
REPORT_COLS = 7

# geo/Geo.scala and ops/Wnv.scala constants
LON0, LAT0 = -105.5, 39.9
FT_PER_DEG_X, FT_PER_DEG_Y = 280000.0, 364000.0
BUFFER_FT = 1500.0
N_ZONES = 25  # one zone per nation row


def _rng(seed, purpose):
    return random.Random(f"{seed}:{purpose}")


def optout_csv(seed, rows=OPTOUT_ROWS):
    """The opt-out extract in `Tables.optOutSchema`: Timestamp, Street
    Address, Zipcode. Quoted fields carry commas, as the sheet export does."""
    r = _rng(seed, "optout")
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["Timestamp", "Street Address", "Zipcode"])
    for i in range(rows):
        ts = (f"{r.randint(4, 9)}/{r.randint(1, 28)}/2025 "
              f"{r.randint(0, 23):02d}:{r.randint(0, 59):02d}:"
              f"{r.randint(0, 59):02d}")
        street = (f"{r.randint(1, 9999)} {r.choice(STREETS)} "
                  f"{r.choice(SUFFIXES)}, Boulder, CO")
        w.writerow([ts, street, r.choice(ZIPCODES)])
    return buf.getvalue()


def address_rows(seed, rows=ADDRESS_ROWS):
    """The 7 report columns of the address table plus lon/lat. FULLADDR is
    unique, so every report group is one address."""
    r = _rng(seed, "addresses")
    out = []
    for i in range(rows):
        num = str(100 + i)
        pre, name = r.choice(PREDIRS), r.choice(STREETS)
        suff, post = r.choice(SUFFIXES), r.choice(POSTDIRS)
        unit = f"Unit {r.randint(1, 40)}" if r.random() < 0.15 else ""
        full = " ".join(p for p in [num, pre, name, suff, post, unit] if p)
        x = f"{LON0 + r.random() * 0.5:.7f}"
        y = f"{LAT0 + r.random() * 0.3:.7f}"
        out.append([full, num, unit, pre, name, suff, post, x, y])
    return out


def address_csv(seed, rows=ADDRESS_ROWS):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(ADDRESS_HEADER)
    w.writerows(address_rows(seed, rows))
    return buf.getvalue()


def _h32(s, off):
    """XF.h32: 8 hex digits of md5 from 1-based offset `off`, as a long."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[off - 1:off + 7], 16)


def _geocode(street):
    """Geo.geocodeHit / geocodeLon / geocodeLat of `street + " Boulder CO"`."""
    addr = street + " Boulder CO"
    if _h32(addr, 1) % 20 == 0:
        return None
    lon = LON0 + float(_h32(addr, 9) % 100000) / 200000.0
    lat = LAT0 + float(_h32(addr, 17) % 100000) / 333333.0
    return lon, lat


def _zones():
    """Wnv.zones: (cx_ft, cy_ft, radius_ft) per nation key."""
    return [(float(k % 5) * 28000.0 + 14000.0,
             float(math.floor(k / 5.0)) * 21000.0 + 10000.0,
             float(k) * 400.0 + 5280.0) for k in range(N_ZONES)]


def _dist2(x1, y1, x2, y2):
    return (x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2)


def expected_etl(optout_text, address_text):
    """The ETL job's outputs, recomputed without the engine: the loaded
    point count and the sorted report lines as the CSV sink writes them."""
    pts = []
    for row in list(csv.reader(io.StringIO(optout_text)))[1:]:
        g = _geocode(row[1])
        if g is not None:
            pts.append(((g[0] - LON0) * FT_PER_DEG_X,
                        (g[1] - LAT0) * FT_PER_DEG_Y))
    buf2 = BUFFER_FT * BUFFER_FT
    survivors = [z for z in _zones()
                 if not any(_dist2(z[0], z[1], ox, oy) <= buf2
                            for ox, oy in pts)]
    lines = []
    for row in list(csv.reader(io.StringIO(address_text)))[1:]:
        xf = (float(row[7]) - LON0) * FT_PER_DEG_X
        yf = (float(row[8]) - LAT0) * FT_PER_DEG_Y
        hits = sum(1 for cx, cy, r in survivors
                   if _dist2(xf, yf, cx, cy) <= r * r)
        if hits == 1:
            lines.append(",".join(row[:REPORT_COLS]))
    lines.sort()
    return {"loaded": len(pts), "report_rows": len(lines),
            "report_md5": hashlib.md5("\n".join(lines).encode("utf-8"))
            .hexdigest()}


def orders(seed, workload, requests, passes):
    """The request order of each pass: a seeded shuffle per pass."""
    r = _rng(seed, f"order:{workload}")
    out = []
    for _ in range(passes):
        p = list(requests)
        r.shuffle(p)
        out.append(p)
    return out
