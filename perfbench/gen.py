"""Seeded input synthesis for the pipeline workloads.

Everything the program reads is generated here, deterministically from
(workload shape, seed): a long CSV (one row per cell and year, the
given metrics' long names in `Sources.longSchema` order) and a GeoJSON
FeatureCollection of grid cells over a bbox, whose neighbours share
edges exactly (PipeScale's synthesis shape).
"""
import json
import random

YEARS = [str(y) for y in range(2000, 2019)]

# EtlConfig.columnMapRaw long names minus id / name / parent_location,
# in map order (the wide table's metric order)
METRICS = [
    "population", "renter_homes_pct", "median_gross_rent",
    "median_household_income", "median_property_value", "rent_burden",
    "white_pct", "black_pct", "latinx_pct", "aian_pct", "asian_pct",
    "nhpi_pct", "multiple_pct", "other_pct", "poverty_rate", "threatened",
    "threatened_low", "threatened_high", "threatened_rate",
    "threatened_rate_high", "threatened_rate_low", "filings", "filings_high",
    "filings_low", "filing_rate", "filing_rate_low", "filing_rate_high",
    "judgements", "judgement_rate", "low_flag",
]
# long name -> short code (the wide header's metric prefix)
CODES = dict(zip(METRICS, [
    "p", "pro", "mgr", "mhi", "mpv", "rb", "pw", "paa", "ph", "pai", "pa",
    "pnp", "pm", "po", "pr", "t", "tl", "th", "tr", "trh", "trl", "ef",
    "efh", "efl", "efr", "efrl", "efrh", "e", "er", "lf"]))
COUNTS = {"judgements", "filings", "filings_high", "filings_low",
          "threatened", "threatened_low", "threatened_high"}
PL_DEFAULT = "United States"


def geoid(cell, width):
    # 1-based so no feature id is 0; fixed width keeps leading zeros
    return str(cell + 1).zfill(width)


def cell_rows(rng, gid, metrics, bump=0):
    """The 19 long rows of one cell, as lists of strings."""
    pl = "" if rng.random() < 0.02 else "State %d" % rng.randrange(50)
    out = []
    for year in YEARS:
        row = [gid, year, "Cell " + gid, pl]
        for m in metrics:
            if rng.random() < 0.03:       # empty cell -> null at read
                row.append("")
            elif m == "population":
                row.append(str(rng.randrange(100, 5000) + bump))
            elif m in COUNTS:
                row.append(str(rng.randrange(1000)))
            elif m == "low_flag":
                row.append(str(rng.randrange(2)))
            else:
                row.append("%.2f" % (rng.randrange(10000) / 100.0))
        out.append(row)
    return out


def write_long_csv(path, n, width, seed, metrics, bumped=(), bump_seed=0):
    """n cells x 19 years, columns in `Sources.longSchema(metrics)` order.
    Each cell's values come from its own (seed, cell) stream, so a
    snapshot that bumps population for the cells in `bumped` (by an
    amount drawn from bump_seed) differs from the base in exactly those
    GEOIDs."""
    bumped = set(bumped)
    pop = 4 + metrics.index("population")
    with open(path, "w") as f:
        f.write(",".join(["id", "year", "name", "parent_location"] + metrics) + "\n")
        for c in range(n):
            rng = random.Random(seed * 1_000_003 + c)
            bump = random.Random(bump_seed * 1_000_003 + c).randrange(1, 100) \
                if c in bumped else 0
            rows = cell_rows(rng, geoid(c, width), metrics, bump)
            if bump:
                for r in rows:   # an empty population cell changes too
                    r[pop] = r[pop] or str(bump)
            f.write("".join(",".join(r) + "\n" for r in rows))


def write_geojson(path, n, width, bbox):
    x0, y0 = bbox[0], bbox[1]
    w, h = bbox[2] - bbox[0], bbox[3] - bbox[1]
    cols = max(1, round((n * w / h) ** 0.5))
    rows = -(-n // cols)
    cw, ch = w / cols, h / rows
    with open(path, "w") as f:
        f.write('{"type":"FeatureCollection","features":[')
        for c in range(n):
            gx, gy = c % cols, c // cols
            ax, ay = x0 + gx * cw, y0 + gy * ch
            bx, by = ax + cw, ay + ch
            ring = [[ax, ay], [bx, ay], [bx, by], [ax, by], [ax, ay]]
            ring = [[round(x, 6), round(y, 6)] for x, y in ring]
            f.write(("," if c else "") + json.dumps(
                {"type": "Feature", "properties": {"GEOID": geoid(c, width)},
                 "geometry": {"type": "Polygon", "coordinates": [ring]}},
                separators=(",", ":")))
        f.write("]}\n")


def delta_cells(n, share=0.01):
    """The GEOIDs tonight's snapshot changes, ~share of n cells: half one
    contiguous block from the middle of the grid, half scattered at a
    fixed stride (PipeScale's clustered and scattered deltas). The
    positions are fixed so every seed rewrites the same tiles; the seed
    chooses the new values."""
    k = max(2, round(n * share))
    block = k // 2
    cells = set(range(n // 2, n // 2 + block))
    stride = n // (k - block)
    cells.update(i * stride + stride // 3 for i in range(k - block))
    return sorted(cells)
