"""Output checks, run after the JVM has exited (outside every timed part).

Each check returns a list of failure messages; an empty list passes.
Nothing here uses Spark: the wide table is checked against the long CSV
read back by plain line parsing, the extents against a plain recompute.
"""
import csv
import glob
import hashlib
import math
import os
import random
import sqlite3

import gen

YY = ["%02d" % (int(y) - 2000) for y in gen.YEARS]


def read_long(path):
    """{geoid: {year: row dict}} from a long CSV, by plain line parsing."""
    cells = {}
    with open(path) as f:
        header = f.readline().rstrip("\n").split(",")
        for line in f:
            row = dict(zip(header, line.rstrip("\n").split(",")))
            cells.setdefault(row["id"], {})[row["year"]] = row
    return cells


def read_csv_dir(path):
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    header, rows = None, []
    for p in parts:
        with open(p, newline="") as f:
            r = csv.reader(f)
            h = next(r, None)
            if h is None:
                continue
            if header is not None and h != header:
                raise ValueError("part headers differ in %s" % path)
            header = h
            rows.extend(r)
    return header, rows


def r7(sorted_xs, p):
    h = (len(sorted_xs) - 1) * p
    lo = math.floor(h)
    hi = min(lo + 1, len(sorted_xs) - 1)
    return sorted_xs[lo] + (h - lo) * (sorted_xs[hi] - sorted_xs[lo])


def check_wide(wide_dir, long_cells, metrics, seed, samples=25):
    fails = []
    header, rows = read_csv_dir(wide_dir)
    want = ["GEOID", "n", "pl"] + [
        "%s-%s" % (gen.CODES[m], y) for m in metrics for y in YY]
    if header != want:
        return ["wide header differs from GEOID,n,pl + metric-year columns"]
    ids = [r[0] for r in rows]
    if len(ids) != len(set(ids)) or set(ids) != set(long_cells):
        fails.append("wide: %d rows for %d cells, expected one row per cell"
                     % (len(ids), len(long_cells)))
    by_id = {r[0]: r for r in rows}
    rng = random.Random(seed)
    for gid in rng.sample(sorted(long_cells), min(samples, len(long_cells))):
        years = long_cells[gid]
        first = years[gen.YEARS[0]]
        expect = [gid, first["name"], first["parent_location"] or gen.PL_DEFAULT]
        for m in metrics:
            expect += [years[y][m] for y in gen.YEARS]
        if by_id.get(gid) != expect:
            fails.append("wide row %s differs from the long CSV" % gid)
    return fails


def check_extents(ext_dir, long_cells, metrics):
    header, rows = read_csv_dir(ext_dir)
    if header != ["id", "vmin", "vmax", "q1", "q99"]:
        return ["extents header %s" % header]
    fails = []
    got = {r[0]: r for r in rows}
    ids = [r[0] for r in rows]
    want_ids = sorted("%s-%s" % (gen.CODES[m], y) for m in metrics for y in YY)
    if ids != want_ids:
        return ["extents: rows are not one per metric-year column, ordered by id"]
    for m in metrics:
        for year, y in zip(gen.YEARS, YY):
            xs = sorted(float(c[year][m]) for c in long_cells.values()
                        if c[year][m] != "")
            vmin, vmax, q1, q99 = (float(v) for v in got["%s-%s" % (gen.CODES[m], y)][1:])
            if (vmin, vmax) != (xs[0], xs[-1]) or not (
                    math.isclose(q1, r7(xs, 0.01), rel_tol=1e-9, abs_tol=1e-9) and
                    math.isclose(q99, r7(xs, 0.99), rel_tol=1e-9, abs_tol=1e-9)):
                fails.append("extents %s-%s differ from the recompute" % (gen.CODES[m], y))
    return fails


def pbf_tree(dir_):
    """{(z, x, y): bytes} of a z/x/y.pbf tree."""
    out = {}
    for p in glob.glob(os.path.join(dir_, "*", "*", "*.pbf")):
        z, x, y = p[len(dir_):].strip("/")[:-4].split("/")
        with open(p, "rb") as f:
            out[int(z), int(x), int(y)] = f.read()
    return out


def check_mbtiles(tiles_dir, region):
    fails = []
    for decade in ("00", "10"):
        tree = pbf_tree(os.path.join(tiles_dir, region, decade))
        path = os.path.join(tiles_dir, region, decade + ".mbtiles")
        if not tree:
            fails.append("decade %s: empty pbf tree" % decade)
            continue
        con = sqlite3.connect("file:%s?mode=ro" % path, uri=True)
        try:
            rows = con.execute("select zoom_level, tile_column, tile_row, "
                               "tile_data from tiles").fetchall()
        finally:
            con.close()
        packed = {(z, x, (1 << z) - 1 - r): bytes(d) for z, x, r, d in rows}
        if packed != tree:
            fails.append("decade %s: .mbtiles tiles differ from the pbf tree" % decade)
    return fails


def tree_digest(root):
    """sha256 over every file under root except the fingerprint artifact,
    keyed by relative path, in path order."""
    h = hashlib.sha256()
    paths = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if x != "fingerprints.parquet"]
        paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def check_digest(digest, path):
    """The first run of a seed records its digest; later ones must match."""
    if os.path.exists(path):
        with open(path) as f:
            if f.read().strip() != digest:
                return ["output digest differs from an earlier run of this seed"]
        return []
    with open(path + ".tmp", "w") as f:
        f.write(digest)
    os.replace(path + ".tmp", path)
    return []
