"""Engine constants.

The processing extent is the reference's hard-coded BC Albers bounds
(/root/reference/designatedlands.py:303): planar meters, EPSG:3005
convention. The quadkey grid domain is a power-of-two square anchored
at the extent's min corner so that cell boundaries are exact in
float64 and hierarchical prefixes prune like the reference's
``map_tile LIKE 'prefix%'`` (/root/reference/sql/create_tiles.sql).
"""

from __future__ import annotations

# (xmin, ymin, xmax, ymax) — reference designatedlands.py:303
EXTENT = (273287.5, 367687.5, 1870687.5, 1735887.5)
XMIN, YMIN, XMAX, YMAX = EXTENT
WIDTH = XMAX - XMIN    # 1_597_400.0 m
HEIGHT = YMAX - YMIN   # 1_368_200.0 m

# Integer spans used by the deterministic geocoder (SQL-expressible).
WIDTH_I = int(WIDTH)    # 1597400
HEIGHT_I = int(HEIGHT)  # 1368200

# Quadkey domain: 2^21 m = 2097.152 km square covering the extent.
GRID_SIZE = float(1 << 21)

# Default cell depth for tests/small scale: 16x16 grid of ~131 km cells
# (~256 cells over the domain, mirroring FIXTURES.md §5). Production
# depth for 100 TB would be 7-9 (16 km .. 4 km cells).
DEFAULT_DEPTH = 4

# Robustness constants carried over from the reference:
SLIVER_AREA = 10.0        # m^2 — sql/insert_difference.sql:75
SNAP_GRID = 0.1           # m — sql/create_designations_overlapping.sql:56
SNAP_FINE = 0.001         # m — sql/intersect.sql:36

# Shared epoch base for synthetic warc_ts (2024-01-01T00:00:00Z).
WARC_EPOCH0 = 1704067200
YEAR_SECONDS = 31536000


def res_at(depth: int) -> float:
    """Cell side length (m) at a quadkey depth."""
    return GRID_SIZE / float(1 << depth)


# ------------------------------------------------ INI config front end
#
# The reference merges an INI file's [designatedlands] section over a
# defaults dict (/root/reference/designatedlands.py:53-61 DEFAULT_CONFIG,
# :265-285 __init__ merge, :338-353 read_config typing rules). Same
# semantics here for the keys a job reads, so a reference deployment's
# .cfg loads unchanged (VERDICT r5 #6); its other keys (dl_path, db_url,
# n_processes, ...) ride through untyped, as the reference's plain dict
# update carries unknown keys.

class ConfigError(Exception):
    """Configuration key error (designatedlands.py:64-65)."""


class ConfigValueError(Exception):
    """Configuration value error (designatedlands.py:68-69)."""


DEFAULT_CONFIG = {
    "out_path": "outputs",
    # engine extension (not in the reference's dict):
    "depth": DEFAULT_DEPTH,      # quadkey tile depth (the 20k grid)
}


def load_config(config_file: str | None = None) -> dict:
    """DEFAULT_CONFIG merged with an INI file's [designatedlands]
    section, with the reference's typing rules: out_path lowercased,
    depth int()ed, every other key carried through as read
    (read_config does a plain dict update)."""
    import configparser
    import os

    cfg = dict(DEFAULT_CONFIG)
    if config_file is not None:
        if not os.path.exists(config_file):
            raise ConfigValueError(
                f"File {config_file} does not exist")
        parser = configparser.ConfigParser()
        parser.read(config_file)
        if "designatedlands" not in parser:
            raise ConfigError(
                f"{config_file} has no [designatedlands] section")
        d = dict(parser["designatedlands"])
        if "out_path" in d:
            d["out_path"] = d["out_path"].lower()
        if "depth" in d:
            try:
                d["depth"] = int(d["depth"])
            except ValueError as e:
                raise ConfigValueError(
                    f"depth={d['depth']!r} is not an integer") from e
        cfg.update(d)
    return cfg


def pop_config(argv: list[str]) -> dict:
    """Job front end: extract `--config FILE` from an argv list
    (mutating it) and return the merged config. Jobs call this before
    positional-arg parsing, so `spark-submit jobs/x.py --config my.cfg
    ...` works with a reference-format .cfg."""
    if "--config" in argv:
        i = argv.index("--config")
        if i + 1 >= len(argv):
            raise ConfigValueError("--config requires a file path")
        path = argv[i + 1]
        del argv[i:i + 2]
        return load_config(path)
    return load_config(None)
