"""dle — "designated lands engine": a PySpark-native spatial overlay engine.

A from-scratch reimplementation of the query semantics of
bcgov/designatedlands (reference at /root/reference, PostGIS/ogr2ogr
pipeline) as idiomatic Spark: cell-indexed (hierarchical quadkey,
H3-style) broadcast/shuffle spatial joins, vectorized
numpy-on-Arrow geometry kernels in pandas UDFs, explicit
partitioning/salting, and a per-partition lineage checkpoint manifest.

Package map (SURVEY.md section references):
  cells       — hierarchical quadkey index (tile grid analogue, §2 A10/D2)
  sqlgen      — deterministic synthetic `pages`/layer views, emitted for
                both Spark SQL and DuckDB (oracle parity)
  geom        — pure-numpy geometry kernel: WKB codec, slab-decomposition
                boolean ops (§2 H/I; shapely fast-path if installed)
  operators   — overlay ops A1-A10, raster B1-B3, dedup/similarity/text
  plans       — end-to-end pipelines + checkpoint manifest (§2 J, §4)
  sources     — IO helpers: dump sink, GeoPackage export, GeoTIFF (§2 C)
  streaming   — availableNow drains behind the streaming_* gates (§2 J)
"""

__version__ = "0.1.0"
