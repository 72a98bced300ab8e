"""Seeded benchmark inputs and their pinned digests.

The seed sets the page-id / point-id offset; the program only ever sees
the generated tables. Digests in ``digests.json`` pin two things:

* ``probes`` — a small fixed slice of every generator, checked on every
  run, so an edit to ``sources/webpages.py`` or ``synth.py`` fails every
  seed, not just the pinned ones;
* ``inputs`` / ``outputs`` — whole-table and result digests for the seeds
  recorded by ``pin_digests.py``.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

ID_STRIDE = 10_000_000
# synth's coordinates multiply an id by 104,729 in 64-bit arithmetic, which
# Spark's ANSI mode rejects on overflow (ids above ~8.8e13); seeds are folded
# into 1,000,000 slots so every id stays below 1e13
ID_SLOTS = 1_000_000


def id_offset(seed: int) -> int:
    """First id of the seed's slot: seed k owns ids from (k mod ID_SLOTS) *
    ID_STRIDE on, so seeds 0..ID_SLOTS-1 get disjoint inputs."""
    return (seed % ID_SLOTS) * ID_STRIDE


class DigestMismatch(RuntimeError):
    pass


# ---------------------------------------------------------------- tables
def write_pages(spark, seed: int, n: int, path: str) -> None:
    """Generated pages (url, warc_ts, html, text, lang) with ids offset by
    the seed, through the program's own page generator."""
    from giga_spatial_spark.sources import webpages

    off = id_offset(seed)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield webpages._make_batch(pdf["id"].to_numpy())

    parts = 2 * spark.sparkContext.defaultParallelism
    (
        spark.range(off, off + n, 1, parts)
        .mapInPandas(gen, schema=webpages.SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )


def points(spark, seed: int, n: int):
    """n lattice points (point_id, lon, lat) from ``synth.with_coords``."""
    from giga_spatial_spark import synth

    off = id_offset(seed)
    parts = 2 * spark.sparkContext.defaultParallelism
    return synth.with_coords(
        spark.range(off, off + n, 1, parts), "id"
    ).withColumnRenamed("id", "point_id")


# --------------------------------------------------------------- digests
def table_digest(df) -> str:
    """Order-independent digest of a DataFrame: row count and the exact
    sum of xxhash64 over all columns, computed in the JVM."""
    from pyspark.sql import functions as F

    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"


def rows_digest(rows) -> str:
    """Digest of a collected result, independent of row order."""
    h = hashlib.sha256()
    for r in sorted(tuple(r) for r in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:32]


def _sha(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
    return h.hexdigest()[:32]


def probe_digests() -> dict[str, str]:
    """Digests of a fixed slice of each generator and of the polygon
    layers the workloads use."""
    from giga_spatial_spark import synth
    from giga_spatial_spark.sources import webpages

    pages = webpages._make_batch(np.arange(300, dtype=np.int64))
    keys = np.arange(5000, dtype=np.int64)
    polys = {n: synth.make_admin_polygons(n_zones=n) for n in (12, 200)}
    return {
        "pages": _sha(
            *pages["url"], *pages["html"], *pages["text"], *pages["lang"],
            pages["warc_ts"].astype("int64").to_numpy().tobytes(),
        ),
        "coords": _sha(synth.lon_np(keys).tobytes(), synth.lat_np(keys).tobytes()),
        "polygons": _sha(
            *(p.tobytes() for n in sorted(polys) for _, p in sorted(polys[n].items()))
        ),
    }


def load_pins() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def check_probes(pins: dict) -> None:
    for name, digest in probe_digests().items():
        expected = pins.get("probes", {}).get(name)
        if expected != digest:
            raise DigestMismatch(f"probes[{name}]: expected {expected}, got {digest}")
