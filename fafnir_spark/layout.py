"""Z-order clustered data layout with manifest-level file skipping — the
datastream zone-map pattern generalized from time to ARBITRARY numeric
column pairs (reference parity: fafnir publishes Iceberg tables whose
scan benefits from data layout; at 100 TB the layout IS the index for
multi-dimensional range predicates).

Mechanics (Morton order, public standard — see e.g. the Delta/Iceberg
OPTIMIZE ZORDER BY literature):
 1. each clustering column is bucketed to ``bits`` integer ranks with a
    (min, max) affine map — the stats come from one 1-row aggregate;
 2. the Z key interleaves the two columns' bits (integer div/pow
    arithmetic — exact, and the SAME formula renders in Spark and SQL);
 3. ``write_zordered`` range-partitions on the key and sorts within
    partitions, so each output file covers a compact Z range == a small
    axis-aligned tile of the (x, y) plane;
 4. the manifest records per-file (min, max) of BOTH raw columns; a
    rectangle query prunes at the MANIFEST level — non-overlapping files
    are never listed, opened, or footer-read.

At 100 TB the manifest is O(#files) driver state while pruned data costs
zero IO — the same scaling argument as datastream's zone map, but for
value-space predicates instead of time.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_zorder_manifest.json"


def _interleave(bx: str, by: str, bits: int, spark: bool) -> str:
    """Bit-interleave expression over two bucket expressions — ONE
    generator renders both engines (only the div/mod spelling differs:
    Spark `pmod(a div p, 2)`, DuckDB `(a // p) % 2`; powers of two are
    integer LITERALS, no float pow anywhere)."""
    terms = []
    for i in range(bits):
        p, px, py = 1 << i, 1 << (2 * i), 1 << (2 * i + 1)
        if spark:
            terms.append(f"pmod(({bx}) div {p}, 2) * {px}"
                         f" + pmod(({by}) div {p}, 2) * {py}")
        else:
            terms.append(f"(({bx}) // {p}) % 2 * {px}"
                         f" + (({by}) // {p}) % 2 * {py}")
    return "(" + " + ".join(terms) + ")"


def _bucket_lit(col: str, mn: float, mx: float, bits: int,
                spark: bool) -> str:
    """Affine rank-bucket with driver-side literal stats (the
    LSH-hyperplane convention) — {v!r} float repr keeps the literals
    byte-identical across engines."""
    span = mx - mn if mx > mn else 1.0
    top = (1 << bits) - 1
    cast = "cast" if spark else "CAST"
    as_d = "as double" if spark else "AS DOUBLE"
    as_l = "as bigint" if spark else "AS BIGINT"
    return (f"least({cast}(floor(({cast}({col} {as_d}) - {mn!r}) "
            f"/ {span!r} * {top}) {as_l}), {top})")


def zorder_key(x: str, y: str, stats: dict, bits: int = 8) -> F.Column:
    """Morton key Column for columns ``x`` and ``y``: bucket each to
    ``bits`` ranks via the affine map from ``stats`` ({col: (min, max)}),
    then interleave bits with exact integer arithmetic (bit i of the
    bucket lands at Z bit 2i / 2i+1)."""
    bx = _bucket_lit(x, float(stats[x][0]), float(stats[x][1]), bits, True)
    by = _bucket_lit(y, float(stats[y][0]), float(stats[y][1]), bits, True)
    return F.expr(_interleave(bx, by, bits, spark=True))


def _bucket_stats_col(col: str, mn: str, mx: str, bits: int,
                      spark: bool) -> str:
    """Affine rank-bucket against RELATIONAL stats columns (mn/mx from a
    1-row aggregate cross-joined in) — the driver-row form, no literals."""
    top = (1 << bits) - 1
    cast = "cast" if spark else "CAST"
    as_d = "as double" if spark else "AS DOUBLE"
    as_l = "as bigint" if spark else "AS BIGINT"
    span = (f"if({mx} > {mn}, {mx} - {mn}, {cast}(1.0 {as_d}))" if spark
            else f"CASE WHEN {mx} > {mn} THEN {mx} - {mn} ELSE 1.0 END")
    return (f"least({cast}(floor(({cast}({col} {as_d}) - {mn}) "
            f"/ ({span}) * {top}) {as_l}), {top})")


def zorder_cells(df: DataFrame, x: str, y: str, bits: int = 5) -> DataFrame:
    """Z-order cell histogram with stats derived RELATIONALLY (one 1-row
    min/max aggregate broadcast back — no driver literals, so a static
    SQL oracle can re-derive everything): (cell, n) ordered by cell.
    This is the layout op's oracle-checkable core; write_zordered uses
    the same interleave to physically cluster files."""
    stats = df.agg(
        F.min(F.col(x).cast("double")).alias("mn_x"),
        F.max(F.col(x).cast("double")).alias("mx_x"),
        F.min(F.col(y).cast("double")).alias("mn_y"),
        F.max(F.col(y).cast("double")).alias("mx_y"))
    bx = _bucket_stats_col(x, "mn_x", "mx_x", bits, True)
    by = _bucket_stats_col(y, "mn_y", "mx_y", bits, True)
    z = F.expr(_interleave(bx, by, bits, spark=True))
    return (df.crossJoin(F.broadcast(stats))
            .select(z.alias("cell"))
            .groupBy("cell").agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("cell"))


def zorder_cells_sql(table: str, x: str, y: str, bits: int = 5) -> str:
    """DuckDB mirror of zorder_cells — stats CTE + the shared interleave
    generator (operand order identical by construction)."""
    bx = _bucket_stats_col(x, "mn_x", "mx_x", bits, False)
    by = _bucket_stats_col(y, "mn_y", "mx_y", bits, False)
    z = _interleave(bx, by, bits, spark=False)
    return f"""
WITH zst AS (
  SELECT CAST(min({x}) AS DOUBLE) AS mn_x, CAST(max({x}) AS DOUBLE) AS mx_x,
         CAST(min({y}) AS DOUBLE) AS mn_y, CAST(max({y}) AS DOUBLE) AS mx_y
  FROM {table}
)
SELECT {z} AS cell, CAST(count(*) AS BIGINT) AS n
FROM {table}, zst GROUP BY 1 ORDER BY cell ASC
"""


def column_stats(df: DataFrame, cols: list[str]) -> dict:
    """{col: (min, max)} from ONE 1-row aggregate (map-side combined)."""
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    row = df.agg(*aggs).collect()[0]
    return {c: (row[f"mn_{c}"], row[f"mx_{c}"]) for c in cols}


def write_zordered(df: DataFrame, x: str, y: str, root: str,
                   n_files: int = 16, bits: int = 8) -> dict:
    """Cluster ``df`` by the (x, y) Z key into ``n_files`` range
    partitions and publish a per-file min/max manifest for both columns.
    Returns the manifest dict."""
    stats = column_stats(df, [x, y])
    data_dir = os.path.join(root, "data")
    (df.withColumn("__z", zorder_key(x, y, stats, bits))
       .repartitionByRange(n_files, "__z")
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode("overwrite").parquet(data_dir))
    spark = df.sparkSession
    back = spark.read.parquet(data_dir)
    fstats = (back.groupBy(F.input_file_name().alias("file")).agg(
        F.min(x).alias("x_mn"), F.max(x).alias("x_mx"),
        F.min(y).alias("y_mn"), F.max(y).alias("y_mx"),
        F.count(F.lit(1)).alias("n")).collect())
    manifest = {
        "x": x, "y": y, "bits": bits,
        "stats": {c: [stats[c][0], stats[c][1]] for c in (x, y)},
        "files": sorted(
            [{"path": r["file"], "x": [r["x_mn"], r["x_mx"]],
              "y": [r["y_mn"], r["y_mx"]], "n": int(r["n"])}
             for r in fstats if r["file"]],
            key=lambda f: f["path"]),
    }
    with open(os.path.join(root, MANIFEST), "w") as f:
        json.dump(manifest, f)
    return manifest


def read_zordered_box(spark: SparkSession, root: str,
                      x_range: tuple, y_range: tuple) -> tuple[DataFrame, dict]:
    """Rectangle read with MANIFEST pruning: only files whose recorded
    (x, y) envelopes overlap the box are handed to the scan — pruned
    files are never listed or opened (the datastream _zone_paths rule).
    Returns (filtered DataFrame, {"files_total", "files_read"}); the
    residual row filter still applies (envelopes over-approximate)."""
    with open(os.path.join(root, MANIFEST)) as f:
        m = json.load(f)
    (x0, x1), (y0, y1) = x_range, y_range
    hit = [fe["path"] for fe in m["files"]
           if fe["x"][0] <= x1 and fe["x"][1] >= x0
           and fe["y"][0] <= y1 and fe["y"][1] >= y0]
    info = {"files_total": len(m["files"]), "files_read": len(hit)}
    if not hit:
        sample = spark.read.parquet(os.path.join(root, "data")).limit(0)
        return sample, info
    df = spark.read.parquet(*hit)
    xc, yc = m["x"], m["y"]
    return (df.filter((F.col(xc) >= x0) & (F.col(xc) <= x1)
                      & (F.col(yc) >= y0) & (F.col(yc) <= y1)), info)
