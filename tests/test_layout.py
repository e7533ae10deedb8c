"""Z-order layout keys: python Morton twin, DuckDB SQL-twin parity,
per-dimension monotonicity, the quantitative locality/data-skipping
property vs a lexicographic layout, NULLs and validation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from modlyn_spark.functions.layout import with_zorder, zorder_key, zorder_sql


def _morton(vals, bits):
    out = 0
    n = len(vals)
    for i, v in enumerate(vals):
        v = max(0, min(int(v), (1 << bits) - 1))
        for b in range(bits):
            out += ((v >> b) & 1) << (b * n + i)
    return out


def test_matches_python_twin_and_sql_twin(spark):
    import duckdb

    rng = np.random.default_rng(37)
    pdf = pd.DataFrame(
        {
            "i": np.arange(300, dtype=np.int64),
            "x": rng.integers(-5, 1 << 12, 300),
            "y": rng.integers(0, 1 << 12, 300),
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["i"]: r["z"]
        for r in df.select(
            "i", zorder_key(["x", "y"], bits=12).alias("z")
        ).collect()
    }
    for r in pdf.itertuples(index=False):
        assert got[r.i] == _morton([r.x, r.y], 12)
    con = duckdb.connect()
    con.register("t", pdf)
    sql = zorder_sql(["x", "y"], bits=12)
    exp = con.sql(f"SELECT i, {sql} AS z FROM t").df()
    assert {int(r.i): int(r.z) for r in exp.itertuples(index=False)} == got


def test_monotonic_per_dimension(spark):
    pdf = pd.DataFrame({"x": range(64), "y": [7] * 64})
    keys = [
        r["z"]
        for r in spark.createDataFrame(pdf)
        .select(zorder_key(["x", "y"], bits=6).alias("z"))
        .collect()
    ]
    assert keys == sorted(keys) and len(set(keys)) == 64


def test_locality_beats_lexicographic(spark):
    # 32x32 grid; 16 range-buckets: z-order tiles ~8x8 in BOTH dims,
    # x-major lexicographic gives narrow-x / full-height stripes
    pts = pd.DataFrame(
        [(x, y) for x in range(32) for y in range(32)], columns=["x", "y"]
    )
    df = with_zorder(spark.createDataFrame(pts), ["x", "y"], bits=5)
    from pyspark.sql import Window

    def extents(d, key):
        b = d.withColumn(
            "b", F.ntile(16).over(Window.orderBy(key))
        )
        rows = (
            b.groupBy("b")
            .agg(
                (F.max("x") - F.min("x")).alias("ex"),
                (F.max("y") - F.min("y")).alias("ey"),
            )
            .collect()
        )
        return (
            float(np.mean([r["ex"] for r in rows])),
            float(np.mean([r["ey"] for r in rows])),
        )

    zx, zy = extents(df, "zkey")
    lx, ly = extents(df, F.col("x") * 32 + F.col("y"))
    # z-order: both dims ~ a quarter of the 0..31 domain
    assert zx <= 12 and zy <= 12
    # lexicographic: y stripes span the full domain
    assert ly >= 30 and lx <= 4
    # -> a selective predicate on y prunes z-ordered buckets but not
    #    x-major ones
    assert zy < ly / 2


def test_nulls_constants_and_validation(spark):
    pdf = pd.DataFrame(
        {"x": [1.0, None, 3.0], "y": [2.0, 2.0, 2.0]}
    )
    rows = with_zorder(
        spark.createDataFrame(pdf), ["x", "y"], bits=8
    ).collect()
    by_x = {r["x"]: r["zkey"] for r in rows}
    assert by_x[None] is None  # NULL propagates
    # constant column ranks to 0 everywhere: keys equal interleave(x_rank, 0)
    assert by_x[1.0] == 0 and by_x[3.0] == _morton([255, 0], 8)
    with pytest.raises(ValueError, match="overflow"):
        zorder_key(["x", "y"], bits=32)
    with pytest.raises(ValueError, match="at least one"):
        zorder_key([])


def test_timestamp_columns_rank(spark):
    ev = spark.read.parquet(
        "/root/testdata/sf0.001/events.parquet"
    ).where(F.col("ts").isNotNull())
    out = with_zorder(ev, ["user_id", "ts"], bits=10)
    rows = out.select("zkey").collect()
    assert all(r["zkey"] is not None and r["zkey"] >= 0 for r in rows)
    assert len({r["zkey"] for r in rows}) > len(rows) // 2  # real spread


def test_written_files_prune_boxes(spark, tmp_path):
    """The written layout must actually SKIP: per-file parquet footer
    min/max on the ranked dimensions intersect far fewer files under
    z-order than under a lexicographic (x, y) sort — quantified, not
    assumed. The dramatic case is a predicate on the NON-leading
    dimension, where lexicographic prunes nothing."""
    import glob

    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from modlyn_spark.functions.layout import write_zorder_table

    rng = np.random.default_rng(13)
    pdf = pd.DataFrame(
        {
            "x": rng.integers(0, 1_000_000, 40_000),
            "y": rng.integers(0, 1_000_000, 40_000),
            "payload": rng.integers(0, 10, 40_000),
        }
    )
    df = spark.createDataFrame(pdf)
    zdir = str(tmp_path / "zorder")
    ldir = str(tmp_path / "lexico")
    # Sample every row (64 x 1000 >= 40k) so both layouts' range
    # boundaries are exact quantiles. The default sample is seeded by the
    # RDD id, so the box comparison below flipped with how many RDDs
    # earlier tests in the session had created.
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    default = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        write_zorder_table(df, zdir, ["x", "y"], files=64)
        (
            df.repartitionByRange(64, "x", "y")
            .sortWithinPartitions("x", "y")
            .write.parquet(ldir)
        )
    finally:
        spark.conf.set(key, default)

    def extents(d):
        out = []
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.read_metadata(f)
            mins = {"x": [], "y": []}
            maxs = {"x": [], "y": []}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in mins:
                        mins[name].append(col.statistics.min)
                        maxs[name].append(col.statistics.max)
            out.append(
                {
                    c: (min(mins[c]), max(maxs[c]))
                    for c in ("x", "y")
                }
            )
        return out

    def files_hit(exts, xr=None, yr=None):
        n = 0
        for e in exts:
            ok = True
            if xr is not None:
                ok &= not (e["x"][1] < xr[0] or e["x"][0] > xr[1])
            if yr is not None:
                ok &= not (e["y"][1] < yr[0] or e["y"][0] > yr[1])
            n += ok
        return n

    ze, le = extents(zdir), extents(ldir)
    # repartitionByRange draws sample-based boundaries, so a run can
    # land one short of the requested 64 files (an empty range writes
    # no file) — assert the pruning RATIOS against the actual counts,
    # not the literal 64 (the one observed full-suite flake)
    assert 60 <= len(ze) <= 64 and 60 <= len(le) <= 64

    # non-leading dimension: lexicographic prunes NOTHING, z-order must
    # skip more than half the files for a 10% y-slice
    y_slice = (450_000, 550_000)
    assert files_hit(le, yr=y_slice) == len(le)
    assert files_hit(ze, yr=y_slice) <= len(ze) // 2

    # 2-D box (10% x 10%): z-order must hit at most about what the
    # lexicographic layout hits... and both must still answer correctly.
    # +1 slack: both layouts' file extents move with repartitionByRange's
    # sampled boundaries, and the comparison can jitter by one file
    # either way (second observed full-suite flake: 9 <= 8)
    box = dict(xr=(200_000, 300_000), yr=(700_000, 800_000))
    assert files_hit(ze, **box) <= max(2, files_hit(le, **box) + 1)

    got_z = (
        spark.read.parquet(zdir)
        .where("y >= 450000 AND y <= 550000")
        .count()
    )
    got_l = (
        spark.read.parquet(ldir)
        .where("y >= 450000 AND y <= 550000")
        .count()
    )
    want = int(((pdf["y"] >= 450_000) & (pdf["y"] <= 550_000)).sum())
    assert got_z == got_l == want
