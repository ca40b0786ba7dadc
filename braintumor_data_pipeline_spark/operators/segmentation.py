"""Region-growing segmentation (SURVEY §2.10 G1/G2) — Spark-first.

The reference's core algorithm is a sequential BFS flood fill per image
(`/root/reference/region_growing.py:6-98`): admit a neighbor iff
|v/255 − seed_v/255| ≤ threshold (compared against the FIXED seed value),
4- or 8-connectivity, then a morphology post-pass. Its ``max_iterations``
cap counts dequeued pixels (default 100) and silently truncates large
regions — a BFS-order-dependent quirk.

Spark mapping: the distributed axis is ACROSS images (exactly the
reference's one-DoFn-call-per-file model); within an image the BFS runs
as vectorized numpy frontier expansion inside a packed-grid
``mapInArrow`` stage (``_grid_arrays_df`` + ``_grow_arrow_fn``). Arrow
moves each image's pixels once; no per-pixel Python. The other
grid→numpy builders (imaging_udf, app_flow, multimodal, phash) share
one adapter, ``map_grid_images``; the region-grow modes still carry
their own pack and decode, which the adapter is meant to replace.

Oracle story: every registered segmentation query is hash-checked
against DuckDB SQL built from ``_GRID_SQL`` and one fragment per
region-growing step, each written once and reading a relation its
caller names. ``_flood_sql``: with no iteration cap, the segmented
region is exactly the connected component of {pixels: |v−seed_v| ≤
t·255} containing the seed, a **recursive CTE** over 4-neighbour
equi-joins. ``_capped_bfs_sql``: the capped variants replay the FIFO
BFS dequeue-by-dequeue in a list-state CTE. ``_morph_sql``: the
open/close post-pass as sparse erode/dilate joins of the mask's cells
against 3×3 and 5×5 offsets, ending in a per-key area.

Images here are dense 32×32 grids derived deterministically from
``orders`` (row_number over o_orderkey), value channel as in pixels.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.fixtures import load_table as _t
from ..functions.imaging import region_growing_np, region_growing_adaptive_np

SEED_YX = (16, 16)
THRESHOLD = 0.15
GRID = 32  # 32×32 = 1024 pixels per image

#: DuckDB replay of ``grid_images_df(with_gt=True)``: dense row index
#: over orders, both value channels, complete 32×32 grids only — the one
#: grid fragment every grid oracle selects from.
_GRID_SQL = """
      SELECT CAST(rn0 // 1024 AS INT) AS image_id,
             CAST((rn0 % 1024) // 32 AS INT) AS y,
             CAST(rn0 % 32 AS INT) AS x,
             v, v2
      FROM (
        SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn0,
               CAST((o_orderkey * 2654435761) % 256 AS INT) AS v,
               CAST((o_orderkey * 2246822519) % 256 AS INT) AS v2
        FROM orders
      )
      WHERE rn0 < ((SELECT count(*) FROM orders) // 1024) * 1024
"""


def _dense_indexed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → (rn0, o_orderkey): global dense index 0..N−1 by key,
    computed scalably.

    A bare ``row_number() OVER (ORDER BY key)`` collapses everything
    into ONE window partition — a non-starter at scale. The standard
    fix: (1) range-block the key space, (2) row_number within each block
    (parallel windows), (3) add per-block offsets from a tiny count
    aggregate that broadcasts. One extra small shuffle, full parallelism.
    """
    o = _t(spark, sf_dir, "orders").select("o_orderkey")
    blocked = o.select("o_orderkey", F.expr("o_orderkey div 4096").alias("blk"))
    counts = blocked.groupBy("blk").agg(F.count("*").alias("cnt"))
    # one row per block → this window is over a tiny frame, then broadcast
    woff = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "blk", F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off")
    )
    wblk = Window.partitionBy("blk").orderBy("o_orderkey")
    return blocked.join(F.broadcast(offsets), "blk").select(
        (F.row_number().over(wblk) - 1 + F.col("off")).alias("rn0"),
        "o_orderkey",
    )


def grid_images_df(
    spark: SparkSession, sf_dir: str, with_gt: bool = False
) -> DataFrame:
    """Dense 32×32 images from orders; only complete grids are kept.
    ``with_gt`` adds the second pseudo-random channel v2."""
    idx = _dense_indexed_orders(spark, sf_dir)
    cols = [
        F.expr("rn0 div 1024").cast("int").alias("image_id"),
        F.expr("(rn0 % 1024) div 32").cast("int").alias("y"),
        (F.col("rn0") % 32).cast("int").alias("x"),
        ((F.col("o_orderkey") * F.lit(2654435761)) % 256).cast("int").alias("v"),
    ]
    if with_gt:
        cols.append(
            ((F.col("o_orderkey") * F.lit(2246822519)) % 256)
            .cast("int")
            .alias("v2")
        )
    g = idx.select(*cols)
    # rn0 is dense 0..N−1, so every image below N div 1024 is complete —
    # the completeness predicate is one broadcast scalar, not a
    # per-image count aggregation (saves a full shuffle of the grid)
    total = _t(spark, sf_dir, "orders").agg(
        F.count("*").alias("n_total")
    )
    return (
        g.crossJoin(F.broadcast(total))
        .filter(F.col("image_id") < F.floor(F.col("n_total") / (GRID * GRID)))
        .drop("n_total")
    )


def map_grid_images(
    g: DataFrame,
    per_image,
    schema: str,
    channels: tuple[str, ...] = ("v",),
    key: str = "image_id",
) -> DataFrame:
    """Run ``per_image(key_value, *images)`` on every grid image of
    ``g`` (rows ``key, y, x, *channels``; an incomplete grid raises) —
    the grid→numpy boundary of the per-image builders.

    Each image's channels are packed into row-major 1024-value arrays
    by one map-side-combinable ``collect_list`` (the exchange moves
    partial arrays and the reduce side needs no per-group Sort); a
    ``mapInArrow`` worker decodes a whole Arrow batch per channel with
    one flatten+reshape into uint8 GRID×GRID images. ``per_image``
    returns that image's rows as tuples of the ``schema`` columns after
    the key (the key is prepended); the rows of a batch are typed once
    against ``schema``, whose first column is ``key``."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    arrow_schema = to_arrow_schema(StructType.fromDDL(schema))
    pos = (F.col("y") * GRID + F.col("x")).alias("pos")
    px = F.array_sort(F.collect_list(F.struct("pos", *channels)))
    packed = (
        g.select(key, pos, *channels)
        .groupBy(key)
        .agg(px.alias("px"))
        .select(key, *[F.col("px").getField(c).alias(c) for c in channels])
    )

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            images = [_unpack_grids(batch.column(c), n) for c in channels]
            rows = [
                (k, *row)
                for i, k in enumerate(batch.column(key).to_pylist())
                for row in per_image(k, *(im[i] for im in images))
            ]
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(col, t)
                        for col, t in zip(zip(*rows), arrow_schema.types)
                    ],
                    schema=arrow_schema,
                )

    return packed.mapInArrow(fn, schema)


def _unpack_grids(col, n: int) -> np.ndarray:
    """One packed Arrow list column of ``n`` images → (n, GRID, GRID)
    uint8, row-major."""
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if flat.size != n * GRID * GRID:  # incomplete grid would
        # silently mis-tile ACROSS images after reshape
        raise ValueError(
            f"packed grid expects {n}x{GRID}x{GRID} pixels, got {flat.size}"
        )
    return flat.astype(np.uint8).reshape(n, GRID, GRID)


def _grid_arrays_df(g: DataFrame) -> DataFrame:
    """(image_id, varr): each complete 32×32 image packed into ONE
    row-major 1024-int array.

    r12 Python-boundary optimization (guide §4): the old path shuffled
    per-PIXEL rows into ``groupBy(image_id).applyInPandas`` — an
    Exchange + per-group Sort, then one pandas DataFrame per image and
    4 Arrow columns × 1024 rows per image across the boundary. Packing
    first means the exchange moves map-side-combined partial arrays,
    the reduce side needs NO sort, and the boundary moves one array
    cell per image each way. The BFS itself is unchanged numpy."""
    return (
        g.select(
            "image_id", (F.col("y") * GRID + F.col("x")).alias("pos"), "v"
        )
        .groupBy("image_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("varr")
        )
    )


def _grow_arrow_fn(emit: str, **grow_kwargs):
    """mapInArrow worker over packed grids: decode every image of a
    batch with ONE flatten+reshape (no per-row Python), run the numpy
    BFS per image, emit ``pos`` (admitted positions as an int array),
    ``area`` (post-morphology pixel count) or ``adaptive``
    (area, threshold_used)."""

    def fn(batches):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("image_id")
            flat = batch.column("varr").flatten().to_numpy(
                zero_copy_only=False
            )
            if flat.size != n * GRID * GRID:  # incomplete grid would
                # silently mis-tile ACROSS images after reshape
                raise ValueError(
                    f"packed grid expects {n}x{GRID}x{GRID} pixels, "
                    f"got {flat.size}"
                )
            imgs = flat.astype(np.uint8).reshape(n, GRID, GRID)
            if emit == "pos":
                pos_lists = []
                for i in range(n):
                    mask = region_growing_np(imgs[i], SEED_YX, **grow_kwargs)
                    ys, xs = np.nonzero(mask)
                    pos_lists.append(
                        (ys.astype(np.int32) * GRID + xs.astype(np.int32))
                    )
                lens = [len(p) for p in pos_lists]
                offsets = np.concatenate(
                    [np.zeros(1, np.int64), np.cumsum(lens)]
                ).astype(np.int32)
                values = (
                    np.concatenate(pos_lists)
                    if pos_lists
                    else np.array([], np.int32)
                )
                arr = pa.ListArray.from_arrays(
                    pa.array(offsets, pa.int32()),
                    pa.array(values, pa.int32()),
                )
                yield pa.RecordBatch.from_arrays(
                    [ids, arr], ["image_id", "pos"]
                )
            elif emit == "area":
                areas = np.empty(n, dtype=np.int64)
                for i in range(n):
                    mask = region_growing_np(imgs[i], SEED_YX, **grow_kwargs)
                    areas[i] = int(mask.sum())
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array(areas, pa.int64())],
                    ["image_id", "area"],
                )
            else:  # adaptive
                areas = np.empty(n, dtype=np.int64)
                thrs = np.empty(n, dtype=np.float64)
                for i in range(n):
                    mask, thr = region_growing_adaptive_np(
                        imgs[i], SEED_YX, **grow_kwargs
                    )
                    areas[i] = int(mask.sum())
                    thrs[i] = round(float(thr), 6)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(areas, pa.int64()),
                        pa.array(thrs, pa.float64()),
                    ],
                    ["image_id", "area", "threshold_used"],
                )

    return fn


def _grown_positions(
    g: DataFrame,
    threshold: float,
    connectivity: int,
    max_iterations: int | None,
) -> DataFrame:
    """Shared packed-grid BFS → (image_id, y, x) rows."""
    grown = _grid_arrays_df(g).mapInArrow(
        _grow_arrow_fn(
            "pos",
            threshold=threshold,
            connectivity=connectivity,
            max_iterations=max_iterations,
            morphology=False,
        ),
        "image_id int, pos array<int>",
    )
    return grown.select("image_id", F.explode("pos").alias("p")).select(
        "image_id",
        F.expr(f"p div {GRID}").cast("int").alias("y"),
        (F.col("p") % GRID).cast("int").alias("x"),
    )


# ---------------------------------------------------------------------------
# Oracle fragments: one DuckDB CTE chain per region-growing step, each
# written once. A fragment reads the relation its caller names (so tests
# can feed it hand-made cells) and defines fixed CTE names; the query
# using one must open with WITH RECURSIVE.
# ---------------------------------------------------------------------------

# The reference's BFS neighbor order (functions/imaging.py _OFFSETS_8),
# as a DuckDB struct-list literal — enqueue order must match exactly.
_OFFSETS_8_SQL = (
    "[{'dy': -1, 'dx': 0}, {'dy': -1, 'dx': 1}, {'dy': 0, 'dx': 1},"
    " {'dy': 1, 'dx': 1}, {'dy': 1, 'dx': 0}, {'dy': 1, 'dx': -1},"
    " {'dy': 0, 'dx': -1}, {'dy': -1, 'dx': -1}]"
)


def _seeded_adm_sql(threshold: float) -> str:
    """CTEs ``grid``, ``seeds`` (image_id, sv) and ``adm`` (image_id,
    y, x): the grid cells within ``threshold`` of their image's seed
    value on the /255 scale, compared in double."""
    return f"""grid AS ({_GRID_SQL}),
    seeds AS (SELECT image_id, v AS sv FROM grid WHERE y = 16 AND x = 16),
    adm AS MATERIALIZED (
      SELECT g.image_id, g.y, g.x FROM grid g JOIN seeds s USING (image_id)
      WHERE abs(g.v / 255.0 - s.sv / 255.0) <= {threshold}
    )"""


def _flood_sql(adm: str, keys: tuple[str, ...]) -> str:
    """CTE ``flood`` (keys, y, x): per key, the 4-connected component of
    the admissible cells ``adm`` (keys, y, x) that holds the seed
    (16, 16) — uncapped region growing. Each step equi-joins only the
    new frontier to its four neighbours. Every step reads ``adm``
    again, so the caller defines it ``AS MATERIALIZED`` (an inlined
    CTE is recomputed per step)."""
    a_keys = ", ".join(f"a.{k}" for k in keys)
    on = " AND ".join(f"a.{k} = f.{k}" for k in keys)
    return f"""flood AS (
      SELECT {", ".join(keys)}, y, x FROM {adm} WHERE y = 16 AND x = 16
      UNION
      SELECT {a_keys}, a.y, a.x
      FROM flood f
      CROSS JOIN (VALUES (-1, 0), (0, 1), (1, 0), (0, -1)) o(dy, dx)
      JOIN {adm} a ON {on} AND a.y = f.y + o.dy AND a.x = f.x + o.dx
    )"""


def _capped_bfs_sql(adm: str) -> str:
    """CTE ``bmask`` (image_id, y, x): the reference's FIFO BFS from the
    seed over the admissible cells ``adm`` (image_id, y, x), 8-connected
    and stopped after 100 dequeues (`region_growing.py:67`). The
    recursive CTE replays one dequeue per step, its state rows carrying
    queue and mask as lists, enqueueing in ``_OFFSETS_8_SQL`` order."""
    return f"""adm_lists AS (
      SELECT image_id, list(y * 32 + x ORDER BY y * 32 + x) AS adm_list
      FROM {adm} GROUP BY image_id
    ),
    bfs AS (
      SELECT image_id, 0 AS step, [528] AS queue, [528] AS mask, adm_list
      FROM adm_lists
      UNION ALL
      SELECT image_id, step + 1,
             list_concat(queue[2:], admitted) AS queue,
             list_concat(mask, admitted) AS mask, adm_list
      FROM (
        SELECT image_id, step, queue, mask, adm_list,
               [p FOR p IN
                 [ (queue[1] // 32 + o['dy']) * 32
                     + (queue[1] % 32 + o['dx'])
                   FOR o IN {_OFFSETS_8_SQL}
                   IF queue[1] // 32 + o['dy'] BETWEEN 0 AND 31
                      AND queue[1] % 32 + o['dx'] BETWEEN 0 AND 31 ]
                 IF list_contains(adm_list, p)
                    AND NOT list_contains(mask, p)
               ] AS admitted
        FROM bfs WHERE len(queue) > 0 AND step < 100
      )
    ),
    bmask AS (
      SELECT image_id, CAST(p // 32 AS INT) AS y, CAST(p % 32 AS INT) AS x
      FROM (SELECT image_id, mask,
                   row_number() OVER (PARTITION BY image_id
                                      ORDER BY step DESC) AS rn
            FROM bfs), UNNEST(mask) AS t(p)
      WHERE rn = 1
    )"""


def _morph_sql(mask: str, keys: tuple[str, ...], universe: str) -> str:
    """CTE ``morph`` (keys, area): MORPH_OPEN 3×3 then MORPH_CLOSE 5×5
    (`region_growing.py:94-96`) of the cells ``mask`` (keys, y, x),
    counted per key of ``universe`` (area 0 for an empty mask).

    Erosion keeps a cell of its input iff every IN-BOUNDS cell of its
    k×k window is in the input (cv2 erode pads with +inf, so
    out-of-bounds counts as foreground: only in-bounds window cells are
    joined, and count(*) = count(matched)); only input cells can
    survive, so it never touches the full grid. Dilation is the
    distinct in-bounds k×k expansion (cv2 pads with −inf). Binary ops
    on integer coordinates — no float, so the hash cannot flake."""
    k = ", ".join(keys)
    c_keys = ", ".join(f"c.{key}" for key in keys)
    on = " AND ".join(f"m.{key} = c.{key}" for key in keys)
    inb = "c.y + o.dy BETWEEN 0 AND 31 AND c.x + o.dx BETWEEN 0 AND 31"

    def erode(src: str, off: str) -> str:
        return f"""SELECT {c_keys}, c.y, c.x
      FROM {src} c JOIN {off} o ON {inb}
      LEFT JOIN {src} m ON {on} AND m.y = c.y + o.dy AND m.x = c.x + o.dx
      GROUP BY {c_keys}, c.y, c.x
      HAVING count(*) = count(m.y)"""

    def dilate(src: str, off: str) -> str:
        return f"""SELECT DISTINCT {c_keys}, c.y + o.dy AS y, c.x + o.dx AS x
      FROM {src} c JOIN {off} o ON {inb}"""

    return f"""off3 AS (SELECT CAST(a.dy AS INT) AS dy, CAST(b.dx AS INT) AS dx
             FROM range(-1,2) a(dy), range(-1,2) b(dx)),
    off5 AS (SELECT CAST(a.dy AS INT) AS dy, CAST(b.dx AS INT) AS dx
             FROM range(-2,3) a(dy), range(-2,3) b(dx)),
    e3 AS ({erode(mask, "off3")}),
    opened AS ({dilate("e3", "off3")}),
    d5 AS ({dilate("opened", "off5")}),
    closed AS ({erode("d5", "off5")}),
    morph AS (
      SELECT {k}, CAST(coalesce(a.area, 0) AS BIGINT) AS area
      FROM {universe} LEFT JOIN (SELECT {k}, count(*) AS area
                                 FROM closed GROUP BY {k}) a USING ({k})
    )"""


@register(
    "region_grow_component",
    oracle=f"""
    WITH RECURSIVE {_seeded_adm_sql(THRESHOLD)},
    {_flood_sql("adm", ("image_id",))}
    SELECT image_id, y, x FROM flood
    """,
    tags=("segmentation", "iterative"),
)
def region_grow_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncapped region growing = seed-connected component of the
    admissible pixel set. Spark runs the numpy BFS per image over
    packed grid arrays (``_grid_arrays_df`` + ``mapInArrow`` — r12:
    sort-free aggregate, one array cell per image across the Python
    boundary); the oracle recomputes the identical set with a DuckDB
    recursive CTE — two independent formulations of G1."""
    g = grid_images_df(spark, sf_dir)
    return _grown_positions(g, THRESHOLD, 4, None)


#: Threshold for the capped variant — chosen so the seed component is
#: LARGER than the 100-dequeue budget on every fixture image (measured:
#: uncapped 780 px vs capped 133 px at sf0.01), i.e. the cap actually
#: truncates and the quirk is exercised, not vacuously satisfied.
CAP_THRESHOLD = 0.7


@register(
    "region_grow_capped",
    oracle=f"""
    WITH RECURSIVE {_seeded_adm_sql(CAP_THRESHOLD)},
    {_capped_bfs_sql("adm")}
    SELECT image_id, y, x FROM bmask
    """,
    tags=("segmentation", "iterative"),
)
def region_grow_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's max_iterations DEQUEUE-CAP quirk
    (`region_growing.py:67`: default 100, silently truncates large
    regions) under exact value parity: Spark runs the FIFO BFS in numpy
    per image; the oracle replays it ONE DEQUEUE PER RECURSION STEP in a
    DuckDB recursive CTE whose state rows carry the queue and mask as
    lists, with the identical 8-neighbor enqueue order. Threshold 0.7
    makes every fixture image's component exceed the cap, so the
    truncated mask (not the full component) is what both engines must
    agree on. Morphology is off — that post-pass is covered by
    ``region_grow_faithful`` goldens."""
    g = grid_images_df(spark, sf_dir)
    return _grown_positions(g, CAP_THRESHOLD, 8, 100)


def _grown_area(g: DataFrame, threshold: float) -> DataFrame:
    """Shared packed-grid faithful chain (capped BFS + morphology) →
    (image_id, area)."""
    return _grid_arrays_df(g).mapInArrow(
        _grow_arrow_fn(
            "area",
            threshold=threshold,
            connectivity=8,
            max_iterations=100,
            morphology=True,
        ),
        "image_id int, area long",
    )


def _faithful_oracle(threshold: float) -> str:
    """Recomputing oracle for the FULL reference-faithful chain: the
    capped FIFO BFS (``_capped_bfs_sql``), then MORPH_OPEN 3×3 +
    MORPH_CLOSE 5×5 (``_morph_sql``), as the surviving area per image."""
    return f"""
    WITH RECURSIVE {_seeded_adm_sql(threshold)},
    {_capped_bfs_sql("adm")},
    {_morph_sql("bmask", ("image_id",), "seeds")}
    SELECT image_id, area FROM morph
    """


@register(
    "region_grow_faithful",
    oracle=_faithful_oracle(THRESHOLD),
    tags=("segmentation", "iterative"),
)
def region_grow_faithful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-faithful G1: 8-connectivity, max_iterations=100 dequeue
    cap (`region_growing.py:67` — silently truncates large regions; a
    quirk we replicate), morphology post-pass (`region_growing.py:94-96`).

    Previously rows-only ("BFS-order-dependent"); now hash-checked — the
    oracle replays the capped FIFO BFS dequeue-by-dequeue in a list-state
    recursive CTE and applies open/close as relational neighborhood
    passes (see ``_faithful_oracle``). At the reference default
    threshold the surviving area is 0 on these fixtures (the seed
    component is smaller than the 3×3 opening) — the non-degenerate
    morphology path is exercised by ``region_grow_capped_morph``."""
    g = grid_images_df(spark, sf_dir)
    return _grown_area(g, THRESHOLD)


#: Threshold for the morphology-exercising variant: at 0.85 the capped
#: BFS blob is near-solid with sieve holes and ragged protrusions, so
#: open+close genuinely TRANSFORMS it (143 px -> 95 px at sf0.01) —
#: neither the all-eroded (0.7 -> area 0) nor the already-convex
#: (1.0 -> identity) degenerate case.
MORPH_THRESHOLD = 0.85


@register(
    "region_grow_capped_morph",
    oracle=_faithful_oracle(MORPH_THRESHOLD),
    tags=("segmentation", "iterative"),
)
def region_grow_capped_morph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same faithful chain at ``MORPH_THRESHOLD`` — chosen so the
    morphology oracle passes over masks it genuinely reshapes (erosion
    trims the BFS wavefront's ragged protrusions, closing fills interior
    sieve holes) and both engines must agree on the transformed area,
    not on a vacuous empty/identity result."""
    g = grid_images_df(spark, sf_dir)
    return _grown_area(g, MORPH_THRESHOLD)


def _grown_adaptive(g: DataFrame) -> DataFrame:
    """Shared packed-grid adaptive wrapper → (image_id, area,
    threshold_used)."""
    return _grid_arrays_df(g).mapInArrow(
        _grow_arrow_fn(
            "adaptive",
            initial_threshold=0.05,
            max_threshold=0.3,
            connectivity=4,
            max_iterations=100000,
        ),
        "image_id int, area long, threshold_used double",
    )


def _adaptive_schedule() -> tuple[list[float], list[float]]:
    """The exact float threshold sequences the adaptive loop walks
    (`region_growing.py:100-147` semantics): += 0.05 drift included —
    the oracle must test the SAME doubles the UDF tests."""
    t = 0.05
    ups = [t]
    while t < 0.3:
        t += 0.05
        ups.append(t)
    t = 0.05
    downs = []
    while t > 0.01:
        t -= 0.01
        downs.append(t)
    return ups, downs


_UPS, _DOWNS = _adaptive_schedule()
#: CAST-to-DOUBLE matters: a bare 0.15000000000000002 literal parses as
#: DECIMAL in DuckDB, which would both change the admissibility compare
#: and leak a DECIMAL into the output schema.
_THR_VALUES = ", ".join(
    [f"('up', {i + 1}, CAST({t!r} AS DOUBLE))" for i, t in enumerate(_UPS)]
    + [f"('down', {j + 1}, CAST({t!r} AS DOUBLE))" for j, t in enumerate(_DOWNS)]
)

# The UDF admits a pixel iff |f32(v)/f32(255) − f32(f64(sv)/255)| ≤ f32(t)
# (the reference normalizes in float32, `region_growing.py:47`, while the
# seed value is a float64 scalar, `:44-48`). At t=0.2 the f32 and f64
# predicates genuinely disagree (188 of 65536 (sv,v) pairs sit on the
# |Δ|=51 boundary), so the oracle replays the float32 arithmetic with
# DuckDB REAL casts — verified bit-exact against numpy over all pairs ×
# all scheduled thresholds.
_ADM_F32_SQL = (
    "abs(CAST(CAST(g.v AS REAL) / CAST(255 AS REAL) AS REAL)"
    " - CAST(CAST(s.sv AS DOUBLE) / 255.0 AS REAL)) <= CAST(t.t AS REAL)"
)

#: flood and morphology run once per scheduled threshold and image
_ADAPTIVE_KEYS = ("phase", "ti", "image_id")


# Integer forms of the size-band predicates: min_size = 1024·0.005 = 5.12
# → "area < min" ⟺ sz ≤ 5; max_size = 1024·0.3 ≈ 307.2 → "area > max"
# ⟺ sz ≥ 308. Exact (no float compare needed on counts).
def _adaptive_oracle(cap: str) -> str:
    """The adaptive-schedule replay oracle; ``cap`` is an optional grid
    predicate (e.g. " WHERE image_id < 8") for the bounded image-subset
    twin — "" replays every image."""
    return f"""
    WITH RECURSIVE grid AS (SELECT * FROM ({_GRID_SQL}){cap}),
    seeds AS (SELECT image_id, v AS sv FROM grid WHERE y = 16 AND x = 16),
    thr(phase, ti, t) AS (VALUES {_THR_VALUES}),
    adm AS MATERIALIZED (
      SELECT t.phase, t.ti, g.image_id, g.y, g.x
      FROM grid g JOIN seeds s USING (image_id) CROSS JOIN thr t
      WHERE {_ADM_F32_SQL}
    ),
    {_flood_sql("adm", _ADAPTIVE_KEYS)},
    -- each grow's size check uses the POST-morphology mask (the
    -- reference's region_growing applies open(3×3)+close(5×5) before
    -- returning, `region_growing.py:94-96`)
    combos AS (SELECT t.phase, t.ti, s.image_id FROM thr t, seeds s),
    {_morph_sql("flood", _ADAPTIVE_KEYS, "combos")},
    -- per image and phase: the first scheduled threshold whose size
    -- ends the loop (up: area ≥ 6; down: area ≤ 307), else the last
    chosen AS (
      SELECT m.image_id, m.phase, m.area, t.t
      FROM morph m JOIN thr t USING (phase, ti)
      QUALIFY m.ti = coalesce(
        min(m.ti) FILTER (WHERE CASE m.phase WHEN 'up' THEN m.area >= 6
                                             ELSE m.area <= 307 END)
          OVER (PARTITION BY m.image_id, m.phase),
        max(m.ti) OVER (PARTITION BY m.image_id, m.phase))
    )
    SELECT u.image_id,
           CASE WHEN u.area >= 308 THEN d.area ELSE u.area END AS area,
           round(CASE WHEN u.area >= 308 THEN d.t ELSE u.t END, 6)
             AS threshold_used
    FROM chosen u JOIN chosen d ON d.image_id = u.image_id AND d.phase = 'down'
    WHERE u.phase = 'up'
"""


_ADAPTIVE_ORACLE = _adaptive_oracle("")


@register(
    "region_grow_adaptive",
    oracle=_ADAPTIVE_ORACLE,
    tags=("segmentation", "iterative"),
)
def region_grow_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 adaptive wrapper (`region_growing.py:100-147`): grow threshold
    by +0.05 while region < 0.5% of pixels; shrink by −0.01 while > 30%.
    The loop runs per-image inside the UDF (the reference loops in Python
    on the driver — same semantics, but ours parallelizes across images).
    Oracle: since max_iterations never binds here, each grow is exactly
    the seed-connected component of the float32-admissible set — the
    DuckDB recursive CTE computes every scheduled threshold's component
    size and replays the up/down schedule in SQL (integer size-band
    predicates; float32 admissibility via REAL casts)."""
    g = grid_images_df(spark, sf_dir)
    return _grown_adaptive(g)


@register(
    "region_grow_adaptive_first8",
    oracle=_adaptive_oracle(" WHERE image_id < 8"),
    tags=("segmentation", "iterative"),
)
def region_grow_adaptive_first8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``region_grow_adaptive`` restricted to the first 8 images — the
    identical grid prefix (image_id < 8 on both sides), replaying the
    IDENTICAL adaptive schedule there at any SF. It stood in for the
    full query at sf0.1 while the full oracle's dense replay took
    330-1150 s over sf0.1's 146 images; built from the shared flood
    and morphology fragments it takes ~3 s there, so both are checked
    and the twin stays as a bounded second check. The Spark side runs
    the exact same packed-grid mapInArrow operator code path; only the
    input grid is bounded."""
    g = grid_images_df(spark, sf_dir).filter(F.col("image_id") < 8)
    return _grown_adaptive(g)
