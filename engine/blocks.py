"""Arrow block path for the blocked-array subsystem.

The voxel-path SQL in engine/queries/stitch.py is the oracle-checkable
formulation; this module is the scale path: one DataFrame row per
block (``bx,by,bz: long, data: binary`` — packed C-order float64),
kernels applied as Arrow-batched mapInPandas / applyInPandas with numpy
inside — the literal Spark analogue of the reference's
``da.map_blocks`` (/root/reference/dask_stitch/stitch.py:105,
local_affine.py:127).

Halo exchange (``da.map_overlap``, stitch.py:113-121) is expressed as
a keyed-fragment shuffle: every weighted tile emits ≤27 fragments
addressed to the output blocks it overlaps, each carrying only the
overlap-slab payload (never the whole tile ×27), then one
``groupBy(target).applyInPandas`` reassembles and sums. That is one
shuffle round with map-side-combinable payload sizes — the shape that
survives 100 TB.

Numeric conventions (deliberate divergences, SURVEY.md §1.2/§2.1-R6):
coordinates are int64 (the reference's int16 overflows at ≥32768
voxels), accumulation is float64, and the 27-neighbor affine blend is
normalized to a true partition of unity (the reference's low-side
weight indexing is off by one).
"""
from __future__ import annotations

from itertools import product

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

BLOCK_SCHEMA = "bx long, by long, bz long, data binary"
FRAG_SCHEMA = (
    "tbx long, tby long, tbz long, "
    "px int, py int, pz int, sx int, sy int, sz int, payload binary"
)
# Payloads are packed little-endian float64 bytes, not array<double>:
# Arrow moves binary columns as raw buffers, which measures ~30x
# faster than list<double> serialization for 128-cube blocks.


def axis_weights(b: int, grid: int, bs: int, o: int) -> np.ndarray:
    """R1 trapezoid profile over the chunk-with-halo extent bs+2o
    (closed form of reference stitch.py:15-38: ones core, linear
    ramps of length 2o-1 on interior faces, constant 1 at domain
    boundaries)."""
    if o == 0:
        return np.ones(bs)
    r = 2 * o - 1
    L = bs + 2 * o
    i = np.arange(L, dtype=np.float64)
    lw = np.ones(L) if b == 0 else np.minimum(1.0, i / r)
    rw = np.ones(L) if b == grid - 1 else np.minimum(1.0, (L - 1 - i) / r)
    return np.minimum(lw, rw)


def merge_axis_weights(b: int, grid: int, bs: int, o: int) -> np.ndarray:
    """R6 per-axis weight array W of length bs+o'+1, o' = max(0, 2o-1)
    (closed form of reference local_affine.py:50-75)."""
    op = max(0, 2 * o - 1)
    L = bs + op + 1
    if o == 0:  # no overlap ⇒ no blending: own weight everywhere
        return np.ones(L)
    t = np.arange(L, dtype=np.float64)
    lw = np.ones(L) if b == 0 else np.minimum(1.0, t / max(op, 1))
    rw = np.ones(L) if b == grid - 1 else np.minimum(1.0, (bs + op - t) / max(op, 1))
    return np.minimum(lw, rw)


def weight_blocks(df: DataFrame, blocksize, overlap, grid,
                  ncomp: int = 1) -> DataFrame:
    """R1: multiply every chunk-with-halo tile by its separable
    trapezoid weight (map_blocks analogue — narrow, no shuffle).

    ``ncomp > 1`` handles the reference's vector-field tiles
    (stitch.py:100-102 promotes a trailing length-3 axis; the weight
    broadcasts over it, stitch.py:42-46): payloads are C-order
    (ext0, ext1, ext2, ncomp) float64, the 3-D weight applies
    identically to every component."""
    bs, o, g = tuple(blocksize), tuple(overlap), tuple(grid)
    ext = tuple(bs[a] + 2 * o[a] for a in range(3))
    tail = (ncomp,) if ncomp > 1 else ()
    weight = _weight_fn(bs, o, g, ncomp)

    def fn(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                b = (row.bx, row.by, row.bz)
                arr = np.frombuffer(row.data, dtype=np.float64).reshape(
                    ext + tail)
                out.append((*b, weight(arr, b).tobytes()))
            yield pd.DataFrame(out, columns=["bx", "by", "bz", "data"])

    return df.mapInPandas(fn, BLOCK_SCHEMA)


def merge_overlaps(df: DataFrame, blocksize, overlap, grid,
                   pre=None, ncomp: int = 1,
                   halo_pad: int = 0) -> DataFrame:
    """R2: halo-sum via keyed fragments + one shuffle + reassembly
    (map_overlap analogue, reference stitch.py:49-91,113-121).

    ``pre(arr, (bx, by, bz)) -> arr`` is an optional per-tile kernel
    applied INSIDE the fragment-emit pass. stitch_blocks passes the
    trapezoid weighting here so weight+emit run as ONE Python/Arrow
    crossing — a separate weighting mapInPandas would move every tile
    JVM→Python→JVM an extra round trip (measured ~15% of the 128³
    block-path wall time).

    ``halo_pad > 0`` (the map_overlap user-fn lifecycle, see
    :func:`map_overlap_stitch`): input tiles carry ``halo_pad`` EXTRA
    rings per side beyond the stitch overlap (extent
    bs+2·(o+halo_pad)); ``pre`` must consume them — its output is
    validated to the bs+2o stitch extent that the slab geometry below
    assumes.

    ``ncomp > 1`` (vector-field tiles, reference stitch.py:100-102):
    the slab slicing is purely spatial — the trailing component axis
    rides inside every fragment payload untouched, and the reassembly
    accumulator grows a trailing axis. Fragment (sx, sy, sz) stay the
    spatial shape; payload bytes are sx*sy*sz*ncomp doubles."""
    bs, o, g = tuple(blocksize), tuple(overlap), tuple(grid)
    ext = tuple(bs[a] + 2 * o[a] for a in range(3))
    in_ext = tuple(bs[a] + 2 * (o[a] + halo_pad) for a in range(3))
    tail = (ncomp,) if ncomp > 1 else ()

    def emit(batches):
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                b = (row.bx, row.by, row.bz)
                arr = np.frombuffer(row.data, dtype=np.float64).reshape(
                    in_ext + tail)
                if pre is not None:
                    arr = pre(arr, b)
                if arr.shape[:3] != ext:
                    raise ValueError(
                        f"tile {b}: pre returned spatial shape "
                        f"{arr.shape[:3]}, expected {ext}")
                for d in product((-1, 0, 1), repeat=3):
                    t = tuple(b[a] + d[a] for a in range(3))
                    if not all(0 <= t[a] < g[a] for a in range(3)):
                        continue
                    # global intersection of target core and this tile
                    sl, place, shape = [], [], []
                    ok = True
                    for a in range(3):
                        lo = max(t[a] * bs[a], b[a] * bs[a] - o[a])
                        hi = min((t[a] + 1) * bs[a], b[a] * bs[a] + bs[a] + o[a])
                        if hi <= lo:
                            ok = False
                            break
                        tile0 = b[a] * bs[a] - o[a]
                        sl.append(slice(lo - tile0, hi - tile0))
                        place.append(lo - t[a] * bs[a])
                        shape.append(hi - lo)
                    if not ok:
                        continue
                    out.append((*t, *place, *shape,
                                np.ascontiguousarray(arr[tuple(sl)]).tobytes()))
            yield pd.DataFrame(
                out, columns=["tbx", "tby", "tbz", "px", "py", "pz",
                              "sx", "sy", "sz", "payload"])

    frags = df.mapInPandas(emit, FRAG_SCHEMA)

    def assemble(key, pdf):
        acc = np.zeros(bs + tail, dtype=np.float64)
        for row in pdf.itertuples(index=False):
            shp = (row.sx, row.sy, row.sz)
            sl = tuple(slice(p, p + s) for p, s in zip((row.px, row.py, row.pz), shp))
            acc[sl] += np.frombuffer(row.payload, dtype=np.float64).reshape(
                shp + tail)
        return pd.DataFrame(
            [(key[0], key[1], key[2], acc.tobytes())],
            columns=["bx", "by", "bz", "data"])

    return frags.groupBy("tbx", "tby", "tbz").applyInPandas(assemble, BLOCK_SCHEMA)


def _weight_fn(bs, o, g, ncomp: int = 1):
    """Per-tile trapezoid weighting closure with the boundary-class
    cache (≤27 entries) shared by stitch_blocks / map_overlap_stitch."""
    cache: dict[tuple, np.ndarray] = {}

    def weight(arr: np.ndarray, b) -> np.ndarray:
        key = tuple((b[a] == 0, b[a] == g[a] - 1) for a in range(3))
        if key not in cache:
            w = (
                axis_weights(b[0], g[0], bs[0], o[0])[:, None, None]
                * axis_weights(b[1], g[1], bs[1], o[1])[None, :, None]
                * axis_weights(b[2], g[2], bs[2], o[2])[None, None, :]
            )
            cache[key] = w[..., None] if ncomp > 1 else w
        return arr * cache[key]

    return weight


def stitch_blocks(df: DataFrame, blocksize, overlap, grid,
                  ncomp: int = 1) -> DataFrame:
    """R3 (reference stitch.py:94-121): weight ∘ halo-merge, fused so
    the weighting runs inside the fragment-emit Python pass (one Arrow
    crossing for the tile data, not two). Input tiles have
    chunk-with-halo extent blocksize+2·overlap (the sizing contract of
    SURVEY.md §3.3); output blocks have extent blocksize.

    ``ncomp=3`` is the reference's primary use case (README.md:2 —
    blending per-tile registration/displacement fields; stitch.py:
    100-102 promotes the trailing length-3 axis): the scalar trapezoid
    weights every component identically and the halo sum carries the
    component axis through the fragment shuffle."""
    bs, o, g = tuple(blocksize), tuple(overlap), tuple(grid)
    return merge_overlaps(df, bs, o, g, pre=_weight_fn(bs, o, g, ncomp),
                          ncomp=ncomp)


def map_overlap_stitch(df: DataFrame, user_fn, blocksize, overlap, grid,
                       depth: int = 0, ncomp: int = 1) -> DataFrame:
    """The library's intended END-TO-END use (reference README.md:2,
    stitch.py:113-121; SURVEY.md §3.3): a user-supplied per-tile
    kernel runs over halo'd tiles, then the results are feather-
    stitched back into a seamless field — ``da.map_overlap(fn) ∘
    stitch_blocks`` as one fused Spark lineage.

    Input tiles carry ``depth`` EXTRA halo rings per side beyond the
    stitch overlap (extent bs+2·(o+depth)) so a neighborhood kernel of
    radius ≤ depth is VALID everywhere on the bs+2o stitch extent —
    the user never sees a boundary artifact inside the feathered
    region. ``user_fn(arr, (bx,by,bz)) -> arr`` must consume the pad
    (valid-mode, shrink by depth per side); its output is shape-
    checked, trapezoid-weighted, and halo-summed all inside the ONE
    fragment-emit Python pass — the whole lifecycle costs exactly one
    Arrow crossing and one shuffle, same as a plain stitch.

    Scale: identical to stitch_blocks — the user kernel adds zero data
    movement (pad rings are read-side only; fragments still carry
    bs+2o slabs), so the 100 TB argument of the block path carries
    over unchanged."""
    bs, o, g = tuple(blocksize), tuple(overlap), tuple(grid)
    weight = _weight_fn(bs, o, g, ncomp)
    ext = tuple(bs[a] + 2 * o[a] for a in range(3))

    def pre(arr: np.ndarray, b) -> np.ndarray:
        out = np.asarray(user_fn(arr, b), dtype=np.float64)
        if out.shape[:3] != ext:
            raise ValueError(
                f"tile {b}: user_fn returned spatial shape "
                f"{out.shape[:3]}, expected {ext} (valid-mode: shrink "
                f"the input by depth={depth} per side)")
        return weight(out, b)

    return merge_overlaps(df, bs, o, g, pre=pre, ncomp=ncomp,
                          halo_pad=depth)


def local_affines_to_field(
    spark: SparkSession,
    affines: np.ndarray,          # (gx, gy, gz, 4, 4) or (gx, gy, gz, 3, 4)
    blocksize, overlap, spacing,
    shape=None,
    displacement: bool = True,
) -> DataFrame:
    """R7 (reference local_affine.py:110-139), block path: the block
    ids come from one ``spark.range`` split into
    ``min(n_blocks, defaultParallelism)`` slices and decoded to
    ``bx/by/bz``, so the blend is one stage of one Python task per slot
    with no shuffle; the whole (small) affines array is broadcast to
    every executor — mirroring ``delayed(affines)`` at
    local_affine.py:124. No inter-block exchange: the stencil reads
    coordinates, not neighbor data. Each task yields one frame per
    block, so it holds one block's field at a time whatever its block
    count. Output: one row per block, data = C-order (bs0,bs1,bs2,3)
    float64 displacement/position field; use :func:`field_to_voxels` +
    a coordinate filter for the R7 crop."""
    bs, o = tuple(blocksize), tuple(overlap)
    g = affines.shape[:3]
    sp = tuple(float(s) for s in spacing)
    bcast = spark.sparkContext.broadcast(np.asarray(affines, dtype=np.float64))

    n = g[0] * g[1] * g[2]
    slices = min(n, spark.sparkContext.defaultParallelism)
    blocks = spark.range(0, n, 1, slices).select(
        F.expr(f"id div {g[1] * g[2]}").alias("bx"),
        F.expr(f"(id div {g[2]}) % {g[1]}").alias("by"),
        F.expr(f"id % {g[2]}").alias("bz"))
    if shape is not None:
        # crop-aware block pruning (the R7 crop, local_affine.py:136):
        # blocks entirely past `shape` are never computed — the
        # fine-grained trim happens in field_to_voxels
        blocks = blocks.filter(
            (F.col("bx") * bs[0] < int(shape[0]))
            & (F.col("by") * bs[1] < int(shape[1]))
            & (F.col("bz") * bs[2] < int(shape[2])))

    def fn(batches):
        aff = bcast.value
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                b = (row.bx, row.by, row.bz)
                # physical coordinates of this block's voxels
                axes = [
                    (np.arange(b[a] * bs[a], (b[a] + 1) * bs[a], dtype=np.float64)
                     * sp[a])
                    for a in range(3)
                ]
                gx, gy, gz = np.meshgrid(*axes, indexing="ij")
                coords = np.stack([gx, gy, gz], axis=-1)
                W = [merge_axis_weights(b[a], g[a], bs[a], o[a]) for a in range(3)]
                acc = np.zeros(bs + (3,), dtype=np.float64)
                wsum = np.zeros(bs, dtype=np.float64)
                for d in product((-1, 0, 1), repeat=3):
                    nb = tuple(b[a] + d[a] for a in range(3))
                    if not all(0 <= nb[a] < g[a] for a in range(3)):
                        continue
                    sl, wv = [], []
                    skip = False
                    for a in range(3):
                        oa, opa = o[a], max(0, 2 * o[a] - 1)
                        if d[a] == 0:
                            sl.append(slice(None))
                            wv.append(W[a][oa:oa + bs[a]])
                        elif oa == 0:
                            skip = True
                            break
                        elif d[a] == -1:
                            sl.append(slice(0, oa))
                            j = np.arange(oa)
                            wv.append(W[a][oa - j])
                        else:
                            sl.append(slice(bs[a] - oa, bs[a]))
                            j = np.arange(bs[a] - oa, bs[a])
                            wv.append(W[a][2 * bs[a] + opa - oa - j])
                    if skip:
                        continue
                    w3 = (wv[0][:, None, None] * wv[1][None, :, None]
                          * wv[2][None, None, :])
                    m = aff[nb[0], nb[1], nb[2]]
                    sub = coords[tuple(sl)]
                    vec = sub @ m[:3, :3].T + m[:3, 3]
                    if displacement:
                        vec = vec - sub
                    acc[tuple(sl)] += vec * w3[..., None]
                    wsum[tuple(sl)] += w3
                # normalized partition-of-unity blend (off-by-one fix)
                field = acc / wsum[..., None]
                yield pd.DataFrame([(*b, field.tobytes())],
                                   columns=["bx", "by", "bz", "data"])

    return blocks.mapInPandas(fn, BLOCK_SCHEMA)


def field_to_voxels(df: DataFrame, blocksize, ncomp: int = 3) -> DataFrame:
    """Decode block rows into (x, y, z, c, v) voxel rows — used for
    crops, oracle comparisons, and sinks. Vectorized numpy decode per
    block (binary payload → flat coordinate/value columns)."""
    bs = tuple(blocksize)

    def fn(batches):
        gx, gy, gz = np.meshgrid(
            np.arange(bs[0]), np.arange(bs[1]), np.arange(bs[2]),
            indexing="ij")
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                vals = np.frombuffer(row.data, dtype=np.float64).reshape(
                    bs + (ncomp,))
                out = pd.DataFrame({
                    "x": np.repeat((row.bx * bs[0] + gx).ravel(), ncomp),
                    "y": np.repeat((row.by * bs[1] + gy).ravel(), ncomp),
                    "z": np.repeat((row.bz * bs[2] + gz).ravel(), ncomp),
                    "c": np.tile(np.arange(ncomp), bs[0] * bs[1] * bs[2]),
                    "v": vals.ravel(),
                })
                yield out

    return df.mapInPandas(fn, "x long, y long, z long, c int, v double")


def make_tiles(spark: SparkSession, tiles: dict) -> DataFrame:
    """Test/ingest helper: {(bx,by,bz): ndarray} → block DataFrame."""
    rows = [
        (k[0], k[1], k[2],
         bytearray(np.ascontiguousarray(v, dtype=np.float64).tobytes()))
        for k, v in tiles.items()
    ]
    return spark.createDataFrame(rows, BLOCK_SCHEMA)
