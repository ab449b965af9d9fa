"""SGT/DGF build + read pipelines as composable DataFrame transformations.

This is the Spark-first re-expression of the reference's entire reason to
exist: `/root/reference/seisdb/DSGT.py:40-196` (SGT) and `DDGF.py:40-190`
(DGF).  The reference materializes a dense ``float32[n_gll, n_step, 3,
n_para]`` RAM buffer per processor and loops; here the same semantics are a
declarative plan over long tables — no buffer, no loop, no driver collect:

    ibool long table
      -> P1 27-of-125 positional filter        (filter isin, pushdown)
      -> D1 first-occurrence dedup             (row_number window per gll_id)
      -> J1 gather                             (broadcast equi-join on cell)
      -> P3 temporal stride + existence        (semi-join against listing)
      -> R1/R2 ordered assembly + flatten      (sort_array(collect_list(struct)))
      -> A1/A2 offset/scale  E1 quantize  E2 zlib   (one Arrow-batched map)
      -> A4 start offsets                      (cumulative window per proc)
      -> E4/E5/E6 partitioned parquet + db_meta

Scale posture: the only wide shuffle is the groupBy(proc, gll_id) assembly,
keyed on the natural output key; the dimension sides (selected points, valid
steps) are broadcast; encode is embarrassingly parallel per row.  At 100 TB
each (proc, step, force) snapshot file is one input task and AQE handles the
rest — nothing below ever sees more than one point's series at once.

Determinism contract (golden-tested): float32 arithmetic end-to-end in the
encode (min/subtract/max/divide/scale in float32, truncating cast), matching
DSGT.py:138-152 bit-for-bit; series order is the canonical struct sort
(force, para, step) for SGT / (para, force, step) for DGF — the reference's
two serialization orders (DSGT.py:131-135 vs DDGF.py:128-132).

Deviations from the reference (documented in SURVEY §7):
  - constant series: reference divides by zero (DSGT.py:145 UB); we emit
    all-zero codes with scale=0.0, making decode exact (= offset).
  - recorded length is the true ``len(blob)``, not ``sys.getsizeof``
    (DSGT.py:162 includes ~33B of Python object overhead).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seisdb_spark.schemas import (
    CANONICAL_FORDER,
    DB_META_SCHEMA,
    DB_VERSION,
    ENCODING_LEVEL_DEFAULT,
    INDEX27,
    REORDER27,
    STRAIN_PARAS,
    DISP_PARAS,
)
from seisdb_spark.sources import specfem


# ---------------------------------------------------------------------------
# P1 + D1: spatial sub-sampling and first-occurrence dedup
# ---------------------------------------------------------------------------
def select_gll_points(ibool: DataFrame, points_per_element: int = 27) -> DataFrame:
    """(proc, gll_id, i_spec, i_gll): one owner cell per unique global point.

    P1: keep only the 27 corner/edge/center cells (DSEM_Utils/__init__.py:6-8)
    when points_per_element == 27; all 125 otherwise (D2 dispatcher,
    ibool_reader.py:177-194).
    D1: the reference keeps a cell iff its id exceeds a running max over the
    row-major scan (ibool_reader.py:116-173).  On conforming SPECFEM input
    (new ids appear in encounter order) that equals order-independent
    first-occurrence dedup, which is what we implement: row_number over
    (proc, gll_id) ordered by the scan key (i_spec, i_gll).  Equivalence and
    the divergence counterexample are pytest-asserted.
    """
    if points_per_element == 27:
        ibool = ibool.filter(F.col("i_gll").isin(list(INDEX27)))
    elif points_per_element not in (125, -1):
        raise ValueError("points_per_element must be 27 or 125")
    w = Window.partitionBy("proc", "gll_id").orderBy("i_spec", "i_gll")
    return (
        ibool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("proc", "gll_id", "i_spec", "i_gll")
    )


# ---------------------------------------------------------------------------
# P3 + J3: temporal stride + exists-in-all-3-forces
# ---------------------------------------------------------------------------
def valid_steps(
    spark: SparkSession,
    force_dirs: list[str],
    name_data: str,
    step0: int,
    step1: int,
    dstep: int,
) -> DataFrame:
    """(proc, step) pairs in the stride that exist in all 3 force dirs.

    The reference's DCheck_valid_step (DDBbase.py:55-84) is a driver-side
    os.path.exists loop; here it is a file-listing DataFrame (metadata only,
    content column pruned) joined against the stride sequence — the
    "present in N and E and Z" predicate is a 3-way alignment expressed as
    count(distinct force) == 3 (SURVEY §2.2 P3 / §2.3 J3).
    """
    listing = specfem.snapshot_listing(spark, force_dirs, name_data)
    # Build the stride driver-side: it is a handful of int literals, and
    # F.sequence(step0, step1-1, dstep) raises "illegal sequence boundaries"
    # at runtime when step1 <= step0, where the degenerate range should flow
    # through as empty and surface as the pipeline's explicit
    # "no valid steps" ValueError (reference: DDBbase.py:82-84).
    candidates = spark.createDataFrame(
        [(s,) for s in range(step0, step1, dstep)], "step int"
    )
    present = (
        listing.groupBy("proc", "step")
        .agg(F.countDistinct("force").alias("nf"))
        .filter(F.col("nf") == len(force_dirs))
        .select("proc", "step")
    )
    out = present.join(F.broadcast(candidates), "step", "inner").select("proc", "step")
    return out


# ---------------------------------------------------------------------------
# J1/J2 + R1 + R2: gather and ordered assembly
# ---------------------------------------------------------------------------
def _unpivot(df: DataFrame, paras: tuple[str, ...]) -> DataFrame:
    stack_args = ", ".join(f"{i}, {p}" for i, p in enumerate(paras))
    return df.selectExpr(
        "proc",
        "force",
        "step",
        *(c for c in ("i_spec", "i_gll", "gll_id") if c in df.columns),
        f"stack({len(paras)}, {stack_args}) as (para, value)",
    )


def assemble_series(
    snapshots: DataFrame,
    points: DataFrame,
    steps: DataFrame,
    kind: str = "SGT",
) -> DataFrame:
    """(proc, gll_id, i_spec, i_gll, n_values, series) — the reference's 4-D
    buffer + per-point flatten (DSGT.py:86-135) as one declarative plan.

    The gather is a broadcast equi-join (J1 on the (i_spec, i_gll) cell for
    strain, J2 on gll_id for displacement); the assembly is
    ``sort_array(collect_list(struct(...)))`` whose struct field order IS the
    serialization order: (force, para, step) for SGT — [force][para][time],
    DSGT.py:131-135 — and (para, force, step) for DGF — [para][force][time],
    DDGF.py:128-132.  collect_list alone is non-deterministic; the sort is
    the correctness requirement (SURVEY §7 risk #1).
    """
    if kind == "SGT":
        paras, sort_fields = STRAIN_PARAS, ("force", "para", "step")
        join_keys = ["proc", "i_spec", "i_gll"]
    elif kind == "DGF":
        paras, sort_fields = DISP_PARAS, ("para", "force", "step")
        join_keys = ["proc", "gll_id"]
    else:
        raise ValueError(f"kind must be SGT or DGF, got {kind}")

    long = _unpivot(snapshots, paras)
    # J1 (SGT) / J2 (DGF): the dimension side (selected points) is
    # broadcast, so the fact stream never shuffles for the gather; the
    # join attaches what the keys lack — gll_id for J1, the owner-cell
    # columns for J2's output record.
    gathered = long.join(F.broadcast(points), join_keys, "inner")
    gathered = gathered.join(F.broadcast(steps), ["proc", "step"], "left_semi")

    series = (
        gathered.groupBy("proc", "gll_id")
        .agg(
            F.first("i_spec").alias("i_spec"),
            F.first("i_gll").alias("i_gll"),
            F.transform(
                F.sort_array(F.collect_list(F.struct(*sort_fields, "value"))),
                lambda x: x["value"],
            ).alias("series"),
        )
        .withColumn("n_values", F.size("series").cast("long"))
    )
    return series


# ---------------------------------------------------------------------------
# A1 + A2 + E1 + E2 + E3: normalize, quantize, compress
# ---------------------------------------------------------------------------
_ENCODE_SCHEMA = T.StructType(
    [
        T.StructField("proc", T.IntegerType(), False),
        T.StructField("gll_id", T.IntegerType(), False),
        T.StructField("i_spec", T.IntegerType(), False),
        T.StructField("i_gll", T.IntegerType(), False),
        T.StructField("n_values", T.LongType(), False),
        T.StructField("offset", T.DoubleType(), False),
        T.StructField("scale", T.DoubleType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("blob", T.BinaryType(), False),
    ]
)


def encode_records(series: DataFrame, encoding_level: int = ENCODING_LEVEL_DEFAULT) -> DataFrame:
    """Per-point encode: A1 min-offset, A2 max-scale (zero-guarded), E1
    truncating quantize, E2 zlib, E3 true length — one Arrow-batched
    mapInPandas, float32 arithmetic matching DSGT.py:138-159 bit-for-bit.

    This is the one place Python touches row data, and it is embarrassingly
    parallel: each row is one point's full series; no state crosses rows.
    """
    if encoding_level not in (8, 16):
        raise ValueError("encoding_level must be 8 or 16")
    max_code = 2**encoding_level - 1
    code_dtype = np.uint8 if encoding_level == 8 else np.uint16

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "proc": pdf["proc"].to_numpy(np.int32),
                "gll_id": pdf["gll_id"].to_numpy(np.int32),
                "i_spec": pdf["i_spec"].to_numpy(np.int32),
                "i_gll": pdf["i_gll"].to_numpy(np.int32),
                "n_values": pdf["n_values"].to_numpy(np.int64),
            }
            offsets, scales, lengths, blobs = [], [], [], []
            for arr in pdf["series"]:
                data = np.asarray(arr, dtype=np.float32)
                offset = data.min()  # A1, float32
                data = data - offset
                scale = data.max()  # A2, float32
                if scale > 0:
                    data = data / scale
                    codes = (data * max_code).astype(code_dtype)  # E1 truncation
                else:
                    codes = np.zeros(data.size, dtype=code_dtype)
                blob = zlib.compress(codes.tobytes())  # E2
                offsets.append(float(offset))
                scales.append(float(scale))
                lengths.append(len(blob))  # E3: true byte length
                blobs.append(blob)
            out["offset"] = np.asarray(offsets, dtype=np.float64)
            out["scale"] = np.asarray(scales, dtype=np.float64)
            out["length"] = np.asarray(lengths, dtype=np.int64)
            out["blob"] = blobs
            yield pd.DataFrame(out)

    return series.mapInPandas(encode, _ENCODE_SCHEMA)


def add_start_offsets(records: DataFrame) -> DataFrame:
    """A4: byte offset of each blob in the per-proc store — a cumulative sum
    of prior lengths over the gll_id order (DSGT.py:161-170).  Parquet does
    not need offsets; kept for header parity with the reference layout."""
    w = (
        Window.partitionBy("proc")
        .orderBy("gll_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return records.withColumn("start", F.coalesce(F.sum("length").over(w), F.lit(0)))


# ---------------------------------------------------------------------------
# E4/E5/E6: partitioned sink + db_meta
# ---------------------------------------------------------------------------
def db_meta(
    spark: SparkSession,
    records: DataFrame,
    steps: DataFrame,
    *,
    network: str,
    station: str,
    kind: str,
    n_force: int,
    n_para: int,
    dt: float,
    nspec: int,
    forder: str = CANONICAL_FORDER,
) -> DataFrame:
    """The HDF5 scalar attrs (DSGT.py:186-194) as a per-proc metadata table.
    ``proc_name`` is the reference's zero-padded processor prefix
    (L4, DWidgets.py:9-11) so consumers can resolve original filenames."""
    per_proc = records.groupBy("proc").agg(F.count(F.lit(1)).alias("ngll"))
    nstep = steps.groupBy("proc").agg(F.count(F.lit(1)).alias("nstep"))
    return (
        per_proc.join(nstep, "proc", "left")
        .select(
            F.lit(network).alias("network"),
            F.lit(station).alias("station"),
            "proc",
            F.format_string("proc%06d", F.col("proc")).alias("proc_name"),
            F.col("ngll").cast("long"),
            F.col("nstep").cast("long"),
            F.lit(n_force).alias("nforce"),
            F.lit(n_para).alias("nparas"),
            F.lit(float(dt)).alias("dt"),
            F.lit(nspec).alias("nspec"),
            F.lit(kind).alias("kind"),
            F.lit(forder).alias("forder"),
            F.lit(DB_VERSION).alias("version"),
        )
    )


def _write_partitioned(
    records: DataFrame, meta: DataFrame, path: str, network: str, station: str
) -> None:
    out = records.withColumn("network", F.lit(network)).withColumn("station", F.lit(station))
    out.select(
        "network", "station", "proc", "gll_id", "i_spec", "i_gll",
        "n_values", "offset", "scale", "length", "start", "blob",
    ).write.mode("overwrite").partitionBy("network", "station").parquet(f"{path}/records")
    meta.write.mode("overwrite").partitionBy("network", "station").parquet(f"{path}/db_meta")


def write_db(records: DataFrame, meta: DataFrame, path: str, network: str, station: str) -> None:
    """E4/E5/E6: records partitioned by (network, station) — the reference's
    ``saving_dir/network/station/proc*`` directory layout (DDBbase.py:37-48)
    as Parquet partition pruning — plus the db_meta sidecar table (same
    partitioning, so appends and station-replaces stay atomic per station)."""
    _write_partitioned(records, meta, path, network, station)


def append_to_db(
    records: DataFrame, meta: DataFrame, path: str, network: str, station: str
) -> None:
    """Add — or idempotently replace — ONE station's build in an existing DB.

    Dynamic partition overwrite: only the (network, station) partitions
    present in the incoming data are rewritten; every other station's
    records and meta are untouched. This is the incremental-build workflow
    the reference lacks (its layout is write-once per run, DDBbase.py:33-53):
    at 100 TB a new station lands as one partition write, never a DB rewrite.
    """
    spark = records.sparkSession
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        _write_partitioned(records, meta, path, network, station)
    finally:
        if prior is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)


def read_db(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    return spark.read.parquet(f"{path}/records"), spark.read.parquet(f"{path}/db_meta")


# ---------------------------------------------------------------------------
# decode / read path (L2/L3 + inverse of E1/E2)
# ---------------------------------------------------------------------------
def element_gll_ids(ibool: DataFrame, points_per_element: int = 27) -> DataFrame:
    """L2/L3: per (proc, i_spec), the element's global ids in the reference's
    emission order.  For 27 points that is the x-outer/z-inner reorder
    (ibool_reader.py:82-88) — INDEX27-gather then the REORDER27 permutation,
    both literal arrays, applied JVM-side.  For 125 points, plain i_gll
    order (ibool_reader.py:37-54).  Point queries push the (proc, i_spec)
    predicate to the scan.

    DOCUMENTED DEVIATION (SURVEY §1.1): for an out-of-range element the
    reference ZERO-FILLS — ``extract_element_125`` returns
    ``np.zeros(125)`` when ``index_element >= len(ibool)``
    (ibool_reader.py:50-51) — which downstream silently gathers GLL point
    0's series 125 times.  Here the relational form returns NO ROW for a
    nonexistent (proc, i_spec): absence is an empty result, never
    fabricated ids.  Tested in
    tests/test_sgt_pipeline.py::test_element_lookup_out_of_range."""
    if points_per_element == 27:
        sub = ibool.filter(F.col("i_gll").isin(list(INDEX27)))
    elif points_per_element in (125, -1):
        sub = ibool
    else:
        raise ValueError("points_per_element must be 27 or 125")
    gathered = sub.groupBy("proc", "i_spec").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("i_gll", "gll_id"))),
            lambda x: x["gll_id"],
        ).alias("ids_scan_order")
    )
    if points_per_element != 27:
        return gathered.withColumnRenamed("ids_scan_order", "gll_ids")
    perm = [F.element_at("ids_scan_order", p + 1) for p in REORDER27]
    return gathered.select("proc", "i_spec", F.array(*perm).alias("gll_ids"))


def decode_records(
    records: DataFrame,
    n_force: int,
    n_para: int,
    kind: str = "SGT",
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
) -> DataFrame:
    """Inverse of encode+assemble: dezlib -> dequantize
    (``code/max_code*scale + offset``, the implied decode of DSGT.py:148-152)
    -> explode back to long (proc, gll_id, force, para, step_idx, value).
    Reconstruction error bound: |x̂ - x| <= scale/max_code (one LSB,
    truncating encode) — property-tested."""
    max_code = 2**encoding_level - 1
    code_dtype = np.uint8 if encoding_level == 8 else np.uint16
    out_schema = T.StructType(
        [
            T.StructField("proc", T.IntegerType(), False),
            T.StructField("gll_id", T.IntegerType(), False),
            T.StructField("force", T.IntegerType(), False),
            T.StructField("para", T.IntegerType(), False),
            T.StructField("step_idx", T.IntegerType(), False),
            T.StructField("value", T.DoubleType(), False),
        ]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for row in pdf.itertuples(index=False):
                codes = np.frombuffer(zlib.decompress(row.blob), dtype=code_dtype)
                vals = codes.astype(np.float64) / max_code * row.scale + row.offset
                n_step = codes.size // (n_force * n_para)
                if kind == "SGT":  # [force][para][time]
                    force = np.repeat(np.arange(n_force, dtype=np.int32), n_para * n_step)
                    para = np.tile(np.repeat(np.arange(n_para, dtype=np.int32), n_step), n_force)
                else:  # DGF: [para][force][time]
                    para = np.repeat(np.arange(n_para, dtype=np.int32), n_force * n_step)
                    force = np.tile(np.repeat(np.arange(n_force, dtype=np.int32), n_step), n_para)
                step_idx = np.tile(np.arange(n_step, dtype=np.int32), n_force * n_para)
                frames.append(
                    pd.DataFrame(
                        {
                            "proc": np.full(codes.size, row.proc, dtype=np.int32),
                            "gll_id": np.full(codes.size, row.gll_id, dtype=np.int32),
                            "force": force,
                            "para": para,
                            "step_idx": step_idx,
                            "value": vals,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return records.select("proc", "gll_id", "offset", "scale", "blob").mapInPandas(
        decode, out_schema
    )


# ---------------------------------------------------------------------------
# end-to-end composition (the reference's create_db)
# ---------------------------------------------------------------------------
def _create_db(
    kind: str,
    spark: SparkSession,
    model_glob: str,
    force_dirs: list[str],
    nspec: int,
    step0: int,
    step1: int,
    dstep: int,
    *,
    network: str,
    station: str,
    dt: float,
    points_per_element: int,
    encoding_level: int,
    name_data: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The create_db composition shared by :func:`sgt_build` and
    :func:`dgf_build`: ibool -> point selection -> valid steps ->
    snapshot scan -> gather/assembly -> encode -> metadata."""
    ibool = specfem.read_ibool(spark, model_glob, nspec)
    points = select_gll_points(ibool, points_per_element)
    steps = valid_steps(spark, force_dirs, name_data, step0, step1, dstep)
    # the reference raises when no step survives P3 (DDBbase.py:82-84); the
    # eager probe here is a metadata-only listing query, not a data read
    if not steps.head(1):
        raise ValueError("no valid steps: no snapshot step exists in all force dirs")
    if kind == "SGT":
        snaps = specfem.read_strain_snapshots(spark, force_dirs, nspec, name_data)
        n_para, forder = 6, "NEZ"
    else:  # displacement snapshots carry their own point count
        snaps = specfem.read_disp_snapshots(spark, force_dirs, None, name_data)
        n_para, forder = 3, "ENZ"
    series = assemble_series(snaps, points, steps, kind=kind)
    records = add_start_offsets(encode_records(series, encoding_level))
    meta = db_meta(
        spark, records, steps,
        network=network, station=station, kind=kind,
        n_force=3, n_para=n_para, dt=dt, nspec=nspec, forder=forder,
    )
    return records, meta, steps


def sgt_build(
    spark: SparkSession,
    model_glob: str,
    force_dirs: list[str],
    nspec: int,
    step0: int,
    step1: int,
    dstep: int,
    *,
    network: str = "XX",
    station: str = "STA",
    dt: float = 0.1,
    points_per_element: int = 27,
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
    name_data: str = "strain_field",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full SGT create_db (DSGT.py:40-196) as one lazy plan.

    Returns (records_with_start, db_meta, valid_steps); caller writes with
    write_db.  Nothing is collected; every stage is a DataFrame.
    """
    return _create_db(
        "SGT", spark, model_glob, force_dirs, nspec, step0, step1, dstep,
        network=network, station=station, dt=dt,
        points_per_element=points_per_element,
        encoding_level=encoding_level, name_data=name_data,
    )


def dgf_build(
    spark: SparkSession,
    model_glob: str,
    force_dirs: list[str],
    nspec: int,
    step0: int,
    step1: int,
    dstep: int,
    *,
    network: str = "XX",
    station: str = "STA",
    dt: float = 0.1,
    points_per_element: int = 27,
    encoding_level: int = ENCODING_LEVEL_DEFAULT,
    name_data: str = "disp",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The full DGF create_db (DDGF.py:40-190): displacement scan S5,
    id-gather J2, [para][force][time] flatten, same encode tail."""
    return _create_db(
        "DGF", spark, model_glob, force_dirs, nspec, step0, step1, dstep,
        network=network, station=station, dt=dt,
        points_per_element=points_per_element,
        encoding_level=encoding_level, name_data=name_data,
    )
