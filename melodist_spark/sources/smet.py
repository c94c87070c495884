"""SMET v1.1 (MeteoIO) reader/writer.

Reference: `data_io.py:27-104` (read), `data_io.py:228-307` (write).
SMET = a small ``[HEADER]`` key=value block + a whitespace table. The
header is tiny → parsed on the driver; the data body is read with
``spark.read.csv`` (distributed, handles multi-GB files and glob
paths). Column naming follows the reference's daily/hourly dicts.
"""

from __future__ import annotations

import collections

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from melodist_spark.util.execution import local_frame

SMET_TO_DAILY = {
    "TA": "tmean",
    "TMAX": "tmax",
    "TMIN": "tmin",
    "PSUM": "precip",
    "ISWR": "glob",
    "RH": "hum",
    "VW": "wind",
}
SMET_TO_HOURLY = {"TA": "temp", "PSUM": "precip", "ISWR": "glob", "RH": "hum", "VW": "wind"}


def read_smet_header(filename: str) -> tuple[dict, int]:
    """Parse the [HEADER] block (driver-side; it is a few lines)."""
    header: dict = collections.OrderedDict()
    in_header = False
    data_start = 0
    with open(filename) as f:
        for line_num, line in enumerate(f):
            s = line.strip()
            if s == "[HEADER]":
                in_header = True
                continue
            if s == "[DATA]":
                data_start = line_num + 1
                break
            if in_header and "=" in line:
                k, v = line.split("=", 1)
                header[k.strip()] = v.strip()
    return header, data_start


def read_smet(
    spark: SparkSession,
    filename: str,
    mode: str = "h",
    station_id: str | None = None,
) -> tuple[dict, DataFrame]:
    """Read one SMET file into a long DataFrame.

    Returns (header dict, DataFrame(station_id, ts, <met columns>)).
    ``units_multiplier`` is applied and ``-999`` mapped to null, as in
    the reference (`data_io.py:82-94`).
    """
    header, data_start = read_smet_header(filename)
    columns = header["fields"].split()
    multipliers = [float(x) for x in header["units_multiplier"].split()]

    sid = station_id or header.get("station_id", filename)

    raw = (
        spark.read.text(filename)
        .withColumn("__i", F.monotonically_increasing_id())
        .filter(F.col("__i") >= data_start)
        .drop("__i")
    )
    parts = F.split(F.trim(F.regexp_replace("value", r"\s+", " ")), " ")
    df = raw.select(
        *[parts.getItem(i).alias(c) for i, c in enumerate(columns)]
    ).filter(F.length(F.trim(F.col(columns[0]))) > 0)

    rename = SMET_TO_DAILY if mode == "d" else SMET_TO_HOURLY
    out_cols = [F.lit(sid).alias("station_id"), F.to_timestamp("timestamp").alias("ts")]
    for i, c in enumerate(columns):
        if c == "timestamp":
            continue
        v = F.col(c).cast("double")
        v = F.when(v == -999, None).otherwise(v * F.lit(multipliers[i]))
        out_cols.append(v.alias(rename.get(c, c)))
    return header, df.select(*out_cols)


def read_smet_fleet(
    spark: SparkSession,
    directory: str,
    mode: str = "h",
) -> DataFrame:
    """Distributed reader for a directory of SMET files that share one
    field list (as written by :func:`write_smet_partitioned`).

    Complements :func:`read_smet` (one file, arbitrary header): here
    ONE ``spark.read.text`` scan covers ``<directory>/*.smet``, data
    rows are separated from header lines by their leading ISO
    timestamp, and the station id comes from the file name via
    ``input_file_name`` (URL-decoded — Spark encodes the path). The
    shared field list is learned from the SAME scan (a tiny distinct
    over the two header lines), so discovery needs no driver-local
    filesystem access: the directory may live on HDFS/S3/any Hadoop
    filesystem, and a 10⁶-file fleet reads as one distributed job.
    The distinct doubles as validation — files disagreeing on the
    field list raise instead of mis-parsing columns positionally.
    """
    import os as _os

    from pyspark.errors import AnalysisException

    raw = spark.read.text(_os.path.join(directory, "*.smet")).select(
        F.input_file_name().alias("__file"), "value"
    )
    header: dict[str, str] = {}
    try:
        hdr_lines = (
            raw.filter(F.col("value").rlike(r"^(fields|units_multiplier)\s*="))
            .select(F.trim("value").alias("v"))
            .distinct()
            .collect()
        )
    except AnalysisException as e:
        raise FileNotFoundError(f"no .smet files under {directory}") from e
    for (ln,) in hdr_lines:
        k, v = ln.split("=", 1)
        k, v = k.strip(), v.strip()
        if k in header and header[k] != v:
            raise ValueError(
                f"SMET fleet files under {directory} disagree on '{k}' — "
                "read them individually with read_smet instead"
            )
        header[k] = v
    if "fields" not in header:
        raise FileNotFoundError(f"no .smet files under {directory}")
    columns = header["fields"].split()
    multipliers = [float(x) for x in header["units_multiplier"].split()]

    data = raw.filter(F.col("value").rlike(r"^\d{4}-\d{2}-\d{2}T"))
    parts = F.split(F.trim(F.regexp_replace("value", r"\s+", " ")), " ")

    rename = SMET_TO_DAILY if mode == "d" else SMET_TO_HOURLY
    out_cols = [
        F.url_decode(
            F.regexp_extract("__file", r"([^/]+)\.smet$", 1)
        ).alias("station_id"),
        F.to_timestamp(parts.getItem(0), "yyyy-MM-dd'T'HH:mm").alias("ts"),
    ]
    for i, c in enumerate(columns):
        if c == "timestamp":
            continue
        v = parts.getItem(i).cast("double")
        v = F.when(v == -999, None).otherwise(v * F.lit(multipliers[i]))
        out_cols.append(v.alias(rename.get(c, c)))
    return data.select(*out_cols)


def write_smet(
    df: DataFrame,
    filename: str,
    metadata: dict,
    nodata_value: float = -999,
    mode: str = "h",
    check_nan: bool = True,
    ts_col: str = "ts",
) -> None:
    """Write one station's frame as a SMET file with one Spark action.

    The fixed-format body (`data_io.py:301-305`: %.2f floats,
    nodata=-999, all-NaN columns dropped) is formatted on the
    executors: ``date_format`` for the timestamp and, per data column,
    ``format_string("%.2f", coalesce(c, nodata))`` with an
    ``isNotNull`` flag. Java's ``%.2f`` rounds half-up on the shortest
    decimal (0.125 → 0.13), Python's ``%`` does not (0.12), so the
    formatting must stay in Spark. One ``collect`` brings the rows to
    the driver, which orders them by ``ts`` (nulls first, as Spark's
    ascending sort does), drops the columns that are null in every row
    when ``check_nan``, and writes the single-file ASCII sink. The plan
    runs once, with no count pass and no global sort. SMET is a
    per-station format — for fleet-scale output use
    :func:`write_smet_partitioned`.
    """
    to_smet = (
        {v: k for k, v in SMET_TO_DAILY.items()}
        if mode == "d"
        else {v: k for k, v in SMET_TO_HOURLY.items()}
    )
    data_cols = [c for c in df.columns if c not in (ts_col, "station_id")]

    # literal 'T' must be quoted in Spark datetime patterns
    pattern = "yyyy-MM-dd'T'00:00" if mode == "d" else "yyyy-MM-dd'T'HH:mm"
    nodata = F.lit(float(nodata_value))
    # sort key: a timestamp orders by its instant (collected as a local
    # datetime it could step back across a DST change)
    key = F.col(ts_col)
    if dict(df.dtypes)[ts_col] == "timestamp":
        key = F.unix_micros(key)
    # row layout: key, timestamp text, then (text, non-null) per column
    cols = [key, F.date_format(ts_col, pattern)]
    for c in data_cols:
        cols += [
            F.format_string("%.2f", F.coalesce(F.col(c), nodata)),
            F.col(c).isNotNull(),
        ]
    rows = df.select(*cols).collect()
    rows.sort(key=lambda r: (r[0] is not None, r[0] if r[0] is not None else 0))

    keep = [
        i
        for i in range(len(data_cols))
        if not check_nan or any(r[3 + 2 * i] for r in rows)
    ]
    data_cols = [data_cols[i] for i in keep]

    fields = ["timestamp"] + [to_smet.get(c, c) for c in data_cols]
    metadata = dict(metadata)
    metadata["fields"] = " ".join(fields)
    metadata["units_multiplier"] = len(fields) * "1 "

    with open(filename, "w") as f:
        f.write("SMET 1.1 ASCII\n[HEADER]\n")
        for k, v in metadata.items():
            f.write(f"{k} = {v}\n")
        f.write("[DATA]\n")
        for r in rows:
            # concat_ws semantics: a null timestamp is skipped
            parts = [r[1]] if r[1] is not None else []
            parts += [r[2 + 2 * i] for i in keep]
            f.write(" ".join(parts) + "\n")


def write_smet_partitioned(
    df: DataFrame,
    out_dir: str,
    metadata_by_station: dict[str, dict] | None = None,
    nodata_value: float = -999,
    mode: str = "h",
    check_nan: bool = True,
    ts_col: str = "ts",
) -> list[str]:
    """Fleet-scale SMET sink: one ``<station_id>.smet`` per station.

    The single-file :func:`write_smet` collects rows to the driver —
    right for one station, wrong for a fleet. Here the whole fleet is
    written by ONE distributed job: header lines are unioned in as
    sort-first rows per station, the frame is repartitioned by
    station and written with ``partitionBy(station_id).text(...)``,
    so every part file leaves the executors already being a complete
    SMET file (header + sorted body). The driver's only per-station
    work is an O(1) file rename — no data ever moves through it.

    Unlike the reference's per-station writer (`data_io.py:228-307`),
    ``check_nan`` drops columns that are all-null across the WHOLE
    fleet (one agg pass), keeping every file on a common field list.

    Returns the list of written file paths.
    """
    import glob
    import os
    import shutil

    to_smet = (
        {v: k for k, v in SMET_TO_DAILY.items()}
        if mode == "d"
        else {v: k for k, v in SMET_TO_HOURLY.items()}
    )
    data_cols = [c for c in df.columns if c not in (ts_col, "station_id")]

    if check_nan:
        counts = df.select(
            *[F.count(F.col(c)).alias(c) for c in data_cols]
        ).collect()[0]
        data_cols = [c for c in data_cols if counts[c] > 0]

    pattern = "yyyy-MM-dd'T'00:00" if mode == "d" else "yyyy-MM-dd'T'HH:mm"
    line = F.concat_ws(
        " ",
        F.date_format(ts_col, pattern),
        *[
            F.format_string("%.2f", F.coalesce(F.col(c), F.lit(float(nodata_value))))
            for c in data_cols
        ],
    )
    body = df.select(
        F.col("station_id").cast("string").alias("station_id"),
        F.lit(1).alias("__sect"),
        F.col(ts_col).cast("string").alias("__ord"),
        line.alias("value"),
    )

    fields = ["timestamp"] + [to_smet.get(c, c) for c in data_cols]
    sids = [r[0] for r in df.select("station_id").distinct().collect()]
    header_rows = []
    for sid in sids:
        md = dict((metadata_by_station or {}).get(sid, {}))
        md.setdefault("station_id", sid)
        md["fields"] = " ".join(fields)
        md["units_multiplier"] = len(fields) * "1 "
        lines = ["SMET 1.1 ASCII", "[HEADER]"]
        lines += [f"{k} = {v}" for k, v in md.items()]
        lines.append("[DATA]")
        header_rows += [
            {"station_id": str(sid), "__sect": 0, "__ord": f"{i:06d}", "value": text}
            for i, text in enumerate(lines)
        ]
    headers = local_frame(
        df.sparkSession,
        header_rows,
        StructType(
            [
                StructField("station_id", StringType()),
                StructField("__sect", IntegerType()),
                StructField("__ord", StringType()),
                StructField("value", StringType()),
            ]
        ),
    )

    tmp = os.path.join(out_dir, "__smet_parts")
    (
        body.unionByName(headers)
        .repartition("station_id")
        .sortWithinPartitions("station_id", "__sect", "__ord")
        .select("station_id", "value")
        .write.mode("overwrite")
        .partitionBy("station_id")
        .text(tmp)
    )

    written = []
    for sid in sids:
        parts = sorted(glob.glob(os.path.join(tmp, f"station_id={sid}", "part-*")))
        dest = os.path.join(out_dir, f"{sid}.smet")
        if len(parts) == 1:
            shutil.move(parts[0], dest)
        else:  # defensive: concat if the writer ever splits a station
            with open(dest, "w") as out:
                for p in parts:
                    with open(p) as src:
                        shutil.copyfileobj(src, out)
        written.append(dest)
    shutil.rmtree(tmp, ignore_errors=True)
    return written
