"""S1/S2 — Weather-Underground-style quirky CSV source (SURVEY.md §2.1).

Reference behavior (``/root/reference/etl_meteo.py:149-178``): loop over
stations, and per station over a static ``{date: filename}`` manifest,
per file ``pd.read_csv(header=0, skiprows=[2], encoding='latin-1',
sep=';')``, strip whitespace from header names, attach the manifest date
and the station id as columns, per-file fault isolation.

Spark-first redesign — one scan for every station, not a loop:

* ALL manifest files of ALL stations go into a single
  ``spark.read.csv(paths)`` — one header job and one scan branch however
  many stations there are, with file-split parallelism instead of a
  sequential driver loop.  Every file shares the first file's header
  (the reference's stations all carry the same Weather Underground
  export layout).
* The observation date and the station id (out-of-band in the
  reference: the manifest keys) are recovered by ONE join of
  ``input_file_name()`` against a small manifest DataFrame — broadcast,
  so it costs nothing.  Both sides of that join are the file's
  qualified Hadoop URI, the form ``input_file_name()`` reports (a space
  arrives as ``%20``).  A path listed under two stations (or two dates)
  matches two manifest rows, so its rows appear once per listing, as
  the reference's loop would read the file twice.
* ``skiprows=[2]`` (a positional junk/units row) has no Spark
  equivalent and positional row addressing doesn't scale anyway; we
  drop it by *content*: the junk row's Time cell is not a valid
  time-of-day.  This is deterministic and distributed.
* per-file fault isolation → three layers, mirroring the reference's
  per-file ``try/except`` (``etl_meteo.py:173-176``) without a loop:
  manifest paths that don't exist are pruned up front via the Hadoop
  FileSystem API (``ignoreMissingFiles`` only covers files that vanish
  *between* listing and read — a path absent at analysis time raises
  PATH_NOT_FOUND); ``ignoreMissingFiles`` covers the race; PERMISSIVE
  mode plus the content-based Time filter absorb structurally corrupt
  files (their rows parse as garbage and fail the Time predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _existing_paths(spark: SparkSession, paths: list[str]) -> dict[str, str]:
    """``{path: qualified URI}`` for the manifest paths that exist,
    checked through the Hadoop FileSystem API so any scheme the cluster
    reads (file:, hdfs:, s3a:) works.  The URI is the form
    ``input_file_name()`` reports for the file.  The manifest is a small
    hand-maintained dict (the unit the reference iterates), so a
    driver-side loop is the right cost here."""
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    jvm = sc._jvm
    out = {}
    for p in paths:
        jpath = jvm.org.apache.hadoop.fs.Path(p)
        try:
            fs = jpath.getFileSystem(hconf)
            if fs.exists(jpath):
                out[p] = fs.makeQualified(jpath).toUri().toString()
        except Exception:  # noqa: BLE001 — unreadable scheme ⇒ skip file
            pass
    return out


#: matches "12:00 AM", "3:05 pm", "23:45", "07:00:00" — anything the
#: reference's Time column legitimately contains; the skipped units row
#: (e.g. "°F;%;in;mph") does not match.
_TIME_RE = r"^\s*\d{1,2}:\d{2}(:\d{2})?\s*([AaPp][Mm])?\s*$"


def read_weather_csv(
    spark: SparkSession,
    manifests: dict[str, dict[str, str]],
    source: str = "Weather Underground",
) -> DataFrame:
    """Read ``{station_id: {date_str: csv_path}}`` into one raw DataFrame.

    Returns the raw (string-typed) columns plus ``Date`` and
    ``id_station`` (from the manifest) and a ``source_donnees`` literal —
    the cleaning/conversion step is a separate pure transform
    (:func:`projet_meteo_etl_spark.pipeline.clean_weather_csv`).
    """
    listed = [
        (station_id, day, path)
        for station_id, manifest in manifests.items()
        for day, path in manifest.items()
    ]
    uris = _existing_paths(spark, list(dict.fromkeys(p for _, _, p in listed)))
    if not uris:
        # every manifest file is absent: the reference's loop would end
        # with an empty frame, not an error — match that.  The empty
        # frame must carry the full raw schema clean_weather_csv
        # selects, or the downstream plan fails to resolve.
        return spark.createDataFrame(
            [],
            "Date string, Time string, Temperature string, Humidity string, "
            "Pressure string, Speed string, `Precip. Accum.` string, "
            "id_station string, source_donnees string",
        )
    raw = (
        spark.read.option("sep", ";")
        .option("encoding", "ISO-8859-1")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("ignoreMissingFiles", True)
        .csv(list(uris))
    )
    # header names may carry stray whitespace (reference strips at :159)
    raw = raw.toDF(*[c.strip() for c in raw.columns])

    # manifest join: file URI → (observation date, station) — replaces
    # the reference's df.name attribute and its per-station loop
    manifest_df = spark.createDataFrame(
        [(uris[p], d, s) for s, d, p in listed if p in uris],
        "file_uri string, Date string, id_station string",
    )
    joined = (
        raw.withColumn("file_uri", F.input_file_name())
        .join(F.broadcast(manifest_df), "file_uri", "left")
        .drop("file_uri")
    )

    # content-based replacement for skiprows=[2]: drop the units row
    joined = joined.filter(F.col("Time").rlike(_TIME_RE))

    return joined.withColumn("source_donnees", F.lit(source))
