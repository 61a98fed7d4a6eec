"""Raw S3 access-log file source.

Replaces the reference's hand-rolled file index + process pool
(create_files_index cmd/export.py:31-56, pool fan-out cmd/export.py:101-124)
with Spark's distributed file listing: one task per file split, hour
pruning via ``pathGlobFilter`` (the same `{hour}*` prefix contract,
cmd/export.py:45), filename timestamp recovered with ``input_file_name()``.

Note the reference's local-mode listing ignores the hour filter entirely
(cmd/export.py:48-54, a bug per SURVEY §2.1) — we filter uniformly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Input files are named YYYY-MM-DD-HH-MM-SS-<hash> (cmd/export.py:27-28).
FILENAME_TS_FORMAT = "yyyy-MM-dd-HH-mm-ss"


def read_logs(
    spark: SparkSession,
    src: str,
    hour: str | None = None,
    with_file_info: bool = False,
) -> DataFrame:
    """Read raw log lines for one hour (or all, if ``hour`` is None).

    ``hour`` is a 'YYYY-MM-DD-HH' prefix, matching the reference's HOUR env
    contract (cmd/export.py:238-241).
    """
    reader = spark.read.format("text").option("recursiveFileLookup", "true")
    if hour:
        reader = reader.option("pathGlobFilter", f"{hour}*")
    df = reader.load(src)
    if with_file_info:
        fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
        df = df.withColumns(
            {
                "source_file": fname,
                # parse_time parity: strptime(name[0:19]) (cmd/export.py:27-28)
                "file_dt": F.to_timestamp(
                    F.substring(fname, 1, 19), FILENAME_TS_FORMAT
                ),
            }
        )
    return df

