"""Binary-file source (SURVEY.md §2.1 S2/S3): the Spark-native
replacement for the reference's os.walk + cv2.imread
(/root/reference/trial-img-processor.py:59-62, test.py:45,63).

Yields (path, modificationTime, length, content) with predicate
pushdown on path globs — the extension filter (P3) runs in the
DataSource, before any byte is read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import size_kb

IMAGE_GLOB = "*.{jpg,jpeg,png,webp,bmp}"  # EXTENSIONS, test.py:38


def read_binary_dir(
    spark: SparkSession,
    root: str,
    *,
    glob: str | None = IMAGE_GLOB,
    recursive: bool = True,
) -> DataFrame:
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    return reader.load(root)


def with_partition_keys(files: DataFrame) -> DataFrame:
    """Parse {kode_proyek}/{minggu}/{file} out of the path — the
    reference's hierarchical layout (test.py:172-173) read back."""
    parts = F.split(F.col("path"), "/")
    return (
        files.withColumn("nama_file", F.element_at(parts, -1))
        .withColumn("minggu", F.element_at(parts, -2))
        .withColumn("kode_proyek", F.element_at(parts, -3))
        .withColumn("size_gambar_kb", size_kb(F.col("length")))
    )
