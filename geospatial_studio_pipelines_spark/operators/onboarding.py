"""Dataset-onboarding operators (SURVEY.md §2: J6, A8, A9, T5, S3/P4/P5).

The reference's curated-upload component (``claimed_curated_upload_v2.py``)
validates and splits training datasets; the engine re-expresses each check
as a DataFrame op returning queryable results instead of log lines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTENSION_WHITELIST = ["zip", "tif", "tiff", "gpkg", "nc"]  # user_store_download_operations.py:54-63
FILENAME_DATE_RE = r".*([0-9]{4}-[0-9]{2}-[0-9]{2})"  # :92


def stem_join_check(
    data: DataFrame, labels: DataFrame, stem_col: str = "stem"
) -> tuple[DataFrame, DataFrame]:
    """J6 data↔label stem equality join: returns (matched, unmatched).
    The reference hard-fails when any stem mismatches
    (claimed_curated_upload_v2.py:763-782) — callers assert
    ``unmatched.count() == 0``."""
    matched = data.join(labels, stem_col, "inner")
    unmatched = data.join(labels, stem_col, "left_anti").select(stem_col).unionByName(
        labels.join(data, stem_col, "left_anti").select(stem_col)
    )
    return matched, unmatched


def size_consistency(images: DataFrame, top_outliers: int = 10) -> tuple[DataFrame, DataFrame]:
    """A8 image-size histogram + majority + first-N outliers
    (verify_image_sizes, claimed_curated_upload_v2.py:623-657)."""
    hist = images.groupBy("w", "h").agg(F.count("*").alias("n"))
    majority = hist.orderBy(F.col("n").desc(), "w", "h").limit(1)
    mj = majority.collect()[0]
    outliers = (
        images.filter((F.col("w") != mj["w"]) | (F.col("h") != mj["h"]))
        .orderBy("image_id")
        .limit(top_outliers)
    )
    return hist.orderBy("w", "h"), outliers


def train_test_val_split(
    df: DataFrame, weights=(0.6, 0.2, 0.2), seed: int = 0
) -> dict[str, DataFrame]:
    """T5 seeded split (reference pins random_state=0,
    claimed_curated_upload_v2.py:594; weights :743). Spark's randomSplit is
    seeded-deterministic but differs from sklearn's exact membership — the
    contract here is *our own* fixture-pinned determinism (SURVEY §2.7 T5)."""
    if abs(sum(weights) - 1.0) > 1e-9:
        raise ValueError("split weights must sum to 1")  # :573-577
    tr, te, va = df.randomSplit(list(weights), seed=seed)
    return {"train": tr, "test": te, "val": va}


def deterministic_split(df: DataFrame, key_col: str, weights=(0.6, 0.2, 0.2)) -> DataFrame:
    """Engine-preferred split: hash-bucketed on a stable key, so membership
    is a pure function of the row (reproducible across cluster sizes and
    re-runs — randomSplit's membership shifts with partitioning). Adds a
    ``split`` column; SQL-oracle-compatible (pmod(hash) is engine-specific,
    so the portable variant uses md5-derived buckets)."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 4), 16, 10).cast("long") % 1000
    )
    t1 = int(weights[0] * 1000)
    t2 = t1 + int(weights[1] * 1000)
    return df.withColumn(
        "split",
        F.when(bucket < t1, "train").when(bucket < t2, "test").otherwise("val"),
    )


def extension_filter(files: DataFrame, path_col: str = "path") -> DataFrame:
    """P5 extension whitelist + T3 junk exclusion (_MACOSX/.DS_Store)."""
    ext = F.lower(F.element_at(F.split(F.col(path_col), r"\."), -1))
    return files.filter(
        ext.isin(EXTENSION_WHITELIST)
        & ~F.col(path_col).contains("_MACOSX")
        & ~F.col(path_col).contains(".DS_Store")
    )


def with_filename_date(files: DataFrame, path_col: str = "path") -> DataFrame:
    """P4/S3 filename-date extraction: regexp date → date column; rows
    without a date get null (reference filters them,
    user_store_download_operations.py:92-97)."""
    return files.withColumn(
        "file_date",
        F.expr(f"try_to_date(regexp_extract({path_col}, '{FILENAME_DATE_RE}', 1), 'yyyy-MM-dd')"),
    )
