"""Sinks matching the reference's export formats (ref :3849-3889):
CSV, TSV, SVM-light, ARFF — plus plain parquet.

CSV/TSV use Spark's native writers (distributed).  SVM/ARFF are line
formats built with column expressions then written as text — still fully
distributed, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _flatten(df: DataFrame, features_col: str, names: list[str]) -> DataFrame:
    cols = [c for c in df.columns if c != features_col]
    return df.select(
        *cols,
        *[F.col(features_col)[i].alias(n) for i, n in enumerate(names)],
    )


def _feature_names(df: DataFrame, features_col: str,
                   names: list[str] | None) -> list[str]:
    """`names`, or f0..f{n-1} from the width of the first non-null vector."""
    if names is not None:
        return names
    col = F.col(features_col)
    first = df.select(col).where(col.isNotNull()).head()
    if first is None:
        raise ValueError("cannot infer feature names from a DataFrame "
                         "without a non-null vector; pass names=")
    return [f"f{i}" for i in range(len(first[0]))]


def write_csv(df: DataFrame, path: str, features_col: str = "features",
              names: list[str] | None = None, sep: str = ",") -> None:
    if features_col in df.columns:
        names = _feature_names(df, features_col, names)
        df = _flatten(df, features_col, names)
    df.write.mode("overwrite").option("header", True).option("sep", sep).csv(path)


def write_tsv(df: DataFrame, path: str, **kw) -> None:
    write_csv(df, path, sep="\t", **kw)


def write_svm(df: DataFrame, path: str, features_col: str = "features",
              label_col: str = "label") -> None:
    """SVM-light lines: `label idx:val ...` (ref :3865-3876, 1-based idx)."""
    line = F.concat_ws(
        "  ",
        F.col(label_col).cast("string"),
        F.concat_ws(
            "  ",
            F.filter(
                F.transform(
                    F.col(features_col),
                    lambda v, i: F.concat((i + 1).cast("string"), F.lit(":"),
                                          v.cast("string")),
                ),
                lambda s: s.isNotNull(),
            ),
        ),
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def write_arff(df: DataFrame, path: str, features_col: str = "features",
               label_col: str = "label", names: list[str] | None = None,
               relation: str = "descriptor") -> None:
    """WEKA ARFF (ref :3878-3889): header partition + data lines."""
    names = _feature_names(df, features_col, names)
    header = [f"@relation {relation}", ""]
    header += [f"@attribute {nm} numeric" for nm in names]
    labels = [str(r[0]) for r in df.select(label_col).distinct().collect()]
    header.append("@attribute play {" + ",".join(sorted(labels)) + "}")
    header.append("@data")
    spark = df.sparkSession
    hdr_df = spark.createDataFrame([(h,) for h in header], "value string").coalesce(1)
    data = df.select(
        F.concat_ws(
            ",",
            F.concat_ws(",", F.transform(F.col(features_col),
                                         lambda v: v.cast("string"))),
            F.col(label_col).cast("string"),
        ).alias("value")
    )
    hdr_df.unionAll(data).write.mode("overwrite").text(path)
