"""Path-derivation scalar helpers — the reference's P1/P2 operators as
Spark column expressions, over the family layout ``sources/codec.py``
owns (``COMPONENTS``).

- suffix filtering of directory listings
  (SSTableDataInputFormat.scala:13-18)
- companion-file path rewrite ``-Data.db`` → ``-CompressionInfo.db`` /
  ``-Index.db`` / root name (SSTableDataRecordReader.scala:20,
  SplitSSTableDataInputFormat.scala:14-16,
  GenerateSSTableDataSplits.scala:123-126,218-225)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.codec import COMPONENT_SUFFIX, COMPONENTS


def companion_path(path: Column | str, component: str) -> Column:
    """Rewrite any ``*-<Component>.db`` path to its sibling component.

    >>> companion_path(col("path"), "CompressionInfo")
    """
    if component not in COMPONENTS:
        raise ValueError(f"unknown component {component}")
    c = F.col(path) if isinstance(path, str) else path
    return F.regexp_replace(c, COMPONENT_SUFFIX, f"-{component}.db")


def root_name(path: Column | str) -> Column:
    """Strip the component suffix: ``.../name-3-Data.db`` → ``name-3``
    (reference GenerateSSTableDataSplits.scala:218-225)."""
    c = F.col(path) if isinstance(path, str) else path
    return F.regexp_replace(F.element_at(F.split(c, "/"), -1),
                            COMPONENT_SUFFIX, "")


def data_files(df: DataFrame, path_col: str = "path",
               component: str = "Data") -> DataFrame:
    """Suffix filter over a file-listing DataFrame (e.g. from the
    ``binaryFile`` source): keep only ``*-<Component>.db``."""
    return df.filter(F.col(path_col).endswith(f"-{component}.db"))
