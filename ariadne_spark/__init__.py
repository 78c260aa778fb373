"""ariadne-spark — a PySpark-native file-level index engine for data
lakes, built from scratch with the query and data-processing
capabilities of the reference system cjfravel-dev/ariadne (see
SURVEY.md), plus large-scale training-data pipeline operators
(dedup, similarity search, text analysis, multimodal columns).
"""

from . import catalog
from .context import AriadneConf
from .index import Index
from .plans.locate import Band
from .sources.datasource import register as register_data_source
from .sql.advisor import advise_indexes
from .sql.surface import (
    disable_sql_interception,
    enable_sql_interception,
    prune_report,
    register_views,
    sql,
)


def join(df, index: Index, on, how: str = "inner"):
    """Join ``df`` (left) against an index's located data (right) —
    the Python spelling of the reference's implicit ``DataFrameOps``
    ``df.join(index, usingColumns, joinType)`` (Index.scala:1296-1323).
    """
    return index.join_from(df, on, how)


__all__ = [
    "Index",
    "Band",
    "AriadneConf",
    "catalog",
    "sql",
    "prune_report",
    "advise_indexes",
    "join",
    "register_views",
    "register_data_source",
    "enable_sql_interception",
    "disable_sql_interception",
]
__version__ = "0.1.0"
